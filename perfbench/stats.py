"""Arithmetic of the benchmark: percentiles, self time per layer, and the
open-loop freshness, backlog and saturation accounting of `live_feed`.
Pure functions over plain lists and dicts, tested in tests/test_stats.py.
"""
import bisect
import math


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between
    closest ranks (numpy's default); None for no values."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per layer: each span's duration minus the part of its
    interval covered by its child spans, summed by layer. `spans` are
    dicts with id, parent, layer, t0, t1."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        own = (s["t1"] - s["t0"]) - covered(children.get(s["id"], []), s["t0"], s["t1"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, own)
    return out


def absorbed_at(batches, file_tweets):
    """(end time, files absorbed so far) after each batch, in end order:
    files are published one at a time and the file source lists whole
    directories, so every batch absorbs a prefix of the published files
    and cumulative rows / rows-per-file counts them."""
    out = []
    rows = 0
    for b in sorted(batches, key=lambda b: b["end"]):
        rows += b["rows"]
        out.append((b["end"], rows // file_tweets))
    return out


def freshness(files, batches, file_tweets):
    """Per published file (in publish order), the time from when it was
    due to the end of the batch that absorbed it; None if none did."""
    steps = absorbed_at(batches, file_tweets)
    ends = [e for e, _ in steps]
    counts = [c for _, c in steps]
    out = []
    for i, f in enumerate(files):
        k = bisect.bisect_left(counts, i + 1)
        out.append(ends[k] - f["due"] if k < len(ends) else None)
    return out


def backlog(files, batches, file_tweets, t):
    """Files published by time t that no batch ended by t had absorbed."""
    published = sum(1 for f in files if f["end"] <= t)
    absorbed = 0
    for end, count in absorbed_at(batches, file_tweets):
        if end <= t:
            absorbed = count
    return max(0, published - absorbed)


def saturated_rate(batches, t0):
    """Tweets absorbed per second while the stream ran saturated: batches
    with rows that started at or after t0 (when publishing outran the
    stream), except the first, which began before a backlog had formed,
    through the batch that drained the backlog. None with fewer than two
    such batches."""
    bs = sorted((b for b in batches if b["start"] >= t0 and b["rows"] > 0),
                key=lambda b: b["start"])[1:]
    if not bs:
        return None
    span = max(b["end"] for b in bs) - bs[0]["start"]
    return sum(b["rows"] for b in bs) * 1000.0 / span if span > 0 else None


def saturated_backlogs(files, batches, file_tweets, t0):
    """Backlog, in files, at the end of every batch with rows that started
    at or after t0 and ended before the last file was published, and at
    the last publish itself. All must be above 0 for `saturated_rate` to
    measure the stream and not the generator: a 0 means the stream had
    caught up with publishing and waited for files."""
    last = max(f["end"] for f in files)
    ends = [b["end"] for b in batches
            if b["start"] >= t0 and b["rows"] > 0 and b["end"] < last]
    return [backlog(files, batches, file_tweets, t) for t in sorted(ends) + [last]]
