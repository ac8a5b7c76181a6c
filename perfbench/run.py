#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the harness
(perfbench/build.py), runs the workload in one JVM at local[nproc] on
inputs generated from the seed, checks every answer, prints a
human-readable summary on stderr and, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones (see perfbench/METRICS.md). Metric names, units and the
workload names come from BENCHMARK.json. Everything it writes goes under
.bench_build/ and the per-run work directory is removed on exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

LAYERS = ["ingest", "sources", "plans", "queries", "sched", "streaming", "dedup"]


def load_spec():
    """BENCHMARK.json: workload names and each metric's unit."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([w["name"] for w in spec["workloads"]],
            {m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv, workloads):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    return p.parse_args(argv)


def run_jvm(args, classpath, work):
    raw = os.path.join(work, "raw.json")
    log = os.path.join(work, "jvm.log")
    # C1 only: a fresh JVM under C2 keeps speeding up for ~30 s (passes
    # 3.0 s -> 1.7 s), longer than a run can afford, so short windows
    # would sample a moving warm-up curve; C1 code is steady right after
    # the warm-up pass, so runs of different commits compare like with like.
    # Serial GC: G1's concurrent GC threads compete with the task threads
    # for the cores; on a 4-vCPU VM, across five interleaved seeds, the
    # IQR/median of pass time fell from 0.26 to 0.07 (census_batch) and
    # from 0.26 to 0.09 (curate)
    cmd = (["java", "-Xmx2g", "-Xss8m", "-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC",
            "-XX:-UsePerfData",
            "-Dlog4j2.configurationFile=perfbench/log4j2.properties",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", raw, "--cores", str(os.cpu_count() or 1)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also on SIGTERM or ^C: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(raw):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"run: the workload process failed ({code})")
    with open(raw) as f:
        return json.load(f)


def check_curate(raw):
    """Compares the first pass's rows of each oracle-checked dedup call
    with the module's own DuckDB oracle over the same parquet files.
    Returns the failure messages (empty when all match)."""
    import duckdb
    oracle = raw["extra"]["oracle"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{oracle['documents']}/*.parquet')")
    bad = []
    for name, check in oracle["checks"].items():
        want = [list(r) for r in con.execute(check["sql"]).fetchall()]
        if want != check["rows"]:
            bad.append(f"{name}: {len(check['rows'])} rows differ from the oracle's {len(want)}")
    con.close()
    return bad


def live_summary(raw):
    """Freshness of the fixed-rate files, the saturated capacity and the
    generator's lateness. Exits when the stream kept up with the
    saturation phase: its rate would then be the offered one."""
    live = raw["extra"]["live"]
    files = live["files"]
    fresh = stats.freshness(files, live["batches"], live["file_tweets"])
    fixed = [f for f, x in zip(fresh, files) if x["phase"] == 0]
    sat = live["phases"][1]
    capacity = stats.saturated_rate(live["batches"], sat["t0"])
    backlogs = stats.saturated_backlogs(files, live["batches"], live["file_tweets"], sat["t0"])
    late = [f["start"] - f["due"] for f in files if f["phase"] >= 0]
    sat_files = [f for f in files if f["phase"] == 1]
    offered = (len(sat_files) * live["file_tweets"] * 1000.0
               / (max(f["end"] for f in sat_files) - sat["t0"]))
    print(f"  saturation: offered {sat['rate']} tweets/s, published {offered:.0f} tweets/s, "
          f"absorbed {capacity or 0:.0f} tweets/s; backlog at saturated batch ends "
          f"{min(backlogs)}..{max(backlogs)} files; generator lateness p90 "
          f"{stats.percentile(late, 90):.1f} ms", file=sys.stderr)
    if min(backlogs) == 0:
        raise SystemExit(f"run: live_feed: the stream caught up with the {sat['rate']} "
                         "tweets/s saturation phase, so its rate is the offered one, not "
                         "its capacity; raise Live.SaturationRate")
    return {"fresh": fresh, "fixed": fixed, "capacity": capacity, "late": late}


def end_to_end(raw, live):
    w = raw["workload"]
    ops = [o for o in raw["ops"] if not o["traced"]]
    if w == "live_feed":
        lat = [f for f in live["fixed"] if f is not None]
        rate = live["capacity"]
    else:
        lat = [o["ms"] for o in ops]
        span_s = (max(o["t0"] + o["ms"] for o in ops) - min(o["t0"] for o in ops)) / 1e3
        per_op = raw["extra"]["input_tweets" if w == "census_batch" else "input_docs"]
        rate = len(ops) * per_op / span_s
    return {
        "setup_s": stats.median(raw["setup_s"]),
        "peak_heap_mb": raw["peak_heap_mb"],
        "op_p50_ms": stats.percentile(lat, 50),
        "op_p90_ms": stats.percentile(lat, 90),
        "rate_per_s": rate,
    }, len(lat)


def per_layer(raw, live, names):
    m = {k: 0.0 for k in names}
    extra = raw["extra"]
    for k, v in extra.items():
        if k in m and isinstance(v, (int, float)):
            m[k] = float(v)
    if extra.get("gen_s"):
        m["ingest.gen_s"] = stats.median(extra["gen_s"])
    probe = extra.get("emoji_probe")
    if probe:
        base = stats.median(probe["base"])
        for k in ("extract", "cluster", "quirk"):
            m[f"emoji.{k}_ms"] = stats.median(probe[k]) - base
    spans = raw["spans"]
    traced_ops = [o for o in raw["ops"] if o["traced"]]
    n_ops = max(1, len(traced_ops))
    by_name = {}
    for s in spans:
        by_name.setdefault((s["layer"], s["name"]), []).append(s["t1"] - s["t0"])
    calls = raw["calls"]
    n_calls = max(1, len([s for s in spans if s["name"] == "build"]))

    m["sources.infer_ms"] = sum(by_name.get(("sources", "job"), [])) / n_calls
    sp = raw["spark"]
    m["sources.input_bytes"] = sp["input_bytes"] / n_ops
    m["sources.input_rows"] = sp["input_rows"] / n_ops
    for phase in ("analysis", "optimization", "planning"):
        m[f"plans.{phase}_ms"] = stats.median([c[f"{phase}_ms"] for c in calls]) or 0.0
    execs = [d for (layer, name), ds in by_name.items() if name == "exec" for d in ds]
    m["queries.exec_ms"] = stats.median(execs) or 0.0
    for key in ("shuffle_bytes", "shuffle_rows", "spill_bytes", "task_cpu_ms", "gc_ms",
                "jobs", "tasks"):
        m[f"queries.{key}"] = sp[key] / n_ops
    results = sum(c["result_rows"] for c in calls)
    m["queries.rows_examined_per_result"] = sp["input_rows"] / results if results else 0.0
    m["sched.wait_ms"] = (sum(raw["sched_waits_ms"]) / len(raw["sched_waits_ms"])
                          if raw["sched_waits_ms"] else 0.0)
    if raw["busy_window_ms"]:
        m["sched.busy_share"] = raw["busy_ms"] / (raw["busy_window_ms"] * raw["cores"])
    for name, key in [("components", "dedup.components_ms"), ("minhashLsh", "dedup.lsh_ms"),
                      ("curationFunnel", "dedup.curation_ms"),
                      ("pretrainFunnel", "dedup.pretrain_ms")]:
        m[key] = stats.median(by_name.get(("dedup", name), [])) or 0.0

    selfs = stats.self_times(spans)
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = selfs.get(layer, 0.0) / n_ops
    m["bench.self_ms"] = selfs.get("op", 0.0) / n_ops
    op_ms = sum(o["ms"] for o in traced_ops)
    inner = sum(d for (layer, name), ds in by_name.items()
                if name in ("build", "plan", "exec") for d in ds)
    m["trace.span_coverage"] = inner / op_ms if op_ms else 0.0
    untraced = [o["ms"] for o in raw["ops"] if not o["traced"]]
    if traced_ops and untraced:
        m["trace.overhead_ms"] = stats.median([o["ms"] for o in traced_ops]) - stats.median(untraced)

    if live is not None:
        lv = extra["live"]
        tb = [b for b in lv["batches"] if b["traced"]]
        data = [b for b in tb if b["rows"] > 0]

        def med(key):
            return stats.median([b["durations"].get(key, 0.0) for b in tb]) or 0.0
        m["streaming.trigger_ms"] = med("triggerExecution")
        m["streaming.planning_ms"] = med("queryPlanning")
        m["streaming.latest_offset_ms"] = med("latestOffset")
        m["streaming.wal_commit_ms"] = med("walCommit")
        m["streaming.commit_offsets_ms"] = med("commitOffsets")
        m["streaming.add_batch_ms"] = med("addBatch")
        m["streaming.state_commit_ms"] = stats.median([b["state_commit_ms"] for b in tb]) or 0.0
        m["streaming.rows_per_trigger"] = (sum(b["rows"] for b in data) / len(data)) if data else 0.0
        m["streaming.backlog_files"] = stats.median([
            stats.backlog(lv["files"], lv["batches"], lv["file_tweets"], b["end"]) for b in tb]) or 0.0
        if tb:
            m["streaming.state_rows"] = tb[-1]["state_rows"]
            m["streaming.state_mem_bytes"] = tb[-1]["state_mem_bytes"]
            m["streaming.empty_batch_share"] = 1 - len(data) / len(tb)
        m["streaming.batches"] = len(tb)
        m["ingest.late_ms"] = stats.percentile(live["late"], 90) or 0.0
        m["streaming.self_ms"] = selfs.get("streaming", 0.0) / max(1, len(tb))
        m["ingest.self_ms"] = selfs.get("ingest", 0.0) / max(1, len(tb))
        fresh = [(f, x) for f, x in zip(live["fresh"], lv["files"])
                 if x["phase"] == 0 and f is not None]
        tr = [f for f, x in fresh if x["due"] >= lv["trace_at"]]
        un = [f for f, x in fresh if x["due"] < lv["trace_at"]]
        if tr and un:
            m["trace.overhead_ms"] = stats.median(tr) - stats.median(un)
    return m


def summarize(raw, e2e, n_lat):
    """This workload's figures under their workload-specific names
    (census_s, fresh_p50_ms, live_max_rate, ...), for people."""
    w = raw["workload"]
    lines = [f"workload {w} seed {raw['seed']}: attempted {raw['attempted']}, "
             f"failed {raw['failed']}, fail_ratio {raw['failed'] / max(1, raw['attempted']):.4f}",
             f"  setup_s {e2e['setup_s']:.3f} s (median of {len(raw['setup_s'])}), "
             f"peak_heap_mb {e2e['peak_heap_mb']:.1f} MB"]
    if w == "census_batch":
        lines.append(f"  census_s {e2e['op_p50_ms'] / 1e3:.3f} s (median of {n_lat} passes, "
                     f"{raw['extra']['input_tweets']} tweets)")
    elif w == "live_feed":
        lines.append(f"  fresh_p50_ms {e2e['op_p50_ms']:.1f} ms, fresh_p90_ms "
                     f"{e2e['op_p90_ms']:.1f} ms ({n_lat} files at {raw['extra']['live']['phases'][0]['rate']}"
                     f" tweets/s), live_max_rate {e2e['rate_per_s']:.0f} tweets/s (saturated)")
    elif w == "curate":
        lines.append(f"  curate_s {e2e['op_p50_ms'] / 1e3:.3f} s (median of {n_lat} passes, "
                     f"{raw['extra']['input_docs']} docs)")
    for e in raw["errors"]:
        lines.append(f"  error: {e}")
    return "\n".join(lines)


def main(argv):
    workloads, e2e_units, layer_units = load_spec()
    args = parse_args(argv, workloads)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))
    classpath = build.build()
    work = os.path.abspath(os.path.join(build.BUILD, "work", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(args, classpath, work)
        failed = raw["failed"]
        if args.workload == "curate":
            bad = check_curate(raw)
            if bad:
                raw["errors"] += bad
                failed = raw["attempted"]
        raw["failed"] = failed
        live = live_summary(raw) if args.workload == "live_feed" else None
        e2e, n_lat = end_to_end(raw, live)
        missing = [k for k, v in e2e.items() if v is None]
        if missing:
            raise SystemExit(f"run: nothing measured for {', '.join(missing)}")
        print(summarize(raw, e2e, n_lat), file=sys.stderr)
        if args.trace:
            values, units = per_layer(raw, live, layer_units), layer_units
        else:
            values, units = e2e, e2e_units
        unknown = sorted(set(values) - set(units))
        if unknown:
            raise SystemExit(f"run: measured metrics missing from BENCHMARK.json: {unknown}")
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        result = {"correct": failed == 0, "attempted": raw["attempted"],
                  "failed": failed, "metrics": metrics}
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
