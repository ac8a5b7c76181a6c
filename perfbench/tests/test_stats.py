"""Tests of the benchmark's arithmetic (perfbench/stats.py).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


def span(id, parent, layer, t0, t1):
    return {"id": id, "parent": parent, "layer": layer, "t0": t0, "t1": t1}


def batch(start, end, rows):
    return {"start": start, "end": end, "rows": rows}


def published(*ends, due=None):
    return [{"due": (due[i] if due else e), "end": e} for i, e in enumerate(ends)]


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(stats.percentile(range(1, 11), 90), 9.1)
        self.assertEqual(stats.percentile([10, 0, 5], 0), 0)
        self.assertEqual(stats.percentile([10, 0, 5], 100), 10)

    def test_single_value_and_empty(self):
        self.assertEqual(stats.percentile([7.5], 90), 7.5)
        self.assertIsNone(stats.percentile([], 50))

    def test_median_agrees_with_statistics(self):
        xs = [3.2, 1.1, 9.7, 4.4, 4.5, 0.2]
        self.assertAlmostEqual(stats.median(xs), statistics.median(xs))


class SelfTimeTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(stats.covered([(0, 4), (2, 6), (8, 9)], 1, 8.5), 5.5)
        self.assertEqual(stats.covered([], 0, 10), 0)
        self.assertEqual(stats.covered([(11, 12)], 0, 10), 0)

    def test_parent_keeps_what_children_do_not_cover(self):
        spans = [
            span(1, 0, "op", 0, 100),
            span(2, 1, "plans", 0, 30),        # build
            span(3, 2, "sources", 5, 25),      # inference job inside build
            span(4, 1, "queries", 40, 100),    # exec
            span(5, 4, "queries", 45, 95),     # job
            span(6, 5, "sched", 45, 50),       # stage wait inside the job
        ]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs["op"], 10)          # 30..40 is nobody's
        self.assertEqual(selfs["plans"], 10)       # 30 - 20 of inference
        self.assertEqual(selfs["sources"], 20)
        self.assertEqual(selfs["queries"], 10 + 45)
        self.assertEqual(selfs["sched"], 5)
        self.assertEqual(sum(selfs.values()), 100)  # self times tile the root

    def test_concurrent_children_count_once(self):
        spans = [span(1, 0, "op", 0, 10), span(2, 1, "queries", 0, 6),
                 span(3, 1, "queries", 2, 8)]
        self.assertEqual(stats.self_times(spans)["op"], 2)


class LiveTest(unittest.TestCase):
    FT = 1000

    def test_freshness_from_due_time_to_absorbing_batch_end(self):
        files = published(10, 20, 30, due=[5, 15, 25])
        batches = [batch(12, 40, 1000), batch(40, 70, 2000)]
        self.assertEqual(stats.freshness(files, batches, self.FT), [35, 55, 45])

    def test_unabsorbed_file_has_no_freshness(self):
        files = published(10, 20)
        self.assertEqual(stats.freshness(files, [batch(0, 15, 1000)], self.FT), [5, None])

    def test_empty_batches_absorb_nothing(self):
        files = published(10)
        batches = [batch(0, 5, 0), batch(5, 9, 0), batch(11, 30, 1000)]
        self.assertEqual(stats.freshness(files, batches, self.FT), [20])

    def test_backlog_counts_published_not_yet_absorbed(self):
        files = published(10, 20, 30, 40)
        batches = [batch(12, 25, 1000), batch(25, 50, 2000)]
        self.assertEqual(stats.backlog(files, batches, self.FT, 5), 0)
        self.assertEqual(stats.backlog(files, batches, self.FT, 22), 2)
        self.assertEqual(stats.backlog(files, batches, self.FT, 26), 1)
        self.assertEqual(stats.backlog(files, batches, self.FT, 45), 3)
        self.assertEqual(stats.backlog(files, batches, self.FT, 50), 1)

    def test_saturated_rate_skips_the_first_batch_and_spans_the_drain(self):
        batches = [batch(0, 90, 500),          # before saturation
                   batch(100, 150, 1000),      # first saturated batch: skipped
                   batch(150, 400, 5000),
                   batch(400, 650, 5000),
                   batch(650, 700, 0)]         # empty: ignored
        self.assertAlmostEqual(stats.saturated_rate(batches, 100), 10000 * 1000.0 / 500)

    def test_saturated_backlogs_at_batch_ends_and_last_publish(self):
        files = published(10, 20, 30, 40, 50, 60)
        batches = [batch(0, 15, 1000),          # before saturation: ignored
                   batch(25, 35, 1000),         # absorbs 20; 30 waits
                   batch(35, 55, 2000),         # absorbs 30, 40; 50 waits
                   batch(55, 70, 2000),         # ends after the last publish
                   batch(70, 80, 0)]            # empty: ignored
        # 50 and 60 wait at the last publish
        self.assertEqual(stats.saturated_backlogs(files, batches, self.FT, 20), [1, 1, 2])

    def test_saturated_backlogs_show_a_stream_that_caught_up(self):
        files = published(10, 20, 30)
        batches = [batch(21, 25, 2000),         # absorbs 10 and 20: backlog 0
                   batch(25, 28, 0),            # the stream waits for files
                   batch(31, 40, 1000)]
        self.assertEqual(min(stats.saturated_backlogs(files, batches, self.FT, 12)), 0)

    def test_saturated_rate_needs_two_batches(self):
        self.assertIsNone(stats.saturated_rate([batch(100, 150, 1000)], 100))
        self.assertIsNone(stats.saturated_rate([], 0))


if __name__ == "__main__":
    unittest.main()
