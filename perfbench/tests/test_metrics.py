"""Tests of the benchmark's arithmetic (no Spark needed).

Run from the root of a checkout: ``python3 -m unittest discover perfbench/tests``
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # 19 samples: p50 leaves 9 beyond -> no tail at all
        self.assertIsNone(M.tail(list(range(19))))
        # 20 samples: p50 leaves exactly 10 beyond
        self.assertEqual(M.tail(list(range(1, 21))), (50.0, 10, 20))

    def test_picks_highest_qualifying_percentile(self):
        xs = list(range(1, 101))        # 100 samples
        self.assertEqual(M.tail(xs), (90.0, 90, 100))  # p95 leaves 5
        xs = list(range(1, 1001))       # 1000 samples
        self.assertEqual(M.tail(xs), (99.0, 990, 1000))  # p99.9 leaves 1

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 8        # 40 samples -> p75 leaves 10
        self.assertEqual(M.tail(xs), (75.0, 4, 40))


class SelfTime(unittest.TestCase):
    def span(self, i, s, e, parent=None):
        return {"id": i, "start_us": s, "end_us": e, "parent": parent}

    def test_nested_spans(self):
        spans = [self.span(1, 0, 100), self.span(2, 10, 40, 1),
                 self.span(3, 50, 70, 1), self.span(4, 20, 30, 2)]
        st = M.self_times(spans)
        self.assertEqual(st[1], 100 - 30 - 20)
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 10)

    def test_overlapping_children_counted_once(self):
        spans = [self.span(1, 0, 100), self.span(2, 10, 60, 1),
                 self.span(3, 40, 80, 1)]
        self.assertEqual(M.self_times(spans)[1], 100 - 70)


class DriverGap(unittest.TestCase):
    def test_overlapping_jobs(self):
        jobs = [(10, 30), (20, 40), (60, 70)]
        self.assertEqual(M.union_length(jobs), 40)
        self.assertEqual(M.driver_gap((0, 100), jobs), 60)

    def test_jobs_clipped_to_wall(self):
        self.assertEqual(M.driver_gap((0, 100), [(-50, 20), (90, 150)]), 70)

    def test_no_jobs(self):
        self.assertEqual(M.driver_gap((5, 15), []), 10)


class JobAttribution(unittest.TestCase):
    op = {"start_us": 10_000_000, "end_us": 20_000_000,
          "group": "graft-watchdog-increment_day13"}

    def job(self, group, start_ms):
        return {"group": group, "start_ms": start_ms}

    def test_engine_groups_in_window_count(self):
        # a streaming query's micro-batch jobs carry its run id as group
        stream = self.job("5f0c1d2e-run-id", 12_000)
        nogroup = self.job("", 19_000)
        own = self.job("graft-watchdog-increment_day13", 15_000)
        self.assertEqual(M.jobs_of(self.op, [stream, nogroup, own]),
                         [stream, nogroup, own])

    def test_other_operations_and_windows_excluded(self):
        jobs = [self.job("graft-watchdog-gold_job", 15_000),  # another op
                self.job("graft-watchdog-increment_day13", 25_000),  # later
                self.job("5f0c1d2e-run-id", 9_000)]          # before
        self.assertEqual(M.jobs_of(self.op, jobs), [])

    def test_same_group_in_another_pass_excluded(self):
        # recsys passes reuse a query's Watchdog group; the window splits them
        op = dict(self.op, group="graft-watchdog-q82_pagerank")
        p1 = self.job("graft-watchdog-q82_pagerank", 11_000)
        p2 = self.job("graft-watchdog-q82_pagerank", 31_000)
        self.assertEqual(M.jobs_of(op, [p1, p2]), [p1])


class Ladder(unittest.TestCase):
    def test_backlog_growth(self):
        flat = [(t / 10, 50 + (t % 3)) for t in range(20)]
        self.assertFalse(M.backlog_growing(flat, rate=1000))
        growing = [(t / 10, 600 * t / 10) for t in range(20)]  # +600/s
        self.assertTrue(M.backlog_growing(growing, rate=1000))
        self.assertFalse(M.backlog_growing(growing, rate=2000))

    def test_too_few_commits_means_behind(self):
        self.assertTrue(M.backlog_growing([(1.0, 10)], rate=100))

    def test_max_rate_stops_at_first_failure(self):
        rungs = [(250, 80.0, False), (500, 90.0, False),
                 (1000, 2000.0, False), (2000, 100.0, False)]
        self.assertEqual(M.max_rate(rungs, limit_ms=1000), 500)
        rungs = [(250, 80.0, False), (500, 90.0, True)]
        self.assertEqual(M.max_rate(rungs, limit_ms=1000), 250)
        self.assertEqual(M.max_rate([(250, None, False)], 1000), 0)


class ExpectedHashes(unittest.TestCase):
    expected = {"query/q01": {"rows": 4, "hash": "123", "columns": ["a:int"]}}

    def test_matching(self):
        checks = [{"kind": "query", "name": "q01",
                   "got": {"rows": 4, "hash": "123", "columns": ["a:int"]}}]
        self.assertEqual(M.check_outputs(self.expected, checks), (1, []))

    def test_corrupted_expectation_fails(self):
        checks = [{"kind": "query", "name": "q01",
                   "got": {"rows": 4, "hash": "123", "columns": ["a:int"]}}]
        corrupted = {"query/q01": dict(self.expected["query/q01"], hash="124")}
        n, bad = M.check_outputs(corrupted, checks)
        self.assertEqual(n, 1)
        self.assertEqual(len(bad), 1)
        self.assertEqual(bad[0][0], "query/q01")

    def test_missing_expectation_fails(self):
        checks = [{"kind": "gold", "name": "x", "got": {"rows": 1}}]
        self.assertEqual(len(M.check_outputs(self.expected, checks)[1]), 1)


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json is what ``run.py --write-benchmark-json`` writes."""

    def test_matches_run_py(self):
        import json
        import run
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            self.assertEqual(json.load(fh), run.benchmark_json())


if __name__ == "__main__":
    unittest.main()
