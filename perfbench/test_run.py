#!/usr/bin/env python3
"""Unit tests of run.py's statistics and of BENCHMARK.json's metric lists.

    python3 perfbench/test_run.py
"""
import json
import os
import unittest

import run

ROOT = os.path.dirname(run.HERE)


class PercentileRule(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertEqual(run.tail_percentile(100), 90)
        self.assertEqual(run.tail_percentile(99), 89)

    def test_ten_samples_beyond_the_reported_percentile(self):
        for n in range(11, 400):
            p = run.tail_percentile(n)
            beyond = n - run.math.ceil(p / 100.0 * n)
            self.assertGreaterEqual(beyond, 10, n)

    def test_no_tail_below_eleven_samples(self):
        for n in range(0, 11):
            self.assertIsNone(run.tail_percentile(n))

    def test_capped_at_p99(self):
        self.assertEqual(run.tail_percentile(5000), 99)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 50), 50)
        self.assertEqual(run.percentile(xs, 90), 90)
        self.assertEqual(run.percentile([3, 1, 2], 50), 2)
        self.assertEqual(run.percentile([7], 99), 7)


class Declared(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_workloads_match_the_runner(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))

    def test_end_to_end_metrics_are_the_runners(self):
        r = {"workload": "dashboard_reads", "samples": {"read": [1.0, 2.0]}, "timed_wall_s": 1.0,
             "ops": 2, "attempted": 4, "failed": 0, "session_start_s": 1.0,
             "setup_builds_s": [3.0, 2.0, 2.5], "warmup_s": 1.0, "bytes_per_row": 3.0,
             "rss_peak_mb": 100.0, "offered_rows": 0}
        metrics, _ = run.end_to_end(r)
        self.assertEqual(set(metrics), set(run.declared(ROOT, "end_to_end")))
        self.assertEqual(metrics["setup_s"], 1.0 + 2.5 + 1.0)


if __name__ == "__main__":
    unittest.main()
