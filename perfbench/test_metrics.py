"""Tests for the benchmark's own logic:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 99), 99)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile(reversed(xs), 1), 1)

    def test_empty_and_single(self):
        self.assertEqual(metrics.percentile([], 50), 0.0)
        self.assertEqual(metrics.percentile([7], 99.9), 7)

    def test_beyond_counts_samples_above_the_percentile(self):
        self.assertEqual(metrics.beyond(100, 99), 1)
        self.assertEqual(metrics.beyond(10000, 99.9), 10)
        self.assertEqual(metrics.beyond(9999, 99.9), 9)
        self.assertEqual(metrics.beyond(0, 50), 0)

    def test_ingest_tail_keeps_ten_samples_beyond_from_2000_calls(self):
        self.assertGreaterEqual(metrics.beyond(2000, metrics.INGEST_TAIL), 10)
        self.assertLess(metrics.beyond(1900, metrics.INGEST_TAIL), 10)

    def test_tail_avoids_the_flush_cliff(self):
        # 1 call in 100 flushes: p99 is a fast call, the tail a flush call
        lat = ([10.0] * 99 + [200000.0]) * 100
        self.assertEqual(metrics.percentile(lat, 99), 10.0)
        self.assertEqual(metrics.percentile(lat, metrics.INGEST_TAIL), 200000.0)


class EndToEndTest(unittest.TestCase):
    RAW = {"jvm_start_s": 0.5, "session_s": 5.0, "prepare_s": [3.0, 1.0, 2.0],
           "warm_s": 4.0, "rss_peak_mb": 2000.0, "ingest_events_per_s": 400.0,
           "readback_s": 4.0}

    def test_ingest_median_is_per_tree_and_tail_per_callback(self):
        # callbacks of 6, 8, 13 and 17 us: the callback median sits in a gap
        lat = [6.0, 8.0, 13.0, 17.0] * 500
        lat[-1] = 900000.0
        raw = dict(self.RAW, append_us=lat, tree_us=[44.0] * 499 + [900027.0])
        vals, own = metrics.end_to_end("ingest", raw)
        self.assertEqual(vals["op_p50_ms"], 0.044)
        self.assertEqual(own["append_p50_us"][0], 8.0)
        self.assertEqual(vals["op_tail_ms"], 0.017)
        self.assertEqual(vals["setup_s"], 0.5 + 5.0 + 2.0 + 4.0)


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times([(1, 0, 10, 30)]), {1: 20})

    def test_children_are_subtracted(self):
        spans = [(1, 0, 0, 100), (2, 1, 10, 30), (3, 1, 50, 60), (4, 2, 12, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 70)
        self.assertEqual(st[2], 12)
        self.assertEqual(st[3], 10)
        self.assertEqual(st[4], 8)

    def test_overlapping_children_count_once(self):
        spans = [(1, 0, 0, 100), (2, 1, 10, 50), (3, 1, 40, 70)]
        self.assertEqual(metrics.self_times(spans)[1], 40)

    def test_child_outside_parent_is_clipped(self):
        spans = [(1, 0, 0, 100), (2, 1, 90, 130)]
        self.assertEqual(metrics.self_times(spans)[1], 90)


class NamesTest(unittest.TestCase):
    def test_grammar(self):
        for ok in ("setup_s", "q.q6_revenue.jobs", "9a", "a-b.c_d"):
            self.assertRegex(ok, metrics.NAME_RE)
        for bad in ("", "_a", ".a", "a b", "a/b", "x" * 65):
            self.assertNotRegex(bad, metrics.NAME_RE)

    def test_every_metric_name_and_unit_is_valid_and_unique(self):
        names = [n for n, _ in metrics.END_TO_END + metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for name, unit in metrics.END_TO_END + metrics.PER_LAYER:
            self.assertRegex(name, metrics.NAME_RE)
            self.assertRegex(unit, metrics.UNIT_RE)

    def test_benchmark_json_matches_the_metrics_printed(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        self.assertTrue(any(m["name"] == "setup_s" for m in spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
