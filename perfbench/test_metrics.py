"""Self-tests for the benchmark's arithmetic.

Run from the repository root: python3 -m unittest perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402
from metrics import Span  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertFalse(metrics.tail_ok(91, 0.9))
        self.assertTrue(metrics.tail_ok(100, 0.9))
        self.assertTrue(metrics.tail_ok(20, 0.5))
        self.assertFalse(metrics.tail_ok(19, 0.5))

    def test_highest_tail(self):
        self.assertEqual(metrics.highest_tail(1000), 0.99)
        self.assertEqual(metrics.highest_tail(300), 0.95)
        self.assertEqual(metrics.highest_tail(150), 0.9)
        self.assertEqual(metrics.highest_tail(65), 0.75)
        self.assertIsNone(metrics.highest_tail(12))

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 0.5), 2)
        self.assertAlmostEqual(metrics.percentile(range(11), 0.9), 9.0)
        self.assertAlmostEqual(metrics.percentile([0, 10], 0.25), 2.5)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(metrics.union_length([(0, 10)], 3, 5), 2)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_is_span_minus_union_of_children(self):
        root = Span(1, 0, "runner.run", "", 0, 100, 1)
        a = Span(2, 1, "net.queue", "", 10, 60, 1)
        b = Span(3, 1, "core.jobfile", "", 40, 70, 1)  # overlaps a
        c = Span(4, 2, "runner.job", "", 20, 30, 1)
        st = metrics.self_times([root, a, b, c])
        self.assertEqual(st[1], (100 - 60, 0))  # children cover [10, 70)
        self.assertEqual(st[2], (50 - 10, 0))
        self.assertEqual(st[4], (10, 0))

    def test_layer_table_adds_up_to_root(self):
        root = Span(1, 0, "runner.run", "", 0, 100, 1)
        act = Span(2, 1, "jobclass.action", "sql", 10, 90, 1)
        spans = [root, act]
        metrics.attribute_jobs(spans, [[7, 2, 20, 50] + [0] * 10,
                                       [8, 2, 40, 70] + [0] * 10])
        table = metrics.layer_table(spans)
        self.assertEqual(table, {"runner": 20, "jobclass": 30, "spark": 50})
        self.assertEqual(sum(table.values()), 100)


class Attribution(unittest.TestCase):
    def test_jobs_go_to_the_span_they_name(self):
        a = Span(1, 0, "bench.pass", "", 0, 100, 1)
        b = Span(2, 1, "operators.Dedup", "q", 10, 90, 1)
        orphans = metrics.attribute_jobs([a, b], [[1, 2, 20, 30], [2, 1, 95, 99],
                                                  [3, 9, 0, 1]])
        self.assertEqual([j[0] for j in b.jobs], [1])
        self.assertEqual([j[0] for j in a.jobs], [2])
        self.assertEqual([j[0] for j in orphans], [3])

    def test_spark_time_excludes_child_spans(self):
        parent = Span(1, 0, "jobclass.action", "sql", 0, 100, 1)
        child = Span(2, 1, "ds.move", "", 0, 50, 1)
        metrics.attribute_jobs([parent, child], [[1, 1, 25, 75]])
        own, spark = metrics.self_times([parent, child])[1]
        self.assertEqual((own, spark), (25, 25))


class Outcome(unittest.TestCase):
    def test_fail_ratio(self):
        self.assertEqual(metrics.fail_ratio(10, 0), 0.0)
        self.assertEqual(metrics.fail_ratio(4, 1), 0.25)
        with self.assertRaises(ValueError):
            metrics.fail_ratio(0, 0)

    def test_outcome_counts_items_and_checks(self):
        raw = {"passes": [{"items": [["a", 1.0, True], ["b", 2.0, False]]},
                          {"items": [["a", 1.0, True]]}],
               "checks": [["c1", True, ""], ["c2", False, "x"]]}
        self.assertEqual(metrics.outcome(raw, [["o", False, ""]]), (6, 3))


if __name__ == "__main__":
    unittest.main()
