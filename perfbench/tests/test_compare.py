"""Tests of the comparison rules: python3 -m unittest discover -s perfbench/tests"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import catalog  # noqa: E402
import compare  # noqa: E402


class QuartilesTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        v = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        q1, med, q3 = statistics.quantiles(v, n=4)
        self.assertEqual(compare.quartiles(v), (q1, med, q3))

    def test_single_value(self):
        self.assertEqual(compare.quartiles([2.0]), (2.0, 2.0, 2.0))


class VerdictTest(unittest.TestCase):
    parent = [100.0, 101.0, 99.0, 100.5, 99.5, 100.2, 99.8, 100.1, 99.9, 100.0]

    def test_gain_needs_nine_of_ten_wins_and_gap_over_iqr(self):
        change = [p - 10 for p in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1),
                         ("gain", 10))

    def test_eight_wins_is_not_a_gain(self):
        change = [p - 10 for p in self.parent[:8]] + self.parent[8:]
        v, wins = compare.verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(wins, 8)
        self.assertNotEqual(v, "gain")

    def test_ties_count_for_neither_side(self):
        v, wins = compare.verdict(self.parent, list(self.parent), "lower", 0.1)
        self.assertEqual((v, wins), ("same", 0))

    def test_gap_within_parent_iqr_is_not_a_gain(self):
        change = [p - 0.05 for p in self.parent]
        v, wins = compare.verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(wins, 10)
        self.assertEqual(v, "same")

    def test_higher_is_better(self):
        change = [p + 10 for p in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "higher", 0.1)[0],
                         "gain")
        self.assertEqual(compare.verdict(change, self.parent, "higher", 0.05)[0],
                         "regression")

    def test_regression_beyond_bound(self):
        change = [p * 1.2 for p in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)[0],
                         "regression")

    def test_wide_parent_spread_is_unresolved(self):
        parent = [50.0, 150.0, 60.0, 140.0, 100.0, 70.0, 130.0, 90.0, 110.0, 80.0]
        change = [p * 1.02 for p in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0],
                         "unresolved")

    def test_wide_spread_but_every_change_run_better_is_resolved(self):
        parent = [100.0, 130.0, 110.0, 125.0, 105.0, 120.0, 115.0, 100.0, 130.0, 110.0]
        change = [10.0] * 10
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0], "gain")


class ExactCountsTest(unittest.TestCase):
    def test_reports_only_differing_counts(self):
        p = {n: 1 for n in catalog.EXACT}
        c = dict(p, **{"exec.tasks": 2})
        self.assertEqual(compare.exact_diff(p, c), ["exec.tasks"])
        self.assertEqual(compare.exact_diff(p, dict(p)), [])


class CatalogTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        b = catalog.benchmark_json()
        self.assertEqual(set(b), {"command", "paths", "run_seconds",
                                  "workloads", "end_to_end", "per_layer"})
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(b["per_layer"]), 128)
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertTrue(set(catalog.EXACT) <= set(names))


if __name__ == "__main__":
    unittest.main()
