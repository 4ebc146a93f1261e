"""Tests for the percentile/tail rule and the paired 9-of-10 rule.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 1.0), 100)
        self.assertEqual(stats.percentile([3.0], 0.99), 3.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 0.6), 3)

    def test_tail_level_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail_level(100), 0.9)
        self.assertEqual(stats.tail_level(40), 0.75)
        self.assertIsNone(stats.tail_level(10))
        for n in range(11, 300):
            level = stats.tail_level(n)
            self.assertGreaterEqual(stats.beyond(n, level), 10)
            self.assertLess(stats.beyond(n, round(level + 0.01, 2)), 10)

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)


class PairedRuleTest(unittest.TestCase):
    parent = [1.00, 1.01, 0.99, 1.02, 1.00, 0.98, 1.01, 1.00, 0.99, 1.01]

    def test_nine_of_ten_wins_is_an_improvement(self):
        change = [p * 0.9 for p in self.parent]
        change[3] = self.parent[3] * 1.01  # one lost pair
        self.assertEqual(stats.paired_verdict(self.parent, change, "lower", 0.1),
                         "improvement")

    def test_eight_of_ten_is_not(self):
        change = [p * 0.9 for p in self.parent]
        change[3] = self.parent[3] * 1.01
        change[7] = self.parent[7] * 1.01
        self.assertEqual(stats.paired_verdict(self.parent, change, "lower", 0.1),
                         "no change")

    def test_higher_is_better(self):
        change = [p * 1.1 for p in self.parent]
        self.assertEqual(stats.paired_verdict(self.parent, change, "higher", 0.1),
                         "improvement")

    def test_regression_beyond_bound(self):
        change = [p * 1.2 for p in self.parent]
        self.assertEqual(stats.paired_verdict(self.parent, change, "lower", 0.1),
                         "regression")

    def test_win_inside_parent_spread_is_not_a_gain(self):
        change = [p - 0.001 for p in self.parent]
        self.assertEqual(stats.paired_verdict(self.parent, change, "lower", 0.1),
                         "no change")

    def test_clean_sweep_resolves_a_noisy_metric(self):
        parent = [1.0, 1.5, 1.1, 1.4, 1.2, 1.3, 1.0, 1.5, 1.1, 1.4]
        change = [0.5, 0.8, 0.55, 0.75, 0.6, 0.7, 0.5, 0.8, 0.55, 0.75]
        self.assertEqual(stats.paired_verdict(parent, change, "lower", 0.1),
                         "improvement")

    def test_fewer_than_ten_pairs_is_refused(self):
        with self.assertRaises(ValueError):
            stats.paired_verdict(self.parent[:9], self.parent[:9], "lower", 0.1)

    def test_noisy_side_is_unresolved(self):
        change = [0.5, 1.5, 0.6, 1.4, 0.7, 1.3, 0.8, 1.2, 0.9, 1.1]
        self.assertEqual(stats.paired_verdict(self.parent, change, "lower", 0.1),
                         "unresolved")


if __name__ == "__main__":
    unittest.main()
