"""Tests for the benchmark's statistics code.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


class MedianQuartiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [7.0, 1.0, 3.0, 9.0, 5.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertEqual(stats.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual(q2, stats.median(xs))
        self.assertLess(q1, q2)
        self.assertLess(q2, q3)

    def test_spread_is_iqr_over_median(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([5.0] * 4), 0.0)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_smallest_sample_count_with_a_tail(self):
        xs = [float(i) for i in range(11, 0, -1)]  # 11 samples, unsorted
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(value, 1.0)
        self.assertAlmostEqual(pct, 100.0 / 11)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_too_few_samples_reports_the_maximum(self):
        value, pct, beyond = stats.tail([0.3, 0.1, 0.2])
        self.assertEqual((value, pct, beyond), (0.3, 100.0, 0))

    def test_ties(self):
        xs = [1.0] * 5 + [2.0] * 20
        value, _, _ = stats.tail(xs)
        self.assertEqual(value, 2.0)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class UnionOfIntervals(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(stats.union_length([(0, 2), (5, 6)]), 3)

    def test_overlapping_and_nested_count_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (3, 5)]), 6)
        self.assertEqual(stats.union_length([(1, 9), (2, 3)]), 8)

    def test_touching(self):
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)

    def test_clipped_to_the_operation(self):
        # a job that started before and one that ended after the operation
        self.assertEqual(stats.union_length([(-5, 2), (8, 20)], lo=0, hi=10), 4)
        self.assertEqual(stats.union_length([(11, 12)], lo=0, hi=10), 0)

    def test_empty(self):
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_gap(self):
        # operation 0..10 with jobs 1..3 and 2..5: busy 4, gap 6
        wall = 10
        busy = stats.union_length([(1, 3), (2, 5)], lo=0, hi=wall)
        self.assertEqual(wall - busy, 6)


if __name__ == "__main__":
    unittest.main()
