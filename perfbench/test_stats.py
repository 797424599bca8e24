"""Tests of the statistics helpers: python3 -m unittest perfbench/test_stats.py"""
import os
import random
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_count_is_middle_element(self):
        self.assertEqual(stats.median([5, 1, 3]), 3)

    def test_even_count_averages_the_two_middle_elements(self):
        # the upper-middle element would be 3; the median is 2.5
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.median([])


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([5]), 5.0)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), (90, 10, 100))
        self.assertEqual(stats.percentile(xs, 99), (99, 1, 100))

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101)), 90), (90, 100))
        with self.assertRaises(ValueError):
            stats.tail(list(range(1, 100)), 90)  # 99 samples: 9 beyond p90
        self.assertEqual(stats.tail(list(range(1000)), 99), (989, 1000))

    def test_highest_percentile_states_its_sample_count(self):
        self.assertEqual(stats.highest_percentile(list(range(1000))), (99, 989, 1000))
        self.assertEqual(stats.highest_percentile(list(range(100))), (90, 89, 100))
        self.assertEqual(stats.highest_percentile(list(range(40))), (75, 29, 40))
        self.assertIsNone(stats.highest_percentile(list(range(15))))


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        rng = random.Random(7)
        for n in (2, 3, 4, 5, 10, 11, 37):
            xs = [rng.uniform(0, 100) for _ in range(n)]
            want = statistics.quantiles(xs, n=4)
            for a, b in zip(stats.quartiles(xs), want):
                self.assertAlmostEqual(a, b, places=9)

    def test_spread_is_iqr_over_median(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 5.5)


if __name__ == "__main__":
    unittest.main()
