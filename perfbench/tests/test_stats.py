import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from graftbench import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [0.9, 1.3, 1.1, 5.0, 1.0, 1.2, 0.95, 1.05, 1.15, 1.4]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.iqr_share(xs), (q3 - q1) / q2)

    def test_percentile_interpolates_and_counts_the_tail(self):
        xs = list(range(1, 101))  # 1..100
        value, above = stats.percentile(xs, 90)
        self.assertAlmostEqual(value, 90.1)
        self.assertEqual(above, 10)
        self.assertEqual(stats.percentile(xs, 50), (50.5, 50))
        self.assertEqual(stats.percentile([7.0], 90), (7.0, 0))
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 100), (5, 0))

    def test_geomean_weighs_every_value_the_same(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean([2, 8]), 4)
        self.assertAlmostEqual(stats.geomean([0.5]), 0.5)
        self.assertTrue(math.isclose(stats.geomean([0.1, 10.0, 1.0]), 1.0))


if __name__ == "__main__":
    unittest.main()
