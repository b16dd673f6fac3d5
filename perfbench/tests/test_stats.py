"""Tests of the benchmark's summary statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail_percentile(list(range(10))))
        self.assertIn("no percentile has 10 samples beyond it", stats.describe([1.0] * 10))

    def test_eleven_samples_give_the_smallest_tail(self):
        # rank 1 of 11 has exactly ten samples above it: the 9th percentile
        self.assertEqual(stats.tail_percentile(list(range(11))), (9, 0, 11))

    def test_hundred_samples_give_p90(self):
        xs = list(range(100, 0, -1))  # order must not matter
        p, v, n = stats.tail_percentile(xs)
        self.assertEqual((p, v, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_thousand_samples_give_p99(self):
        p, v, n = stats.tail_percentile([float(i) for i in range(1, 1001)])
        self.assertEqual((p, v, n), (99, 990.0, 1000))

    def test_describe_states_median_and_count(self):
        text = stats.describe([float(i) for i in range(1, 60)])
        self.assertTrue(text.startswith("median 30 (n=59)"), text)
        self.assertIn("p83 49", text)


class SpreadTest(unittest.TestCase):
    def test_quartile_spread_is_iqr_over_median(self):
        xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
        # statistics.quantiles (exclusive method): q1 = 11.75, q3 = 17.25
        self.assertAlmostEqual(stats.quartile_spread(xs), 5.5 / 14.5)


if __name__ == "__main__":
    unittest.main()
