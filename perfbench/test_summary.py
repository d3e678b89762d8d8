"""Unit tests of the summary math: python3 -m unittest perfbench/test_summary.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import summary  # noqa: E402


class SummaryTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(summary.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(summary.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertIsNone(summary.median([]))

    def test_tail_needs_ten_beyond(self):
        xs = [float(i) for i in range(1, 101)]  # 100 samples: 10 lie beyond p90
        p90 = summary.tail(xs, 90)
        self.assertAlmostEqual(p90, 90.1)
        self.assertEqual(sum(1 for x in xs if x > p90), 10)
        self.assertIsNone(summary.tail(xs[:90], 90))  # only 9 beyond
        self.assertIsNone(summary.tail([1.0], 90))

    def test_quartiles_and_spread(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        self.assertEqual(summary.quartiles(xs), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(summary.spread(xs), 1.0)
        self.assertEqual(summary.spread([2.0, 2.0, 2.0]), 0.0)

    def test_failed_frac(self):
        self.assertEqual(summary.failed_frac(40, 0), 0.0)
        self.assertEqual(summary.failed_frac(40, 10), 0.25)
        self.assertEqual(summary.failed_frac(0, 0), 1.0)


if __name__ == "__main__":
    unittest.main()
