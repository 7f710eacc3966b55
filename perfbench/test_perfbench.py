"""Tests of the benchmark's Python side: the spread (quartile) math and the
DuckDB value comparison.

    python3 -m unittest perfbench/test_perfbench.py     (from the checkout root)
"""
import datetime
import decimal
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import spread  # noqa: E402


class SpreadTest(unittest.TestCase):
    def test_quartile_spread(self):
        med, sp = spread.spread([float(x) for x in range(1, 11)])
        # statistics.quantiles (exclusive): Q1 = 2.75, Q3 = 8.25
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(sp, (8.25 - 2.75) / 5.5)

    def test_identical_values_have_zero_spread(self):
        self.assertEqual(spread.spread([3.0] * 10), (3.0, 0.0))


class CompareTest(unittest.TestCase):
    def test_values_compare_exactly(self):
        self.assertTrue(run.same(0.1 + 0.2, 0.30000000000000004))
        self.assertFalse(run.same(0.3, 0.30000000000000004))
        self.assertTrue(run.same("12.50", decimal.Decimal("12.5")))
        self.assertTrue(run.same("1996-01-02", datetime.date(1996, 1, 2)))
        self.assertTrue(run.same("2024-01-01 00:00:07.179575",
                                 datetime.datetime(2024, 1, 1, 0, 0, 7, 179575)))
        self.assertTrue(run.same([1, "a"], (1, "a")))
        self.assertFalse(run.same(1, 2))
        self.assertFalse(run.same(None, 0))


if __name__ == "__main__":
    unittest.main()
