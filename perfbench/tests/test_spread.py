"""Tests of the spread arithmetic used to judge the benchmark's steadiness.

Run from the root of a checkout:  python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import spread  # noqa: E402


class SpreadTest(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        for vals in ([1, 2, 3, 4, 5, 6, 7, 8, 9, 10],
                     [9.5, 1.25, 3.0, 7.75, 2.0, 4.5, 8.0, 6.0, 5.5, 10.0],
                     [2.0, 2.0, 2.0, 2.0, 2.0]):
            self.assertEqual(list(spread.quartiles(vals)),
                             statistics.quantiles(vals, n=4))

    def test_quartiles_by_hand(self):
        # exclusive method, 10 values: positions (n+1)/4 = 2.75 and 8.25
        q1, q2, q3 = spread.quartiles(list(range(1, 11)))
        self.assertAlmostEqual(q1, 2.75)
        self.assertAlmostEqual(q2, 5.5)
        self.assertAlmostEqual(q3, 8.25)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(spread.spread(list(range(1, 11))), (8.25 - 2.75) / 5.5)
        self.assertEqual(spread.spread([3.0] * 10), 0.0)

    def test_verdicts(self):
        self.assertEqual(spread.verdict("search_p50_ms", 0.15, 0.01), "ok")
        self.assertEqual(spread.verdict("search_p50_ms", 0.15, 0.10),
                         "within bound, above a third")
        self.assertEqual(spread.verdict("search_p50_ms", 0.15, 0.20), "OVER BOUND")
        self.assertEqual(spread.verdict("setup_s", 0.25, 0.9), "setup (no spread gate)")

    def test_seed_lists(self):
        self.assertEqual(spread.seeds_of("3-6"), [3, 4, 5, 6])
        self.assertEqual(spread.seeds_of("1,5,9"), [1, 5, 9])


if __name__ == "__main__":
    unittest.main()
