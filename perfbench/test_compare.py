#!/usr/bin/env python3
"""Tests of compare.verdict.

    python3 perfbench/test_compare.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare import verdict  # noqa: E402


class Verdict(unittest.TestCase):
    def test_same(self):
        self.assertEqual(verdict([10, 10.2, 9.9, 10.1], [10.1, 10, 9.8, 10.2], 0.25, False), "same")

    def test_worse_beyond_bound(self):
        self.assertEqual(verdict([10, 10.2, 9.9, 10.1], [14, 14.2, 13.9, 14.1], 0.25, False),
                         "worse")

    def test_better_when_every_run_beats(self):
        self.assertEqual(verdict([10, 10.2, 9.9, 10.1], [9, 9.2, 8.9, 9.1], 0.25, False), "better")
        self.assertEqual(verdict([10, 10.2, 9.9, 10.1], [11, 11.2, 10.9, 11.1], 0.25, True),
                         "better")

    def test_unresolved_when_spread_exceeds_bound(self):
        self.assertEqual(verdict([5, 10, 15, 20], [6, 11, 16, 21], 0.25, False), "unresolved")

    def test_zero_base_median(self):
        # failed_ratio: the base has no failures, the new build has some
        self.assertEqual(verdict([0, 0, 0, 0], [0, 0.1, 0.1, 0.2], 0.25, False), "worse")
        self.assertEqual(verdict([0, 0, 0, 0], [0, 0.1, 0.1, 0.2], 0.25, True), "better")
        self.assertEqual(verdict([0, 0, 0, 0], [0, 0, 0, 0], 0.25, False), "same")


if __name__ == "__main__":
    unittest.main()
