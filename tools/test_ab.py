"""Unit tests of `tools/ab.py`'s verdict rule and host-drift flag.

    python3 -m unittest discover -s tools
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ab import drifted, verdict  # noqa: E402

# ten parent runs with median 10.0 and quartile spread 0.5 (5% of it)
PARENT = [9.6, 9.7, 9.8, 9.9, 10.0, 10.0, 10.1, 10.2, 10.3, 10.4]


class VerdictTest(unittest.TestCase):

    def test_gain_needs_nine_wins_and_a_drop_past_the_spread(self):
        self.assertEqual(verdict(PARENT, [x - 1.0 for x in PARENT], 0.25),
                         "gain")
        # nine of ten pairs won, the drop still past the spread
        nine = [x - 1.0 for x in PARENT[:9]] + [PARENT[9] + 0.1]
        self.assertEqual(verdict(PARENT, nine, 0.25), "gain")

    def test_eight_wins_or_a_small_drop_is_no_gain(self):
        eight = [x - 1.0 for x in PARENT[:8]] + [x + 0.1 for x in PARENT[8:]]
        self.assertEqual(verdict(PARENT, eight, 0.25), "flat")
        # every pair won, but by less than the parent's spread
        self.assertEqual(verdict(PARENT, [x - 0.1 for x in PARENT], 0.25),
                         "flat")

    def test_worse_past_the_bound_only(self):
        self.assertEqual(verdict(PARENT, [x * 1.3 for x in PARENT], 0.25),
                         "worse")
        self.assertEqual(verdict(PARENT, [x * 1.2 for x in PARENT], 0.25),
                         "flat")

    def test_unresolved_when_the_parent_spreads_past_the_bound(self):
        wide = [6.0, 7.0, 8.0, 9.0, 10.0, 10.0, 11.0, 12.0, 13.0, 14.0]
        self.assertEqual(verdict(wide, [10.0] * 10, 0.25), "unresolved")
        # unless every change run beats every parent run: here by less
        # than the parent's spread, so no gain either
        skewed = [9.0, 9.0, 9.0, 9.1, 9.2, 12.0, 13.0, 14.0, 15.0, 16.0]
        self.assertEqual(verdict(skewed, [8.9] * 10, 0.25), "flat")
        self.assertEqual(verdict(skewed, [9.05] * 10, 0.25), "unresolved")


class DriftTest(unittest.TestCase):

    def test_a_pair_is_flagged_past_the_setup_bound_either_way(self):
        self.assertFalse(drifted(4.0, 4.9, 0.25))
        self.assertFalse(drifted(4.0, 3.1, 0.25))
        self.assertTrue(drifted(4.0, 5.1, 0.25))
        self.assertTrue(drifted(4.0, 2.9, 0.25))


if __name__ == "__main__":
    unittest.main()
