"""Tests for the benchmark's metric rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from metrics import covered, idle_frac, pass_percentile, percentile, self_time  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(percentile(xs, 0.5), 50)
        self.assertEqual(percentile(xs, 0.9), 90)
        self.assertEqual(percentile(list(reversed(xs)), 0.9), 90)

    def test_returns_a_sample(self):
        xs = [0.3, 0.1, 0.2]
        self.assertEqual(percentile(xs, 0.5), 0.2)
        self.assertEqual(percentile(xs, 0.9), 0.3)
        self.assertEqual(percentile([7.0], 0.9), 7.0)

    def test_empty(self):
        with self.assertRaises(ValueError):
            percentile([], 0.5)


class PassPercentileTest(unittest.TestCase):
    # five fast queries and four slow ones per pass, as in menu_etl
    PASS = [0.15, 0.16, 0.17, 0.19, 0.20, 0.40, 0.48, 0.53, 0.86]

    def test_steady_passes(self):
        self.assertEqual(pass_percentile([self.PASS] * 3, 0.5), 0.20)
        self.assertEqual(pass_percentile([self.PASS] * 3, 0.9), 0.86)

    def test_one_slow_pass_does_not_move_it(self):
        slow = [x * 1.5 for x in self.PASS]
        self.assertEqual(pass_percentile([self.PASS, slow, self.PASS], 0.5), 0.20)
        # pooled, the slow pass's fast queries take over the ranks around p50
        self.assertAlmostEqual(percentile(self.PASS * 2 + slow, 0.5), 0.285)

    def test_median_over_passes(self):
        self.assertEqual(pass_percentile([[1.0], [3.0], [2.0], [9.0]], 0.5), 2.5)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(self_time((10, 20), []), 10)

    def test_children_inside(self):
        self.assertEqual(self_time((0, 100), [(10, 20), (50, 80)]), 60)

    def test_overlapping_children_count_once(self):
        self.assertEqual(self_time((0, 100), [(10, 40), (30, 60), (35, 45)]), 50)

    def test_children_clipped_to_span(self):
        self.assertEqual(self_time((10, 20), [(0, 12), (18, 30), (40, 50)]), 6)
        self.assertEqual(covered((10, 20), [(0, 30)]), 10)

    def test_empty_children_ignored(self):
        self.assertEqual(self_time((0, 10), [(5, 5), (7, 6)]), 10)


class IdleFracTest(unittest.TestCase):
    def test_all_cores_busy(self):
        self.assertEqual(idle_frac(busy=4000, cores=4, wall=1000), 0.0)

    def test_one_of_four_cores_busy(self):
        self.assertAlmostEqual(idle_frac(busy=1000, cores=4, wall=1000), 0.75)

    def test_no_tasks(self):
        self.assertEqual(idle_frac(busy=0, cores=4, wall=1000), 1.0)

    def test_clamped(self):
        # task times are rounded to ms, so a fully busy pass can slightly exceed
        self.assertEqual(idle_frac(busy=4010, cores=4, wall=1000), 0.0)

    def test_needs_wall_time(self):
        with self.assertRaises(ValueError):
            idle_frac(busy=0, cores=4, wall=0)


if __name__ == "__main__":
    unittest.main()
