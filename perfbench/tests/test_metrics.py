"""Tests of the benchmark's metric maths.

usage: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics as m  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(m.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(m.percentile([5], 0.9), 5)
        self.assertAlmostEqual(m.percentile(range(1, 101), 0.9), 90.1)

    def test_order_does_not_matter(self):
        self.assertEqual(m.percentile([3, 1, 2], 0.5), 2)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            m.percentile([], 0.5)

    def test_samples_beyond(self):
        self.assertEqual(m.beyond(100, 0.9), 10)
        self.assertEqual(m.beyond(20, 0.5), 10)
        self.assertEqual(m.beyond(41, 0.75), 10)

    def test_ten_samples_beyond_are_required(self):
        self.assertTrue(m.supported(100, 0.9))
        # the interpolated p90 of 92 samples sits at rank 81.9: 10 above
        self.assertTrue(m.supported(92, 0.9))
        self.assertFalse(m.supported(91, 0.9))
        self.assertTrue(m.supported(20, 0.5))
        self.assertFalse(m.supported(19, 0.5))
        self.assertFalse(m.supported(0, 0.5))

    def test_tail_picks_highest_supported_level(self):
        xs = list(range(1, 47))  # 46 samples: p75 has 12 beyond, p90 only 5
        level, v = m.tail(xs, 0.99)
        self.assertEqual(level, 0.75)
        self.assertEqual(v, m.percentile(xs, 0.75))
        self.assertEqual(m.tail(list(range(200)), 0.9)[0], 0.9)  # capped at target
        self.assertEqual(m.tail(list(range(10)), 0.99), (None, None))


class IntervalUnion(unittest.TestCase):
    def test_disjoint_overlapping_nested_and_touching(self):
        self.assertEqual(m.union_length([(0, 1), (2, 4)]), 3)
        self.assertEqual(m.union_length([(0, 3), (2, 5)]), 5)
        self.assertEqual(m.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(m.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(m.union_length([(3, 4), (0, 1), (0.5, 2)]), 3)

    def test_empty_and_degenerate(self):
        self.assertEqual(m.union_length([]), 0)
        self.assertEqual(m.union_length([(1, 1), (2, 1)]), 0)

    def test_concurrency_is_busy_over_wall(self):
        # two writers fully overlapped for 2 ms, then one alone for 2 ms
        self.assertEqual(m.concurrency([(0, 2), (0, 4)]), 1.5)
        self.assertEqual(m.concurrency([(0, 1), (1, 2)]), 1.0)
        self.assertEqual(m.concurrency([]), 0.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        # overlapping children count their union, not their sum
        self.assertEqual(m.self_time(10, (0, 10), [(1, 3), (2, 4)]), 7)

    def test_children_outside_the_window_are_clipped(self):
        self.assertEqual(m.self_time(10, (0, 10), [(-5, 2), (9, 20), (30, 40)]), 7)

    def test_no_children(self):
        self.assertEqual(m.self_time(3, (2, 5), []), 3)

    def test_fully_covered(self):
        self.assertEqual(m.self_time(4, (0, 4), [(0, 2), (2, 4)]), 0)

    def test_phase_inside_a_longer_window(self):
        # a 6 ms phase of a 10 ms trigger; its sink writes cover 4 ms
        self.assertEqual(m.self_time(6, (100, 110), [(103, 105), (106, 108)]), 2)


if __name__ == "__main__":
    unittest.main()
