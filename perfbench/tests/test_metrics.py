"""Arithmetic of the benchmark's metrics: the tail percentile rule and
span self time. Run with: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))

    def test_eleven_samples_give_the_minimum(self):
        # the smallest of 11 has exactly ten samples beyond it
        self.assertEqual(metrics.tail([5.0] + [9.0] * 10), (5.0, 100.0 / 11, 10))

    def test_hundred_samples_give_p90(self):
        xs = list(range(100, 0, -1))  # order must not matter
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual((value, pct, beyond), (90, 90.0, 10))

    def test_ties_count_by_position(self):
        value, pct, beyond = metrics.tail([1.0] * 30)
        self.assertEqual((value, beyond), (1.0, 10))
        self.assertAlmostEqual(pct, 200.0 / 3)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, t0, t1):
        return {"id": i, "parent": parent, "t0": t0, "t1": t1}

    def test_leaf_self_time_is_its_wall_time(self):
        self.assertEqual(metrics.self_times([self.span(1, -1, 0.0, 7.5)]), {1: 7.5})

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 10, 40), self.span(3, 1, 30, 50),
                 self.span(4, 1, 70, 80)]
        # children cover [10, 50] and [70, 80]: 50 of 100
        self.assertEqual(metrics.self_times(spans)[1], 50)

    def test_grandchildren_count_against_their_parent_only(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 0, 60), self.span(3, 2, 0, 60)]
        st = metrics.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (40, 0, 60))

    def test_child_outside_its_parent_is_clipped(self):
        spans = [self.span(1, -1, 10, 20), self.span(2, 1, 15, 30)]
        self.assertEqual(metrics.self_times(spans)[1], 5)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
