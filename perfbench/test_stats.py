"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

from stats import attribute, relative_iqr, self_times, tail, union_length


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(tail(list(range(40, 0, -1))), (30, 75.0, 40))

    def test_few_samples_fall_back_to_median(self):
        self.assertEqual(tail([5.0, 1.0, 3.0]), (3.0, 50.0, 3))
        self.assertEqual(tail([1.0, 2.0, 3.0, 4.0]), (2.5, 50.0, 4))

    def test_twenty_samples_is_the_median(self):
        self.assertEqual(tail(list(range(1, 21)))[1], 50.0)
        self.assertEqual(tail(list(range(1, 22))), (11, 50.0, 21))
        self.assertEqual(tail(list(range(1, 23))), (12, 100.0 * 12 / 22, 22))

    def test_empty(self):
        value, pct, n = tail([])
        self.assertNotEqual(value, value)  # nan
        self.assertEqual((pct, n), (0.0, 0))


class UnionTest(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        self.assertEqual(union_length([(0, 2), (5, 6)]), 3)
        self.assertEqual(union_length([(0, 4), (1, 2), (3, 6)]), 6)

    def test_touching_and_unsorted(self):
        self.assertEqual(union_length([(3, 5), (0, 3)]), 5)

    def test_clipped_to_window(self):
        self.assertEqual(union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(union_length([(11, 12)], 0, 10), 0)

    def test_driver_gap(self):
        # a 10 ms span with two concurrent jobs: 8 ms covered, 2 ms gap
        jobs = [(1, 6), (4, 9)]
        self.assertEqual(10 - union_length(jobs, 0, 10), 2)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 10},
            {"id": 2, "parent": 1, "start": 1, "end": 4},
            {"id": 3, "parent": 1, "start": 3, "end": 6},  # overlaps its sibling
            {"id": 4, "parent": 2, "start": 2, "end": 3},  # a grandchild
        ]
        st = self_times(spans)
        self.assertEqual(st[1], 5)  # 10 - |[1, 6]|
        self.assertEqual(st[2], 2)  # 3 - 1
        self.assertEqual(st[3], 3)
        self.assertEqual(st[4], 1)


class AttributeTest(unittest.TestCase):
    def test_innermost_open_span(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 20},
            {"id": 3, "parent": 0, "start": 200, "end": 300},
        ]
        jobs = [{"id": j, "start": t} for j, t in ((7, 5), (8, 15), (9, 150), (10, 250))]
        self.assertEqual(attribute(jobs, spans), {7: 1, 8: 2, 10: 3})


class SpreadTest(unittest.TestCase):
    def test_relative_iqr(self):
        self.assertAlmostEqual(relative_iqr([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)


if __name__ == "__main__":
    unittest.main()
