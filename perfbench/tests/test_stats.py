"""Tests of the benchmark's statistics: python3 -m unittest discover perfbench/tests"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 201))  # 1..200
        self.assertEqual(stats.percentile(xs, 0.95), 190)
        self.assertEqual(stats.percentile(xs, 0.5), 100)
        self.assertEqual(stats.percentile([7], 0.95), 7)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 0.5), 3)

    def test_tail_leaves_ten_beyond(self):
        value, q = stats.tail(range(1, 201))
        self.assertEqual((value, q), (190, 0.95))
        value, q = stats.tail([3, 1, 2] + list(range(10, 20)))
        self.assertEqual(value, 3)
        self.assertAlmostEqual(q, 3 / 13.0)
        # 199 samples: p95 would leave only 9 beyond, so the tail is lower
        value, q = stats.tail(range(199))
        self.assertEqual(value, 188)
        self.assertLess(q, 0.95)
        with self.assertRaises(ValueError):
            stats.tail(range(10))

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class DueLatencyTest(unittest.TestCase):
    def test_late_send_counts(self):
        # due at 100, sent late at 180, done at 200: 100 ms, not 20 ms
        self.assertEqual(stats.due_latency(100.0, 200.0), 100.0)

    def test_on_time(self):
        self.assertEqual(stats.due_latency(10.0, 12.5), 2.5)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]),
                         [(0, 4), (5, 7)])

    def test_union_drops_empty(self):
        self.assertEqual(stats.union([(2, 2), (3, 1)]), [])

    def test_covered_clips(self):
        self.assertEqual(stats.covered([(0, 10)], 2, 5), 3)
        self.assertEqual(stats.covered([(0, 1), (0.5, 2), (4, 6)]), 4)

    def test_uncovered_is_no_task_time(self):
        # window 0..10, tasks cover 1..3 and 2..4 and 8..12
        self.assertEqual(stats.uncovered(0, 10, [(1, 3), (2, 4), (8, 12)]), 5)
        self.assertEqual(stats.uncovered(0, 10, []), 10)


class SelfTimeTest(unittest.TestCase):
    def test_parent_minus_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 10},
            {"id": 2, "parent": 1, "start": 1, "end": 4},
            {"id": 3, "parent": 1, "start": 3, "end": 6},  # overlaps 2
            {"id": 4, "parent": 2, "start": 2, "end": 3},
        ]
        got = stats.self_times(spans)
        self.assertEqual(got[1], 5)  # 10 - |1..6|
        self.assertEqual(got[2], 2)  # 3 - 1
        self.assertEqual(got[3], 3)
        self.assertEqual(got[4], 1)

    def test_child_outside_parent_is_clipped(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 2},
                 {"id": 2, "parent": 1, "start": 1, "end": 5}]
        self.assertEqual(stats.self_times(spans)[1], 1)


class AttachTest(unittest.TestCase):
    def test_points_land_in_their_window(self):
        roots = [(1, 0, 10), (2, 20, 30)]
        self.assertEqual(stats.attach(roots, [5, 15, 20, 31]), [1, None, 2, None])


if __name__ == "__main__":
    unittest.main()
