import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_above(self):
        xs = list(range(100, 0, -1))  # order must not matter
        value, pct, n = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(n, 100)

    def test_smallest_defined_base(self):
        self.assertEqual(stats.tail([float(i) for i in range(11)]),
                         (0.0, 100.0 / 11, 11))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))

    def test_ties_count_as_beyond_only_when_larger(self):
        xs = [1.0] * 5 + [2.0] * 20
        value, _, _ = stats.tail(xs)
        self.assertEqual(value, 2.0)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([]), 0.0)


class SpanTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, a, b):
        return {"id": i, "parent": parent, "start_ns": a, "end_ns": b}

    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (7, 3)]), 0)

    def test_self_time_counts_overlapping_children_once(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 60),
                 self.span(3, 1, 15, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 50)
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)

    def test_self_time_clips_children_to_parent(self):
        spans = [self.span(0, -1, 10, 20), self.span(1, 0, 0, 15),
                 self.span(2, 0, 30, 40)]
        self.assertEqual(stats.self_times(spans)[0], 5)

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([1.0] * 10), 0.0)
        self.assertGreater(stats.spread([1, 2, 3, 4, 5]), 0)


if __name__ == "__main__":
    unittest.main()
