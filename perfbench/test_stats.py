"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

from stats import (geomean, highest_percentile, percentile, quartiles,
                   self_times, tail_percentile)


def span(i, parent, lo, hi):
    return {"span_id": i, "parent": parent, "start_ns": lo, "end_ns": hi}


class QuartilesTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [7.0, 1.0, 3.0, 9.0, 5.0, 2.0, 8.0]
        self.assertEqual(quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_known_values(self):
        self.assertEqual(quartiles([1, 2, 3, 4, 5]), (1.5, 3, 4.5))

    def test_single_sample(self):
        self.assertEqual(quartiles([4.0]), (4.0, 4.0, 4.0))

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            quartiles([])


class TailPercentileTest(unittest.TestCase):
    def test_highest_percentile_keeps_ten_beyond(self):
        self.assertEqual(highest_percentile(200), 95)
        self.assertEqual(highest_percentile(199), 94)
        self.assertEqual(highest_percentile(1000), 99)
        self.assertEqual(highest_percentile(20), 50)
        self.assertIsNone(highest_percentile(10))
        self.assertIsNone(highest_percentile(5))

    def test_ten_samples_lie_beyond(self):
        for n in (11, 57, 200, 333, 1000):
            xs = list(range(n))
            p = highest_percentile(n)
            v = percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 95), 95)
        self.assertEqual(percentile(xs, 50), 50)
        self.assertEqual(percentile([3, 1, 2], 100), 3)

    def test_p95_needs_200(self):
        v, top = tail_percentile(list(range(1, 201)), 95)
        self.assertEqual((v, top), (190, 95))
        v, top = tail_percentile(list(range(1, 200)), 95)
        self.assertIsNone(v)
        self.assertEqual(top, 94)


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(geomean([1, 100]), 10.0)
        self.assertAlmostEqual(geomean([2, 8]), 4.0)
        self.assertAlmostEqual(geomean([5.0]), 5.0)

    def test_scale_invariant(self):
        xs = [0.3, 1.7, 4.2, 9.9]
        self.assertAlmostEqual(geomean([10 * x for x in xs]), 10 * geomean(xs))

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            geomean([])


class SelfTimeTest(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(self_times([span(0, -1, 10, 40)]), {0: 30})

    def test_disjoint_children(self):
        st = self_times([span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 50, 60)])
        self.assertEqual(st, {0: 70, 1: 20, 2: 10})

    def test_overlapping_children_count_once(self):
        # children cover [10, 50) and [40, 70): union 60, not 70
        st = self_times([span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 40, 70)])
        self.assertEqual(st[0], 40)

    def test_nested_overlap_and_clip(self):
        # child 2 lies inside child 1; child 3 runs past the parent's end
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 50), span(2, 0, 20, 30),
                 span(3, 0, 90, 120), span(4, 1, 5, 15)]
        st = self_times(spans)
        self.assertEqual(st[0], 100 - 50 - 10)
        self.assertEqual(st[1], 40)

    def test_grandchildren_do_not_reduce_grandparent_twice(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 60), span(2, 1, 0, 60)]
        st = self_times(spans)
        self.assertEqual((st[0], st[1], st[2]), (40, 0, 60))


if __name__ == "__main__":
    unittest.main()
