import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time(0, 10, []), 10)

    def test_overlapping_children_count_once(self):
        # [1,3] and [2,5] cover [1,5]; [8,12] is clipped to [8,10]
        self.assertEqual(stats.covered(0, 10, [(1, 3), (2, 5), (8, 12)]), 6)
        self.assertEqual(stats.self_time(0, 10, [(1, 3), (2, 5), (8, 12)]), 4)

    def test_nested_and_outside_children(self):
        self.assertEqual(stats.covered(0, 10, [(2, 8), (3, 4), (11, 15)]), 6)

    def test_child_covering_whole_span(self):
        self.assertEqual(stats.self_time(5, 7, [(0, 100)]), 0)


class Tail(unittest.TestCase):
    def test_percentile_leaves_ten_beyond(self):
        for n in (11, 20, 28, 100, 1000):
            pct = stats.tail_percentile(n)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
            self.assertAlmostEqual(n * (1 - pct / 100.0), 10)

    def test_tail_value(self):
        xs = [float(i) for i in range(1, 101)]
        pct, v = stats.tail(xs, 100)
        self.assertEqual(pct, 90.0)
        # centred on rank p * n + 1/2
        self.assertAlmostEqual(v, 90.5, delta=0.05)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(10))
        with self.assertRaises(ValueError):
            stats.tail(list(range(10)), 10)
        with self.assertRaises(ValueError):
            stats.tail(list(range(20)), 24)


class Quantile(unittest.TestCase):
    def test_symmetric_sample_median(self):
        self.assertAlmostEqual(stats.quantile(list(range(1, 22)), 0.5), 11.0, places=6)

    def test_constant_and_bounds(self):
        self.assertAlmostEqual(stats.quantile([0.3] * 20, 0.7), 0.3)
        xs = [0.2, 0.25, 0.3, 1.2, 0.35] * 4
        for p in (0.3, 0.5, 0.6, 0.9):
            self.assertTrue(min(xs) <= stats.quantile(xs, p) <= max(xs))

    def test_monotone_in_p(self):
        xs = [0.2, 0.25, 0.3, 1.2, 0.35] * 4
        qs = [stats.quantile(xs, p) for p in (0.2, 0.4, 0.5, 0.6, 0.8)]
        self.assertEqual(qs, sorted(qs))

    def test_smooth_across_a_rank_swap(self):
        # two clusters meeting at the median: nudging one sample across the
        # gap moves the estimate by a fraction of the gap, not all of it
        lo, hi = [0.28] * 10, [0.36] * 10
        a = stats.quantile(lo + hi, 0.5)
        b = stats.quantile(lo[:-1] + [0.37] + hi, 0.5)
        self.assertLess(abs(b - a), 0.02)


class Means(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2, 10]), 2.5)


if __name__ == "__main__":
    unittest.main()
