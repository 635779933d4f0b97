"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class SpanUnion(unittest.TestCase):
    def test_disjoint_spans_add(self):
        self.assertEqual(stats.union_ms([(0, 10), (20, 25)]), 15)

    def test_overlapping_and_nested_spans_count_once(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (6, 7), (30, 31)]), 16)

    def test_touching_spans_merge(self):
        self.assertEqual(stats.union_ms([(10, 20), (0, 10)]), 20)

    def test_clipped_to_window(self):
        self.assertEqual(stats.union_ms([(-5, 5), (95, 120)], 0, 100), 10)

    def test_empty(self):
        self.assertEqual(stats.union_ms([]), 0)

    def test_driver_time_is_wall_outside_jobs(self):
        # 1 s call; jobs cover [100, 400] and [300, 600] -> 500 ms in jobs.
        self.assertAlmostEqual(stats.driver_s(0, 1000, [(100, 400), (300, 600)]), 0.5)

    def test_driver_time_without_jobs_is_the_wall(self):
        self.assertAlmostEqual(stats.driver_s(1000, 1250, []), 0.25)

    def test_driver_time_never_negative(self):
        self.assertEqual(stats.driver_s(0, 100, [(-50, 200)]), 0.0)


class StealAdjustment(unittest.TestCase):
    def test_share_of_wanted_cpu_that_was_not_stolen(self):
        # user, nice, system, idle, iowait, irq, softirq, steal
        self.assertAlmostEqual(stats.unstolen_share([60, 0, 10, 500, 0, 0, 5, 25]), 0.75)

    def test_idle_time_is_not_counted(self):
        self.assertEqual(stats.unstolen_share([60, 0, 15, 0, 0, 0, 0, 25]),
                         stats.unstolen_share([60, 0, 15, 9000, 7, 0, 0, 25]))

    def test_nothing_stolen_or_nothing_run(self):
        self.assertEqual(stats.unstolen_share([50, 0, 10, 100, 0, 0, 0, 0]), 1.0)
        self.assertEqual(stats.unstolen_share([0, 0, 0, 100, 0, 0, 0, 0]), 1.0)


class Percentiles(unittest.TestCase):
    def test_median_and_interpolation(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(stats.median(xs), 2.5)
        self.assertEqual(stats.percentile(xs, 50), 2.5)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 4)
        self.assertAlmostEqual(stats.percentile(list(range(11)), 90), 9.0)

    def test_supported_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.supported_percentile(8))
        self.assertIsNone(stats.supported_percentile(19))
        self.assertEqual(stats.supported_percentile(20), 50)
        self.assertEqual(stats.supported_percentile(40), 75)
        self.assertEqual(stats.supported_percentile(99), 75)
        self.assertEqual(stats.supported_percentile(100), 90)
        self.assertEqual(stats.supported_percentile(1000), 99)


if __name__ == "__main__":
    unittest.main()
