"""Tests of the benchmark's own arithmetic: python3 -m unittest discover perfbench"""
import unittest

import metrics as M


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(M.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(M.percentile(xs, 90), 90.1)
        self.assertEqual(M.percentile([7.0], 90), 7.0)
        self.assertEqual(M.percentile([], 50), 0.0)

    def test_order_does_not_matter(self):
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)

    def test_ten_samples_beyond_rule(self):
        # p90 needs 100 samples (10 beyond), p99 needs 1000
        self.assertFalse(M.tail_supported(99, 90))
        self.assertTrue(M.tail_supported(100, 90))
        self.assertFalse(M.tail_supported(999, 99))
        self.assertTrue(M.tail_supported(1000, 99))
        self.assertTrue(M.tail_supported(20, 50))
        self.assertFalse(M.tail_supported(19, 50))


class DriverGap(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(M.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(M.union_length([]), 0)
        self.assertEqual(M.union_length([(5, 5)]), 0)

    def test_gap_is_wall_minus_union_of_jobs(self):
        # wall 0..100; jobs 10..40 and 30..50 overlap (40 covered), 90..120
        # sticks out of the wall (10 covered): gap = 100 - 50
        self.assertEqual(M.driver_gap(0, 100, [(10, 40), (30, 50), (90, 120)]), 50)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(M.driver_gap(5, 8, []), 3)

    def test_jobs_outside_the_wall_are_ignored(self):
        self.assertEqual(M.driver_gap(0, 10, [(20, 30), (-5, -1)]), 10)


class Latency(unittest.TestCase):
    def due(self, i):
        return 1000.0 + (i - 1) // 10 * 10.0  # 10 rows per 10 ms tick

    def test_batch_range_is_start_exclusive_end_inclusive(self):
        batches = [(0, 20, 1500.0), (20, 30, 1600.0)]
        lat, missing = M.row_latencies(batches, self.due, 1, 30)
        self.assertEqual(missing, 0)
        self.assertEqual(len(lat), 30)
        # ids 1..10 due 1000, 11..20 due 1010, both committed at 1500
        self.assertEqual(sorted(lat)[:10], [490.0] * 10)
        self.assertEqual(lat.count(500.0), 10)
        # ids 21..30 due 1020, committed at 1600
        self.assertEqual(lat.count(580.0), 10)

    def test_window_restricts_rows(self):
        lat, missing = M.row_latencies([(0, 30, 2000.0)], self.due, 11, 20)
        self.assertEqual(lat, [990.0] * 10)
        self.assertEqual(missing, 0)

    def test_undelivered_rows_are_missing(self):
        lat, missing = M.row_latencies([(0, 15, 2000.0)], self.due, 1, 30)
        self.assertEqual(len(lat), 15)
        self.assertEqual(missing, 15)

    def test_replayed_range_counts_a_row_once(self):
        lat, _ = M.row_latencies([(0, 10, 1100.0), (0, 10, 1200.0)], self.due, 1, 10)
        self.assertEqual(lat, [100.0] * 10)

    def test_commit_rate_uses_whole_batches(self):
        # commits at 0 (10 rows), 500 (50), 1000 (50), 1600 (60); window 100..1200
        batches = [(0, 10, 0.0), (10, 60, 500.0), (60, 110, 1000.0), (110, 170, 1600.0)]
        # rows committed in (0, 1000] over 1 s
        self.assertEqual(M.commit_rate(batches, 100.0, 1200.0), 100.0)
        self.assertEqual(M.commit_rate(batches, 2000.0, 3000.0), 0.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 50},
            {"id": 3, "parent": 1, "start": 40, "end": 70},   # overlaps span 2
            {"id": 4, "parent": 3, "start": 45, "end": 60},
        ]
        own = M.self_times(spans)
        self.assertEqual(own[1], 100 - 60)
        self.assertEqual(own[2], 40)
        self.assertEqual(own[3], 30 - 15)
        self.assertEqual(own[4], 15)

    def test_child_sticking_out_is_clipped(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 10},
                 {"id": 2, "parent": 1, "start": 5, "end": 30}]
        self.assertEqual(M.self_times(spans)[1], 5)


class Skew(unittest.TestCase):
    def test_max_over_median(self):
        self.assertEqual(M.skew([10, 10, 10, 40]), 4.0)
        self.assertEqual(M.skew([]), 1.0)


if __name__ == "__main__":
    unittest.main()
