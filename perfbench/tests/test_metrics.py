"""Tests for the benchmark's own arithmetic (perfbench/metrics.py).

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class NearestRank(unittest.TestCase):
    def test_definition(self):
        v = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.nearest_rank(v, 0.5), 3)
        self.assertEqual(metrics.nearest_rank(v, 0.2), 1)
        self.assertEqual(metrics.nearest_rank(v, 0.21), 2)
        self.assertEqual(metrics.nearest_rank(v, 1.0), 5)
        self.assertEqual(metrics.nearest_rank(v, 0.0), 1)

    def test_returns_a_sample(self):
        v = [0.3, 1.7, 2.2, 9.1]
        for q in (0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
            self.assertIn(metrics.nearest_rank(v, q), v)

    def test_empty(self):
        with self.assertRaises(ValueError):
            metrics.nearest_rank([], 0.5)


class TenBeyond(unittest.TestCase):
    def test_p95_needs_200_samples(self):
        self.assertFalse(metrics.reportable(199, 0.95))
        self.assertTrue(metrics.reportable(200, 0.95))

    def test_p90_and_median(self):
        self.assertFalse(metrics.reportable(99, 0.9))
        self.assertTrue(metrics.reportable(100, 0.9))
        self.assertFalse(metrics.reportable(19, 0.5))
        self.assertTrue(metrics.reportable(20, 0.5))

    def test_tail_picks_highest_reportable(self):
        self.assertEqual(metrics.tail(list(range(1, 241)))[0], 0.95)
        self.assertEqual(metrics.tail(list(range(1, 241))), (0.95, 228))
        self.assertEqual(metrics.tail(list(range(1, 101)))[0], 0.9)
        self.assertEqual(metrics.tail(list(range(1, 41)))[0], 0.75)
        # too few samples for any tail: the median stands in
        self.assertEqual(metrics.tail([3, 1, 2]), (0.5, 2))


class GeoMean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(metrics.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(metrics.geomean([2, 8]), 4.0)
        self.assertAlmostEqual(metrics.geomean([7.5]), 7.5)

    def test_scale_invariant_ratio(self):
        a, b = [0.1, 0.4, 3.0], [0.2, 0.8, 6.0]
        self.assertAlmostEqual(metrics.geomean(b) / metrics.geomean(a), 2.0)

    def test_small_query_gain_is_not_hidden(self):
        # halving 20 small queries moves the geomean even when one large
        # query dominates the sum
        before = [0.2] * 20 + [10.0]
        after = [0.1] * 20 + [10.0]
        self.assertGreater(sum(after) / sum(before), 0.85)
        self.assertLess(metrics.geomean(after) / metrics.geomean(before), 0.55)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            metrics.geomean([1.0, 0.0])


class FilesToEpochs(unittest.TestCase):
    def test_one_file_per_epoch(self):
        self.assertEqual(metrics.files_to_epochs([10, 10, 10], [10, 10, 10]), [0, 1, 2])

    def test_epoch_takes_several_files(self):
        self.assertEqual(metrics.files_to_epochs([10, 10, 10, 10], [30, 10]), [0, 0, 0, 1])

    def test_empty_epochs_are_skipped(self):
        self.assertEqual(metrics.files_to_epochs([5, 5], [0, 5, 0, 5]), [1, 3])

    def test_unconsumed_file(self):
        self.assertEqual(metrics.files_to_epochs([5, 5, 5], [10]), [0, 0, None])

    def test_varying_file_sizes(self):
        self.assertEqual(metrics.files_to_epochs([1000, 5000, 5000, 1000], [6000, 6000]),
                         [0, 0, 1, 1])


class BusyRatio(unittest.TestCase):
    def test_base_is_cores_times_wall(self):
        # 8 executor-seconds in a 4-second interval on 4 cores: half busy
        self.assertAlmostEqual(metrics.busy_ratio(8.0, 4, 4.0), 0.5)
        self.assertAlmostEqual(metrics.busy_ratio(16.0, 4, 4.0), 1.0)
        self.assertAlmostEqual(metrics.busy_ratio(2.0, 1, 4.0), 0.5)


class StreamLatency(unittest.TestCase):
    def rec(self):
        files = [
            {"due_ms": 0.0, "renamed_ms": 1.0, "rows": 10, "phase": "warm"},
            {"due_ms": 100.0, "renamed_ms": 101.0, "rows": 10, "phase": "open"},
            {"due_ms": 200.0, "renamed_ms": 203.0, "rows": 10, "phase": "open"},
            {"due_ms": 400.0, "renamed_ms": 401.0, "rows": 20, "phase": "drain0"},
            {"due_ms": 400.0, "renamed_ms": 402.0, "rows": 20, "phase": "drain0"},
        ]
        ep = [{"batch_id": 0, "rows": 10, "start_ms": 0.0, "end_ms": 50.0},
              {"batch_id": 1, "rows": 20, "start_ms": 150.0, "end_ms": 350.0},
              {"batch_id": 2, "rows": 20, "start_ms": 360.0, "end_ms": 600.0},
              {"batch_id": 3, "rows": 20, "start_ms": 600.0, "end_ms": 900.0}]
        return {"files": files,
                "epochs": {q: ep for q in metrics.STREAM_QUERIES}}

    def test_latency_is_from_due_time_to_epoch_end(self):
        lat, drains, unconsumed = metrics.stream_latencies(self.rec())
        self.assertEqual(lat["stats"], [250.0, 150.0])
        self.assertEqual(unconsumed, 0)
        # a drain spans the epochs holding its rows: 360 ms to 900 ms
        self.assertEqual(drains, [0.54])

    def test_unconsumed_reads_are_counted(self):
        rec = self.rec()
        rec["epochs"]["wordcount"] = rec["epochs"]["wordcount"][:2]
        _, _, unconsumed = metrics.stream_latencies(rec)
        self.assertEqual(unconsumed, 2)


if __name__ == "__main__":
    unittest.main()
