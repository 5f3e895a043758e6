"""Unit tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        values = list(range(1, 101))            # 1..100
        v, pct, n = stats.tail(values)
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 8), stats.tail(sorted([5, 1, 4, 2, 3] * 8)))

    def test_percentile_grows_with_samples(self):
        self.assertAlmostEqual(stats.tail(list(range(40)))[1], 75.0)
        self.assertAlmostEqual(stats.tail(list(range(1000)))[1], 99.0)

    def test_twenty_samples_is_the_minimum(self):
        v, pct, n = stats.tail(list(range(20)))
        self.assertEqual((v, pct), (9, 50.0))
        self.assertEqual(sum(1 for x in range(20) if x > v), 10)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 3))
        self.assertEqual(stats.tail(list(range(19))), (9, 50.0, 19))


class RecordsRate(unittest.TestCase):
    def test_only_record_moving_ops_count(self):
        # 300 records over 3 s of moving ops; the 10 s op moves none.
        ops = [{"start": 0.0, "end": 1000.0, "records": 100},
               {"start": 1000.0, "end": 11000.0, "records": 0},
               {"start": 11000.0, "end": 13000.0, "records": 200}]
        self.assertAlmostEqual(stats.records_rate(ops), 100.0)

    def test_no_records_is_zero(self):
        self.assertEqual(stats.records_rate([{"start": 0.0, "end": 5.0, "records": 0}]), 0.0)


class WindowAttribution(unittest.TestCase):
    windows = [(0.0, 10.0), (12.0, 20.0), (20.5, 30.0)]

    def test_inside_and_on_edges(self):
        self.assertEqual(stats.locate(self.windows, 0.0), 0)
        self.assertEqual(stats.locate(self.windows, 10.0), 0)
        self.assertEqual(stats.locate(self.windows, 15.0), 1)
        self.assertEqual(stats.locate(self.windows, 29.9), 2)

    def test_gaps_and_outside_belong_to_no_op(self):
        self.assertIsNone(stats.locate(self.windows, 11.0))
        self.assertIsNone(stats.locate(self.windows, 20.2))
        self.assertIsNone(stats.locate(self.windows, -1.0))
        self.assertIsNone(stats.locate(self.windows, 31.0))

    def test_jobs_of_helper_threads_count_by_start_time(self):
        # Two jobs overlap inside op 1 (as Par's helper-thread jobs do);
        # one starts in the gap after op 0 and belongs to no op.
        rec = {"values": {"slots": 4.0}, "measure_start": 0.0, "measure_end": 30.0}
        ops = [{"id": i, "start": a, "end": b, "records": 0}
               for i, (a, b) in enumerate(self.windows)]
        jobs = [{"start": 13.0, "end": 16.0, "ok": True},
                {"start": 14.0, "end": 19.0, "ok": True},
                {"start": 11.0, "end": 12.5, "ok": True}]
        m = stats.per_layer(rec, ops, [], jobs, [], [])
        self.assertEqual(m["spark.calls"], 2)
        self.assertAlmostEqual(m["spark.jobs_per_op"], 2 / 3)
        # op 1 is 8 ms long and 6 ms of it has a job running.
        self.assertAlmostEqual(m["spark.driver_only_s"], (10 + 2 + 9.5) / 1e3 / 3)


class SelfTime(unittest.TestCase):
    def test_union_length_merges_and_clips(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5), 2)
        self.assertEqual(stats.union_length([], 0, 1), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},   # overlaps 1
            {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},   # grandchild
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 10 - 5)
        self.assertEqual(st[1], 3 - 1)
        self.assertEqual(st[2], 3)
        self.assertEqual(st[3], 1)

    def test_layer_time_is_self_time_per_op(self):
        rec = {"values": {"slots": 4.0}, "measure_start": 0.0, "measure_end": 2000.0}
        ops = [{"id": 0, "start": 0.0, "end": 1000.0, "records": 1},
               {"id": 1, "start": 1000.0, "end": 2000.0, "records": 1}]
        spans = [
            {"id": 0, "name": "streaming.read", "start": 100.0, "end": 600.0,
             "parent": -1, "op": 0, "ok": True},
            {"id": 1, "name": "api.lookup", "start": 200.0, "end": 500.0,
             "parent": 0, "op": 0, "ok": False},
        ]
        m = stats.per_layer(rec, ops, spans, [], [], [])
        self.assertAlmostEqual(m["streaming.read_s"], 0.2 / 2)
        self.assertAlmostEqual(m["api.lookup_s"], 0.3 / 2)
        self.assertEqual(m["api.calls"], 1)
        self.assertEqual(m["api.calls_failed"], 1)
        self.assertEqual(set(m), set(stats.LAYER_UNITS))


if __name__ == "__main__":
    unittest.main()
