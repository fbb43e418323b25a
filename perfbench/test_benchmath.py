"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import benchmath as bm


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(bm.percentile(xs, 0.9), 90)  # 91..100 lie beyond
        with self.assertRaises(ValueError):
            bm.percentile(xs[:99], 0.9)  # only 9 beyond

    def test_p50_needs_twenty_samples(self):
        self.assertEqual(bm.percentile(list(range(20)), 0.5), 9)
        with self.assertRaises(ValueError):
            bm.percentile(list(range(19)), 0.5)

    def test_nearest_rank_ignores_input_order(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 20
        self.assertEqual(bm.percentile(xs, 0.5), 3.0)


def span(id_, parent, start, end):
    return {"id": id_, "parent": parent, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(bm.self_time(span(1, -1, 0, 100), [span(1, -1, 0, 100)]), 100)

    def test_overlapping_children_count_once(self):
        parent = span(1, -1, 0, 100)
        spans = [parent, span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 1, 20, 25)]
        self.assertEqual(bm.self_time(parent, spans), 100 - 50)

    def test_children_clipped_to_parent_and_grandchildren_ignored(self):
        parent = span(1, -1, 0, 100)
        spans = [parent, span(2, 1, 90, 130), span(3, 2, 0, 100), span(4, 1, -20, 5)]
        self.assertEqual(bm.self_time(parent, spans), 100 - 10 - 5)


def task(stage, run_ms, **kw):
    t = {"stage": stage, "run_ms": run_ms, "cpu_ns": 0, "sw_bytes": 0, "sw_records": 0,
         "sw_time_ns": 0, "sr_records": 0, "sr_wait_ms": 0, "spill_bytes": 0, "peak_mem": 0}
    t.update(kw)
    return t


LISTENER = {
    "jobs": [
        {"job": 0, "group": "a", "stages": [10, 11]},
        {"job": 1, "group": "b", "stages": [20]},
    ],
    "stages": [
        {"stage": 10, "submit_ms": 1000, "done_ms": 3000},
        {"stage": 11, "submit_ms": 3000, "done_ms": 3500},
        {"stage": 20, "submit_ms": 0, "done_ms": 9000},
    ],
    "tasks": [
        task(10, 100, cpu_ns=1e9, sw_bytes=500, sw_records=5, sw_time_ns=2e8, peak_mem=7),
        task(10, 100, cpu_ns=1e9, sw_bytes=300, sw_records=3, sw_time_ns=1e8),
        task(10, 400, cpu_ns=2e9, sw_bytes=200, sw_records=2, spill_bytes=64),
        task(11, 50, cpu_ns=5e8, sr_records=6, sr_wait_ms=30),
        task(11, 50, cpu_ns=5e8, sr_records=4, sr_wait_ms=20, peak_mem=9),
        task(20, 9000, cpu_ns=9e9, sw_bytes=10 ** 6, sw_records=1000),
    ],
}


class ListenerAggregation(unittest.TestCase):
    def test_map_and_reduce_sides_of_one_group(self):
        m = bm.stage_summary(LISTENER, {"a"})
        self.assertEqual(m["map.stage_s"], 2.0)
        self.assertEqual(m["map.cpu_s"], 4.0)
        self.assertEqual(m["map.task_skew"], 4.0)
        self.assertEqual(m["reduce.stage_s"], 0.5)
        self.assertEqual(m["reduce.cpu_s"], 1.0)
        self.assertEqual(m["reduce.task_skew"], 1.0)
        self.assertEqual(m["shuffle.bytes"], 1000)
        self.assertEqual(m["shuffle.records"], 10)
        self.assertAlmostEqual(m["shuffle.write_s"], 0.3)
        self.assertEqual(m["shuffle.fetch_wait_s"], 0.05)
        self.assertEqual(m["spill.bytes"], 64)
        self.assertEqual(m["exec_mem.peak_bytes"], 9)

    def test_all_groups(self):
        m = bm.stage_summary(LISTENER)
        self.assertEqual(m["shuffle.records"], 1010)
        self.assertEqual(m["map.stage_s"], 11.0)

    def test_group_without_jobs_is_empty(self):
        m = bm.stage_summary(LISTENER, {"none"})
        self.assertEqual(m["map.stage_s"], 0)
        self.assertEqual(m["map.task_skew"], 0.0)
        self.assertEqual(m["shuffle.bytes"], 0)


class Host(unittest.TestCase):
    def test_steal_share(self):
        before = [100, 0, 50, 800, 10, 0, 0, 0, 0, 0]
        after = [190, 0, 60, 880, 10, 0, 0, 20, 0, 0]
        self.assertAlmostEqual(bm.steal_pct(before, after), 10.0)


if __name__ == "__main__":
    unittest.main()
