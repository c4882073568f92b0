"""Tests of the benchmark's own arithmetic: python3 -m unittest discover perfbench"""
import unittest

import metrics


class SelfTimeTest(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertAlmostEqual(metrics.self_time((0, 10), [(1, 3), (5, 6)]), 7.0)

    def test_overlapping_parallel_arms_count_once(self):
        # two arms running side by side over [2, 6] and [4, 8]
        self.assertAlmostEqual(metrics.self_time((0, 10), [(2, 6), (4, 8)]), 4.0)

    def test_nested_and_clipped_children(self):
        self.assertAlmostEqual(
            metrics.self_time((0, 10), [(-5, 2), (3, 9), (4, 5), (9, 20)]), 1.0)

    def test_no_children(self):
        self.assertAlmostEqual(metrics.self_time((2.5, 4.0), []), 1.5)


class AttributionTest(unittest.TestCase):
    windows = [(100.4, 200.7), (202.9, 300.0)]

    def test_event_inside_a_window(self):
        self.assertEqual(metrics.attribute(150, self.windows), 0)
        self.assertEqual(metrics.attribute(250, self.windows), 1)

    def test_millisecond_floor_at_window_start(self):
        # an event at true time 100.6 is stamped 100
        self.assertEqual(metrics.attribute(100, self.windows), 0)
        self.assertEqual(metrics.attribute(202, self.windows), 1)

    def test_gap_and_outside_are_unattributed(self):
        self.assertIsNone(metrics.attribute(201, self.windows))
        self.assertIsNone(metrics.attribute(99, self.windows))
        self.assertIsNone(metrics.attribute(301, self.windows))


class PerOpTest(unittest.TestCase):
    def test_jobs_land_in_their_op_and_gap_excludes_parallel_jobs(self):
        rec = {
            "spans": [
                {"id": 0, "name": "setup", "parent": -1, "start_ms": 0.0, "end_ms": 50.0},
                {"id": 1, "name": "ops.dedup.append", "parent": -1,
                 "start_ms": 60.5, "end_ms": 160.5},
                {"id": 2, "name": "check", "parent": -1, "start_ms": 163.0, "end_ms": 170.0},
            ],
            "ops": [{"id": 0, "span": 1, "name": "ops.dedup.append", "kind": "write",
                     "start_ms": 60.5, "end_ms": 160.5, "loop": True, "ok": True}],
            "jobs": [
                {"start_ms": 10, "end_ms": 20, "stages": 1, "tasks": 4, "cpu_ns": 0,
                 "run_ms": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0},
                # two overlapping arms inside the op: covered 70..130
                {"start_ms": 70, "end_ms": 110, "stages": 2, "tasks": 8, "cpu_ns": 2 * 10**8,
                 "run_ms": 300, "shuffle_read": 5, "shuffle_write": 7, "spill": 0},
                {"start_ms": 90, "end_ms": 130, "stages": 1, "tasks": 4, "cpu_ns": 10**8,
                 "run_ms": 100, "shuffle_read": 0, "shuffle_write": 0, "spill": 3},
                {"start_ms": 165, "end_ms": 168, "stages": 1, "tasks": 1, "cpu_ns": 0,
                 "run_ms": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0},
                {"start_ms": 400, "end_ms": 401, "stages": 1, "tasks": 1, "cpu_ns": 0,
                 "run_ms": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0},
            ],
            "plans": [{"start_ms": 61, "plan_ms": 12}],
        }
        per_op, unattributed = metrics.per_op_spark(rec, cores=4)
        op = per_op[1]
        self.assertEqual(unattributed, 1)
        self.assertEqual((op["jobs"], op["stages"], op["tasks"]), (2, 3, 12))
        self.assertAlmostEqual(op["driver_gap_s"], (100.0 - 60.0) / 1000.0)
        self.assertAlmostEqual(op["task_cpu_s"], 0.3)
        self.assertAlmostEqual(op["cpu_util"], 0.3 / (0.1 * 4))
        self.assertAlmostEqual(op["plan_s"], 0.012)
        self.assertEqual((op["shuffle_read_bytes"], op["spill_bytes"]), (5, 3))


if __name__ == "__main__":
    unittest.main()
