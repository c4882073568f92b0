"""Tests of op_jobs' timelines and rendering: python3 -m unittest discover tools"""
import unittest

import op_jobs


def job(jid, start, end, stages=1, tasks=2, cpu_ms=5):
    return {"id": jid, "start_ms": start, "end_ms": end, "stages": stages,
            "tasks": tasks, "cpu_ns": cpu_ms * 1e6}


# two timed ops 10 ms apart plus an untimed set-up op; span 9 is a child
# span, which never takes jobs of its own
RECORD = {
    "workload": "index_daily", "seed": 7, "trace": 1,
    "spans": [
        {"id": 1, "parent": -1, "start_ms": 0.0, "end_ms": 50.0},
        {"id": 2, "parent": -1, "start_ms": 100.0, "end_ms": 200.0},
        {"id": 3, "parent": -1, "start_ms": 210.0, "end_ms": 300.0},
        {"id": 9, "parent": 2, "start_ms": 120.0, "end_ms": 130.0},
    ],
    "ops": [
        {"name": "setup", "span": 1, "start_ms": 0.0, "end_ms": 50.0, "loop": False},
        {"name": "ops.sink.append", "span": 2, "start_ms": 100.0, "end_ms": 200.0,
         "loop": True},
        {"name": "ops.sink.verify", "span": 3, "start_ms": 210.0, "end_ms": 300.0,
         "loop": True},
    ],
    "jobs": [
        job(5, 150, 170),
        job(4, 110, 125),       # listed out of order: sorted by start
        job(6, 205, 208),       # in the gap between two ops: dropped
        job(7, 20, 30),         # in the untimed set-up op: dropped
        job(8, 250, 280),
        job(10, 290, -1),       # still running when the op ended
        job(11, 400, 410),      # after every op: dropped
    ],
}


class TimelinesTest(unittest.TestCase):
    def test_jobs_go_to_the_op_whose_window_holds_their_start(self):
        got = [(op["name"], [j["id"] for j in jobs])
               for op, jobs in op_jobs.timelines(RECORD)]
        self.assertEqual(got, [("ops.sink.append", [4, 5]),
                               ("ops.sink.verify", [8, 10])])

    def test_a_job_stamped_at_the_op_end_belongs_to_it(self):
        rec = dict(RECORD, jobs=[job(1, 200, 204)])
        (_, append), (_, verify) = op_jobs.timelines(rec)
        self.assertEqual(([j["id"] for j in append], verify), ([1], []))


class RenderTest(unittest.TestCase):
    def test_totals_and_tail(self):
        lines = op_jobs.render(RECORD).splitlines()
        self.assertEqual(lines[0],
                         "index_daily seed 7: op Spark-job timelines (offsets from op start, ms)")
        self.assertIn("ops.sink.append  wall 100 ms  jobs 2  stages 2  tasks 4  cpu 10 ms",
                      lines)
        # the tail runs from the last FINISHED job's end to the op's end
        self.assertEqual(lines.count("  tail after last job: 30 ms"), 1)   # 200 - 170
        self.assertEqual(lines.count("  tail after last job: 20 ms"), 1)   # 300 - 280

    def test_running_job_lasts_to_the_op_end(self):
        row = [ln.split() for ln in op_jobs.render(RECORD).splitlines()
               if ln.split()[:1] == ["10"]]
        self.assertEqual(row, [["10", "80", "10", "1", "2", "5"]])

    def test_op_without_jobs_is_all_tail(self):
        rec = dict(RECORD, jobs=[])
        out = op_jobs.render(rec, only="verify").splitlines()
        self.assertIn("ops.sink.verify  wall 90 ms  jobs 0  stages 0  tasks 0  cpu 0 ms", out)
        self.assertEqual(out[-1], "  tail after last job: 90 ms")
        self.assertFalse(any("ops.sink.append" in ln for ln in out))


if __name__ == "__main__":
    unittest.main()
