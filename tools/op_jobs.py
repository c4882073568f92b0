#!/usr/bin/env python3
"""Print each op's Spark-job timeline from a traced benchmark run record.

    python3 tools/op_jobs.py [RECORD.json] [--op NAME_SUBSTRING]

RECORD defaults to the newest `*-t1-*.json` under
`.bench_build/perfbench/records/` (written by
`python3 perfbench/run.py --workload W --seed N --seconds S --trace 1`).
Jobs are attributed to ops with the benchmark's own rule
(`perfbench/metrics.py`). For every timed op it prints the op's wall time
and job count, then one line per job: offset of the job's start from the
op's start, job duration, stages, tasks and task CPU time. The time after
the op's last job ends is printed as the tail.
"""
import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))
import metrics  # noqa: E402


def newest_record():
    recs = sorted((ROOT / ".bench_build" / "perfbench" / "records").glob("*-t1-*.json"),
                  key=lambda p: p.stat().st_mtime)
    if not recs:
        sys.exit("op_jobs: no traced record under .bench_build/perfbench/records/")
    return recs[-1]


def timelines(rec):
    """[(op, [job, ...])] for the timed ops, jobs in start order."""
    top = [sp for sp in rec["spans"] if sp["parent"] == -1]
    windows = [(sp["start_ms"], sp["end_ms"]) for sp in top]
    by_span = {sp["id"]: [] for sp in top}
    for j in rec["jobs"]:
        i = metrics.attribute(j["start_ms"], windows)
        if i is not None:
            by_span[top[i]["id"]].append(j)
    return [(o, sorted(by_span[o["span"]], key=lambda j: (j["start_ms"], j["id"])))
            for o in rec["ops"] if o["loop"]]


def render(rec, only=None):
    lines = ["%s seed %s: op Spark-job timelines (offsets from op start, ms)"
             % (rec["workload"], rec["seed"])]
    for op, jobs in timelines(rec):
        if only and only not in op["name"]:
            continue
        s, e = op["start_ms"], op["end_ms"]
        lines.append("")
        lines.append("%s  wall %.0f ms  jobs %d  stages %d  tasks %d  cpu %.0f ms" % (
            op["name"], e - s, len(jobs), sum(j["stages"] for j in jobs),
            sum(j["tasks"] for j in jobs), sum(j["cpu_ns"] for j in jobs) / 1e6))
        lines.append("  %6s %8s %8s %7s %6s %8s" % ("job", "offset", "dur", "stages",
                                                   "tasks", "cpu"))
        for j in jobs:
            end = j["end_ms"] if j["end_ms"] >= 0 else e
            lines.append("  %6d %8.0f %8.0f %7d %6d %8.0f" % (
                j["id"], j["start_ms"] - s, end - j["start_ms"], j["stages"], j["tasks"],
                j["cpu_ns"] / 1e6))
        last = max([j["end_ms"] for j in jobs if j["end_ms"] >= 0], default=s)
        lines.append("  tail after last job: %.0f ms" % (e - last))
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("record", nargs="?", help="run record JSON (default: newest traced)")
    ap.add_argument("--op", help="only ops whose name contains this")
    args = ap.parse_args()
    path = Path(args.record) if args.record else newest_record()
    d = json.loads(path.read_text())
    rec = d.get("record", d)
    if not rec.get("trace"):
        sys.exit("op_jobs: %s is not a --trace 1 record" % path)
    print(render(rec, args.op))


if __name__ == "__main__":
    main()
