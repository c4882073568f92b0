"""Turns a run record (written by the JVM harness) into the benchmark's metrics.

Pure functions over plain data, so the arithmetic is unit-tested on its own:
span self time and job-to-op window attribution.
"""
import statistics


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """Span duration minus the part of it that its children cover. Children
    may overlap each other (parallel arms); overlapping parts count once.
    """
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def attribute(t_ms, windows):
    """Index of the window containing an event stamped `t_ms`, or None.

    Spark stamps jobs and planning phases with whole milliseconds (the floor
    of the true time x), so an event belongs to window [s, e] when
    s - 1 < t_ms <= e. Windows come from consecutive top-level spans that the
    traced run keeps at least 2 ms apart, so at most one window matches.
    """
    hits = [i for i, (s, e) in enumerate(windows) if s - 1 < t_ms <= e]
    return hits[-1] if hits else None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec):
    """The end-to-end metrics of an untraced run, plus the sample count
    behind each latency.

    A run measures whole rounds of a fixed op mix, a few to a dozen ops of
    unlike cost; their mean latency is steady from run to run where the
    median jumps between op kinds, and no percentile above it would have ten
    samples beyond it.
    """
    ops = [o for o in rec["ops"] if o["loop"]]
    dur = [(o["end_ms"] - o["start_ms"]) / 1000.0 for o in ops]
    timed = sum(dur)
    ok = sum(1 for o in ops if o["ok"])
    out, stamps = {}, {}
    for kind in ("read", "write"):
        xs = [d for d, o in zip(dur, ops) if o["kind"] == kind]
        if not xs:
            raise ValueError("no %s ops completed in the run" % kind)
        out[kind + "_mean_s"] = (statistics.mean(xs), "s")
        stamps[kind] = {"samples": len(xs)}
    out["setup_s"] = (rec["session_s"] + rec["setup_s"], "s")
    out["ops_per_s"] = (ok / timed if timed > 0 else 0.0, "1/s")
    out["peak_rss_mb"] = (rec["peak_rss_kb"] / 1024.0, "MB")
    out["stored_bytes_per_input_byte"] = (
        rec["stored_bytes"] / rec["ingested_bytes"], "ratio")
    return out, stamps


def per_op_spark(rec, cores):
    """Attribute every job and planning record to a top-level span; return
    per-op Spark figures keyed by op span id, and the unattributed job count."""
    spans = rec["spans"]
    top = [sp for sp in spans if sp["parent"] == -1]
    windows = [(sp["start_ms"], sp["end_ms"]) for sp in top]
    by_span = {sp["id"]: {"jobs": [], "plan_ms": 0.0} for sp in top}
    unattributed = 0
    for j in rec["jobs"]:
        i = attribute(j["start_ms"], windows)
        if i is None:
            unattributed += 1
        else:
            by_span[top[i]["id"]]["jobs"].append(j)
    for p in rec["plans"]:
        i = attribute(p["start_ms"], windows)
        if i is not None:
            by_span[top[i]["id"]]["plan_ms"] += p["plan_ms"]
    per_op = {}
    for o in rec["ops"]:
        if not o["loop"]:
            continue
        got = by_span[o["span"]]
        jobs = got["jobs"]
        s, e = o["start_ms"], o["end_ms"]
        wall = (e - s) / 1000.0
        cpu = sum(j["cpu_ns"] for j in jobs) / 1e9
        job_iv = [(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else e) for j in jobs]
        per_op[o["span"]] = {
            "name": o["name"],
            "wall_s": wall,
            "jobs": len(jobs),
            "stages": sum(j["stages"] for j in jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "task_cpu_s": cpu,
            "task_run_s": sum(j["run_ms"] for j in jobs) / 1000.0,
            "cpu_util": cpu / (wall * cores) if wall > 0 else 0.0,
            "shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
            "shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
            "spill_bytes": sum(j["spill"] for j in jobs),
            "plan_s": got["plan_ms"] / 1000.0,
            "driver_gap_s": self_time((s, e), job_iv) / 1000.0,
        }
    return per_op, unattributed


SPARK_FIELDS = ("plan_s", "jobs", "stages", "tasks", "driver_gap_s", "task_cpu_s",
                "task_run_s", "cpu_util", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes")
FS_FIELDS = ("write_ops", "read_ops", "bytes_written", "bytes_read", "files_created")
EPOCH_FIELDS = ("epochs_live", "files_per_epoch", "meta_files_per_epoch")


def per_layer(rec, layer_metrics, cores):
    """Every per-layer metric named in `layer_metrics` ({name: unit}).

    spark.* and fs.* figures are medians over the run's ops. A metric named
    `<span>_s` is the median duration of spans named <span>; `<span>_jobs` is
    the median job count of those spans (top-level op spans). A layer the
    workload does not exercise reads 0.
    """
    per_op, unattributed = per_op_spark(rec, cores)
    ops = list(per_op.values())
    values = {}
    for f in SPARK_FIELDS:
        values["spark." + f] = median([o[f] for o in ops])
    values["spark.unattributed_jobs"] = unattributed
    fs_rows = rec["fs"]
    for f in FS_FIELDS:
        values["fs." + f] = median([r[f] for r in fs_rows])
    values["fs.bytes_written_per_input_byte"] = (
        sum(r["bytes_written"] for r in fs_rows) / rec["ingested_bytes"])
    epoch = rec["extra"].get("epoch", {})
    for k in EPOCH_FIELDS:
        values["ops.epoch." + k] = epoch.get(k, 0.0)
    timed = sum(o["wall_s"] for o in ops)
    values["trace.ops_per_s"] = (
        sum(1 for o in rec["ops"] if o["ok"] and o["loop"]) / timed if timed > 0 else 0.0)

    durations, jobs_of = {}, {}
    for sp in rec["spans"]:
        durations.setdefault(sp["name"], []).append((sp["end_ms"] - sp["start_ms"]) / 1000.0)
        if sp["id"] in per_op:
            jobs_of.setdefault(sp["name"], []).append(per_op[sp["id"]]["jobs"])
    out = {}
    for name, unit in layer_metrics.items():
        if name in values:
            v = values[name]
        elif name.endswith("_jobs"):
            v = median(jobs_of.get(name[:-len("_jobs")], []))
        elif name.endswith("_s"):
            v = median(durations.get(name[:-len("_s")], []))
        else:
            raise KeyError("no rule computes per-layer metric " + name)
        out[name] = (v, unit)
    return out
