#!/usr/bin/env python3
"""Attribute a benchmark run's JFR samples and class-init waits to its ops.

    python3 tools/jfr_ops.py RECORD JFR [--op NAME_SUBSTRING] [--top N]

RECORD is a run record of `python3 perfbench/run.py` (under
`.bench_build/perfbench/records/`; traced or not). JFR is the Java Flight
Recorder file of the same run, recorded with

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=run.jfr,settings=profile \\
        python3 perfbench/run.py --workload curate_batch --seed 812 --seconds 6 --trace 1

or that file already converted by `jfr print --json` (a `.json` file; the
JDK's `jfr` tool converts a `.jfr` here). An event belongs to the timed op
whose window holds its start time, the benchmark's own attribution rule
(`perfbench/metrics.py`). For each op it prints the op's wall time, its
execution samples, the `--top` leaf frames (self samples), the `--top`
frames found anywhere on the sampled stacks (total samples), the classes
whose `<clinit>` was sampled, and its class-init waits summed per waiting
frame. A class-init wait is a JavaMonitorWait event on a class's init
lock: that is how JDK 17 records a thread blocked behind another thread's
`<clinit>`.
"""
import argparse
import json
import re
import subprocess
import sys
from collections import Counter
from datetime import datetime, timezone
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))
import metrics  # noqa: E402

EVENTS = "jdk.ExecutionSample,jdk.JavaMonitorWait"
# HotSpot's class init lock is an empty int[] (JVM name "[I"): a
# JavaMonitorWait on one is a thread waiting for another thread's <clinit>.
INIT_LOCK_CLASS = "[I"
STAMP = re.compile(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)?$")


def epoch_ms(stamp):
    """Milliseconds since the epoch of an ISO-8601 JFR time stamp, keeping
    the fraction's full (nanosecond) precision."""
    m = STAMP.match(stamp)
    if not m:
        raise ValueError("not a JFR time stamp: %r" % stamp)
    whole, frac, zone = m.groups()
    zone = "+00:00" if zone in (None, "Z") else zone
    t = datetime.fromisoformat(whole + zone).astimezone(timezone.utc)
    return t.timestamp() * 1000.0 + (float("0." + frac) * 1000.0 if frac else 0.0)


def duration_ms(d):
    """Milliseconds of a JFR duration: ISO-8601 ("PT1.73S") or a number of ns."""
    if isinstance(d, (int, float)):
        return d / 1e6
    m = re.match(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?$", d)
    if not m:
        raise ValueError("not a JFR duration: %r" % d)
    h, mi, s = m.groups()
    return ((int(h or 0) * 60 + int(mi or 0)) * 60 + float(s or 0)) * 1000.0


def load_events(path):
    """The recording's events as `jfr print --json` renders them."""
    path = Path(path)
    if path.suffix == ".json":
        text = path.read_text()
    else:
        text = subprocess.run(["jfr", "print", "--json", "--events", EVENTS, str(path)],
                              check=True, capture_output=True, text=True).stdout
    return json.loads(text)["recording"]["events"]


def frame_name(frame):
    m = frame["method"]
    return "%s.%s" % (m["type"]["name"].replace("/", "."), m["name"])


def frames(event):
    """The event's stack, leaf first, as `Class.method` names."""
    st = event["values"].get("stackTrace") or {}
    return [frame_name(f) for f in st.get("frames") or []]


def ops_events(rec, events):
    """[(op, samples, waits)] for the timed ops; each event list keeps the
    events whose start time falls in the op's window."""
    timed = [o for o in rec["ops"] if o["loop"]]
    windows = [(o["start_ms"], o["end_ms"]) for o in timed]
    got = [([], []) for _ in timed]
    for e in events:
        i = metrics.attribute(epoch_ms(e["values"]["startTime"]), windows)
        if i is None:
            continue
        if e["type"] == "jdk.ExecutionSample":
            got[i][0].append(e)
        elif e["type"] == "jdk.JavaMonitorWait" and \
                (e["values"].get("monitorClass") or {}).get("name") == INIT_LOCK_CLASS:
            got[i][1].append(e)
    return [(o, s, w) for o, (s, w) in zip(timed, got)]


def clinit_class(stack):
    """The class of the innermost `<clinit>` on a stack, or None."""
    for f in stack:
        if f.endswith(".<clinit>"):
            return f[: -len(".<clinit>")]
    return None


def summarize(samples, waits, top):
    """One op's figures: the `top` (frame, samples) pairs by self and by
    total samples, the (class, samples) pairs of running `<clinit>`s, and
    per waiting frame the class-init wait (frame, ms, threads), longest
    first."""
    self_c, total_c, clinit_c = Counter(), Counter(), Counter()
    for e in samples:
        st = frames(e)
        if st:
            self_c[st[0]] += 1
        for f in set(st):
            total_c[f] += 1
        c = clinit_class(st)
        if c:
            clinit_c[c] += 1
    wait_ms, threads = Counter(), {}
    for w in waits:
        site = (frames(w) or ["?"])[0]
        wait_ms[site] += duration_ms(w["values"]["duration"])
        threads.setdefault(site, set()).add((w["values"].get("eventThread") or {}).get("javaName"))
    return (self_c.most_common(top), total_c.most_common(top), clinit_c.most_common(top),
            [(site, ms, len(threads[site])) for site, ms in wait_ms.most_common()])


def render(rec, events, only=None, top=8):
    lines = ["%s seed %s: JFR samples and class-init waits per op"
             % (rec["workload"], rec["seed"])]
    for op, samples, waits in ops_events(rec, events):
        if only and only not in op["name"]:
            continue
        self_c, total_c, clinit_c, wait_sites = summarize(samples, waits, top)
        n = len(samples)
        lines.append("")
        lines.append("%s  wall %.0f ms  samples %d  class-init waits %.0f ms" % (
            op["name"], op["end_ms"] - op["start_ms"], n, sum(ms for _, ms, _ in wait_sites)))
        for title, counts in (("self", self_c), ("total", total_c)):
            lines.append("  top %s frames:" % title)
            for f, c in counts:
                lines.append("    %5.1f%%  %5d  %s" % (100.0 * c / n, c, f))
        for cls, c in clinit_c:
            lines.append("  <clinit> samples %5d  %s" % (c, cls))
        for site, ms, k in wait_sites:
            lines.append("  class-init wait %7.0f ms on %d threads at %s" % (ms, k, site))
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("record", help="run record JSON")
    ap.add_argument("jfr", help="JFR recording (.jfr) or its `jfr print --json` (.json)")
    ap.add_argument("--op", help="only ops whose name contains this")
    ap.add_argument("--top", type=int, default=8, help="frames listed per op (default 8)")
    args = ap.parse_args()
    d = json.loads(Path(args.record).read_text())
    print(render(d.get("record", d), load_events(args.jfr), args.op, args.top))


if __name__ == "__main__":
    main()
