#!/usr/bin/env python3
"""Benchmark runner: builds the program from source, runs one workload in a
fresh JVM as a closed loop with one client, checks every result, and prints
the metrics as one JSON object on the last line of stdout.

    python3 perfbench/run.py --workload model_validate --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout. `--trace 0` prints the end-to-end metrics
of BENCHMARK.json; `--trace 1` runs the same loop with a Spark listener, plan
tracking and file-system statistics attached and prints the per-layer
metrics. Build output and run records go under `.bench_build/`; each run's
indexes, logs, shards, tables and CSVs live in a fresh directory there that
is removed when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

ROOT = Path.cwd()
SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
BUILD = ROOT / ".bench_build" / "perfbench"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
WORKLOADS = ("model_validate", "curate_batch", "index_daily")
# A fixed heap (-Xms = -Xmx) keeps peak RSS from following G1's resizing.
HEAP = "2g"
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    bench = sorted((HERE / "scala").glob("*.scala"))
    main = sorted(SRC.rglob("*.scala")) if SRC.is_dir() else []
    if not main:
        fail("no program sources under %s; run from the root of a checkout" % SRC)
    if not SPARK_JARS.is_dir():
        fail("no Spark jars at %s (set SPARK_HOME)" % SPARK_JARS)
    return main + bench


def build():
    """Compile the program and the harness together; reuse a build whose
    sources are unchanged."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    digest = digest.hexdigest()
    classes, stamp = BUILD / "classes", BUILD / "classes.sha256"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(SPARK_JARS / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest)
    return classes


def layer_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def run_jvm(classes, args, work):
    out = work / "record.json"
    (work / "tmp").mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + str(work / "tmp"),
            "-Dlog4j2.configurationFile=" + str(HERE / "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([str(classes), str(RESOURCES), str(SPARK_JARS / "*")]),
              "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores),
              "--work", str(work), "--out", str(out)])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=str(work))
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not out.is_file():
        fail("benchmark JVM exited with code %d" % rc)
    return json.loads(out.read_text()), cores


def on_term(signum, frame):
    # unwind through the finally blocks: stop the JVM, remove the run dir
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build()
    names = layer_metrics() if args.trace else None
    work = BUILD / "runs" / uuid.uuid4().hex
    try:
        rec, cores = run_jvm(classes, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    records = BUILD / "records"
    records.mkdir(parents=True, exist_ok=True)
    record_file = records / ("%s-s%d-t%d-%d.json" % (args.workload, args.seed, args.trace,
                                                     int(time.time())))
    record_file.write_text(json.dumps(rec))

    attempted = rec["attempted"]
    failed = len(rec["errors"])  # failed ops plus a failed final check
    if args.trace:
        values = metrics.per_layer(rec, names, cores)
        stamps = {}
    else:
        values, stamps = metrics.end_to_end(rec)
    stamp = {k: rec[k] for k in ("workload", "seed", "trace", "nproc", "cores", "heap_max_mb",
                                 "loadavg_before", "loadavg_after", "inputs", "extra",
                                 "session_s", "setup_s", "loop_s", "ingested_bytes",
                                 "stored_bytes")}
    stamp.update(heap=HEAP, samples=stamps, attempted=attempted, failed=failed,
                 fail_ratio=failed / attempted if attempted else 1.0,
                 errors=rec["errors"][:20],
                 metrics={k: v for k, (v, _) in values.items()})
    record_file.write_text(json.dumps(dict(stamp, record=rec)))
    print("perfbench: " + json.dumps({k: v for k, v in stamp.items() if k != "metrics"}),
          file=sys.stderr)
    for k, (v, unit) in values.items():
        print("%-40s %14.6g %s" % (k, v, unit), file=sys.stderr)
    print("%-40s %14.6g %s" % ("fail_ratio", stamp["fail_ratio"], "ratio"), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in values.items()}}))
    sys.stdout.flush()
    if failed or not attempted:
        sys.exit(1)


if __name__ == "__main__":
    main()
