"""Tests of jfr_ops' attribution and rendering: python3 -m unittest discover tools"""
import json
import tempfile
import unittest
from datetime import datetime, timezone
from pathlib import Path

import jfr_ops

# 2026-10-18T20:00:00Z in epoch ms
T0 = 1792353600000.0


def stamp(ms):
    """The JFR time stamp `ms` after T0, with nanosecond digits."""
    s, frac = divmod(T0 + ms, 1000.0)
    whole = datetime.fromtimestamp(s, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    return "%s.%09dZ" % (whole, round(frac * 1e6))


def method(cls, name):
    return {"method": {"type": {"name": cls}, "name": name}, "lineNumber": 1}


def sample(ms, *stack):
    return {"type": "jdk.ExecutionSample",
            "values": {"startTime": stamp(ms), "stackTrace": {
                "truncated": False, "frames": [method(*f) for f in stack]}}}


def wait(ms, dur, thread, monitor, *stack):
    return {"type": "jdk.JavaMonitorWait",
            "values": {"startTime": stamp(ms), "duration": dur,
                       "eventThread": {"javaName": thread},
                       "monitorClass": {"name": monitor},
                       "stackTrace": {"frames": [method(*f) for f in stack]}}}


SUBSTRING = ("org/apache/spark/unsafe/types/UTF8String", "substring")
NGRAMS = ("graft/functions/TextUtil$", "charNgrams")
BANDS = ("graft/functions/MinHashUtil$", "bandHashes")
ICU_LOWER = ("org/apache/spark/sql/catalyst/util/CollationSupport$Lower", "execBinaryICU")
ICU_INIT = ("org/apache/spark/sql/catalyst/util/CollationAwareUTF8String", "<clinit>")

# an untimed set-up op, then two timed ops: the pairs op (0-1000 ms) and a
# sink write (1100-1500 ms)
RECORD = {
    "workload": "curate_batch", "seed": 812,
    "ops": [
        {"name": "setup", "start_ms": T0 - 5000, "end_ms": T0 - 10, "loop": False},
        {"name": "ops.dedup.pairs", "start_ms": T0, "end_ms": T0 + 1000, "loop": True},
        {"name": "ops.sink.write", "start_ms": T0 + 1100, "end_ms": T0 + 1500, "loop": True},
    ],
}

EVENTS = [
    sample(-200, SUBSTRING, NGRAMS),           # in the set-up op: dropped
    sample(10, SUBSTRING, NGRAMS),
    sample(20, SUBSTRING, NGRAMS),
    sample(30, BANDS),
    sample(40, ("com/ibm/icu/impl/UCaseProps", "getCaseLocale"), ICU_INIT, ICU_LOWER),
    # three threads wait behind the <clinit>; one wait on another monitor
    wait(41, "PT0.5S", "worker-1", "[I", ICU_LOWER),
    wait(41, "PT0.5S", "worker-2", "[I", ICU_LOWER),
    wait(42, "PT0.25S", "worker-3", "[I", ICU_LOWER),
    wait(50, "PT2S", "worker-1", "java/lang/Object", BANDS),
    sample(1050, BANDS),                       # between the two ops: dropped
    sample(1200, ("org/apache/parquet/hadoop/ParquetFileWriter", "end")),
    sample(1600, BANDS),                       # after every op: dropped
]


class StampTest(unittest.TestCase):
    def test_nanosecond_stamps_keep_their_fraction(self):
        self.assertAlmostEqual(jfr_ops.epoch_ms("2026-10-18T20:00:01.234567891Z"),
                               T0 + 1234.567891, places=3)

    def test_offset_stamps_convert_to_utc(self):
        self.assertAlmostEqual(jfr_ops.epoch_ms("2026-10-18T22:00:00.5+02:00"), T0 + 500)

    def test_durations(self):
        self.assertAlmostEqual(jfr_ops.duration_ms("PT1.744721285S"), 1744.721285)
        self.assertAlmostEqual(jfr_ops.duration_ms("PT1M2S"), 62000.0)
        self.assertAlmostEqual(jfr_ops.duration_ms(2500000), 2.5)


class AttributionTest(unittest.TestCase):
    def test_events_go_to_the_timed_op_whose_window_holds_them(self):
        got = [(op["name"], len(samples), len(waits))
               for op, samples, waits in jfr_ops.ops_events(RECORD, EVENTS)]
        self.assertEqual(got, [("ops.dedup.pairs", 4, 3), ("ops.sink.write", 1, 0)])

    def test_summary_counts_self_total_clinit_and_waits(self):
        (_, samples, waits), _ = jfr_ops.ops_events(RECORD, EVENTS)
        self_c, total_c, clinit_c, wait_sites = jfr_ops.summarize(samples, waits, top=2)
        substring = "org.apache.spark.unsafe.types.UTF8String.substring"
        ngrams = "graft.functions.TextUtil$.charNgrams"
        lower = "org.apache.spark.sql.catalyst.util.CollationSupport$Lower.execBinaryICU"
        self.assertEqual(self_c[0], (substring, 2))
        self.assertEqual(len(self_c), 2)
        self.assertEqual(dict(total_c), {substring: 2, ngrams: 2})
        self.assertEqual(clinit_c,
                         [("org.apache.spark.sql.catalyst.util.CollationAwareUTF8String", 1)])
        self.assertEqual(wait_sites, [(lower, 1250.0, 3)])


class RenderTest(unittest.TestCase):
    def test_render_from_a_converted_json_file(self):
        with tempfile.TemporaryDirectory() as d:
            path = Path(d) / "run.json"
            path.write_text(json.dumps({"recording": {"events": EVENTS}}))
            lines = jfr_ops.render(RECORD, jfr_ops.load_events(path), top=3).splitlines()
        self.assertEqual(lines[0],
                         "curate_batch seed 812: JFR samples and class-init waits per op")
        self.assertIn("ops.dedup.pairs  wall 1000 ms  samples 4  class-init waits 1250 ms",
                      lines)
        self.assertIn("     50.0%      2  org.apache.spark.unsafe.types.UTF8String.substring",
                      lines)
        self.assertIn("  class-init wait    1250 ms on 3 threads at "
                      "org.apache.spark.sql.catalyst.util.CollationSupport$Lower.execBinaryICU",
                      lines)
        self.assertIn("ops.sink.write  wall 400 ms  samples 1  class-init waits 0 ms", lines)

    def test_op_filter(self):
        out = jfr_ops.render(RECORD, EVENTS, only="sink")
        self.assertNotIn("ops.dedup.pairs", out)
        self.assertIn("ops.sink.write", out)


if __name__ == "__main__":
    unittest.main()
