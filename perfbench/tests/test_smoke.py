"""Smoke tests for the benchmark: one tiny run per workload, plus the
faults its output checks must catch.

    python3 -m unittest discover -s perfbench/tests

Each case starts one benchmark JVM on a few-MB corpus (the query sweep
always uses its fixed tables), so the file takes a few minutes.
"""
import json
import os
import re
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

# The report lines every workload prints, by the names the workloads
# document, with their units.
REPORTED = {
    "ocf_export": [("ingest_mb_per_s", "MB/s"), ("out_bytes_per_in_byte", "ratio")],
    "kafka_roundtrip": [("ingest_mb_per_s", "MB/s"), ("decode_msgs_per_s", "msg/s"),
                        ("out_bytes_per_in_byte", "ratio")],
    "query_sweep": [("sweep_s", "s"), ("query_p50_s", "s")],
}


def run(workload, trace=0, inject=None):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    if inject:
        cmd += ["--inject", inject]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    assert p.returncode == 0, p.stdout
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


class Smoke(unittest.TestCase):
    def check_result(self, workload, report, res, trace):
        listed = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in listed))
        for m in listed:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(res["metrics"][m["name"]]["value"], (int, float), m["name"])
        text = "\n".join(report)
        for name, unit in REPORTED[workload] + [("failed_frac", "ratio")]:
            self.assertRegex(text, rf"{re.escape(name)} = [-0-9.e]+ {re.escape(unit)}")
        self.assertGreaterEqual(res["attempted"], 1)

    def test_ocf_export(self):
        report, res = run("ocf_export")
        self.check_result("ocf_export", report, res, trace=False)
        self.assertTrue(res["correct"], report)
        self.assertEqual(res["failed"], 0)
        for m in SPEC["end_to_end"]:
            self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_ocf_export_corrupt_output_fails_the_check(self):
        report, res = run("ocf_export", inject="corrupt-ocf")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertTrue(any("OCF read-back" in l for l in report), report)

    def test_kafka_roundtrip_traced(self):
        report, res = run("kafka_roundtrip", trace=1)
        self.check_result("kafka_roundtrip", report, res, trace=True)
        self.assertTrue(res["correct"], report)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        # measured directly, so positive even on a tiny corpus; the
        # subtraction legs can go either way at this size
        for name in ["sources.scan_s", "sources.frames_read_s", "sinks.frames",
                     "sinks.frame_bytes", "registry.calls", "spark.jobs", "spark.tasks"]:
            self.assertGreater(m[name], 0, name)
        # one junk frame follows every 100th frame; `correct` above already
        # holds the exact count check, this pins the share's range
        self.assertLess(m["sources.decoded_per_attempted"], 1.0)
        self.assertGreater(m["sources.decoded_per_attempted"], 0.98)

    def test_kafka_dropped_frame_fails_the_check(self):
        report, res = run("kafka_roundtrip", inject="drop-frame")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])
        self.assertTrue(any("produced" in l for l in report), report)

    def test_query_sweep_counts_a_throwing_query(self):
        report, res = run("query_sweep", inject="throw-query")
        self.check_result("query_sweep", report, res, trace=False)
        self.assertFalse(res["correct"])
        # three warm-up passes, one timed pass and the check pass
        self.assertGreaterEqual(res["failed"], 5)
        problems = [l for l in report if l.strip().startswith("problem:")]
        self.assertEqual(len(problems), res["failed"], report)
        self.assertTrue(all("injected_throw" in l for l in problems), problems)
        frac = float(re.search(r"failed_frac = ([0-9.]+)", "\n".join(report)).group(1))
        self.assertAlmostEqual(frac, res["failed"] / res["attempted"], places=4)


if __name__ == "__main__":
    unittest.main()
