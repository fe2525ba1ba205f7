#!/usr/bin/env python3
"""Tests of the benchmark harness itself, on smoke-size inputs.

    python3 perfbench/smoke_test.py

- Every workload, untraced and traced, prints exactly the metrics
  BENCHMARK.json names for that mode, each with its declared unit, and
  passes its output checks; a traced run reads 0 only for the layers its
  workload bypasses.
- A corrupted expected hash makes query_suite fail its check: the result
  says `correct: false` and the command exits non-zero.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# layers each workload measures when traced; the rest read 0
MEASURED = {
    "fleet_ingest": ("sources.", "rules.", "sinks.", "streaming.", "ingest.", "metrics.",
                     "spark.", "trace."),
    "query_suite": ("queries.", "spark.", "trace."),
}


def run(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    report = json.loads(lines[-2][len("report "):]) if len(lines) >= 2 else None
    return p.returncode, report, (json.loads(lines[-1]) if lines else None), p.stderr


class SmokeTest(unittest.TestCase):
    def check_metrics(self, workload, trace, declared):
        code, report, result, err = run(workload, trace)
        self.assertEqual(code, 0, err[-3000:])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        bypassed = [] if not trace else \
            sorted(k for k in want if not k.startswith(MEASURED[workload]))
        self.assertEqual(report["bypassed"], bypassed)

    def test_every_metric_with_its_unit(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                self.check_metrics(w["name"], 0, SPEC["end_to_end"])
            with self.subTest(workload=w["name"], trace=1):
                self.check_metrics(w["name"], 1, SPEC["per_layer"])

    def test_corrupted_expected_hash_is_caught(self):
        with open(os.path.join(HERE, "expected", "queries.tsv")) as f:
            lines = f.read().splitlines()
        for i, l in enumerate(lines):
            cols = l.split("\t")
            if not l.startswith("#") and cols[2] != "-":
                cols[2] = str(int(cols[2]) + 1)
                lines[i] = "\t".join(cols)
        bad = os.path.join(BUILD_DIR, "smoke", "queries-corrupted.tsv")
        os.makedirs(os.path.dirname(bad), exist_ok=True)
        with open(bad, "w") as f:
            f.write("\n".join(lines) + "\n")
        code, report, result, err = run("query_suite", 0, "--expected", bad)
        self.assertNotEqual(code, 0)
        self.assertIsNotNone(result, err[-3000:])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertTrue(any("content hash" in m for m in report["mismatches"]), report)


if __name__ == "__main__":
    unittest.main()
