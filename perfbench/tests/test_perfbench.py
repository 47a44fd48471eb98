"""Self-test of the benchmark at tiny scale.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. For every workload it checks that an
untraced run prints every end-to-end metric of BENCHMARK.json with its
unit, that a traced run prints every per-layer metric with its unit, and
that a deliberately corrupted output makes the run fail its check. The
first test builds the harness if the checkout has no cached build.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace=0, corrupt=False):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--tiny"] + ["--corrupt"] * corrupt
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=1200)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, result, proc.stderr


class PerfbenchSelfTest(unittest.TestCase):
    def check_metrics(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        got = result["metrics"]
        self.assertEqual(set(got), {m["name"] for m in wanted})
        for m in wanted:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])

    def test_workloads(self):
        for w in SPEC["workloads"]:
            name = w["name"]
            with self.subTest(workload=name, trace=0):
                code, result, err = run(name)
                self.assertEqual(code, 0, err[-3000:])
                self.assertTrue(result["correct"])
                self.assertGreaterEqual(result["attempted"], 1)
                self.assertEqual(result["failed"], 0)
                self.check_metrics(result, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])
            with self.subTest(workload=name, trace=1):
                code, result, err = run(name, trace=1)
                self.assertEqual(code, 0, err[-3000:])
                self.assertTrue(result["correct"])
                self.check_metrics(result, SPEC["per_layer"])
                trace = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                                     "traces", f"{name}-seed7")
                for f in ("spans.jsonl", "jobs.jsonl", "layers.json"):
                    self.assertTrue(os.path.isfile(os.path.join(trace, f)), f)
            with self.subTest(workload=name, corrupt=True):
                code, result, err = run(name, corrupt=True)
                self.assertNotEqual(code, 0)
                self.assertFalse(result["correct"])
                self.assertIn("CHECK FAILED", err)


if __name__ == "__main__":
    unittest.main()
