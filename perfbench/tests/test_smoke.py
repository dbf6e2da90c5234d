"""Smoke self-test of the benchmark: every workload, untraced and traced.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

Each run is short (--seconds 1) but goes through the same set-up, warm-up,
output checks and metric reduction as a measured run. The test asserts that
every metric named in BENCHMARK.json is printed with its unit, that every
output check passed, and that a traced run writes its trace file.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        r = run(workload, trace)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], r)
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(r["metrics"]), {m["name"] for m in want})
        for m in want:
            got = r["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        if not trace:
            for m in want:
                self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])
        else:
            path = os.path.join(ROOT, ".bench_build", "trace", f"{workload}-seed1.json")
            with open(path) as f:
                t = json.load(f)
            self.assertTrue(t["spans"])
            self.assertTrue(all("self_ms" in s for s in t["spans"]))

    def test_lifecycle(self):
        self.check("lifecycle", 0)
        self.check("lifecycle", 1)

    def test_query_mix(self):
        self.check("query_mix", 0)
        self.check("query_mix", 1)


if __name__ == "__main__":
    unittest.main()
