#!/usr/bin/env python3
"""The benchmark's own tests: tiny-size runs of every workload.

    python3 aqpbench/test_bench.py            # all workloads
    python3 aqpbench/test_bench.py -k catalog  # workloads whose name matches

For each workload:
  * a --trace 0 run reports every end_to_end metric of BENCHMARK.json with
    its unit, correct = true and no failed operation;
  * a --trace 1 run reports every per_layer metric with its unit, and writes
    the artifact with the spans (and, for wordcount-ladder, the curve);
  * a run whose expected answer is deliberately corrupted reports failed
    operations and correct = false, which proves the output check is live.
Runs from the repository root; each tiny run takes well under a minute.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace=0, corrupt=0):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny", "1", "--corrupt-expected", str(corrupt)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class Workloads(unittest.TestCase):
    def check_metrics(self, result, specs):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        got = result["metrics"]
        self.assertEqual(set(got), {m["name"] for m in specs})
        for m in specs:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])

    def check_workload(self, w):
        r = run(w, trace=0)
        self.check_metrics(r, SPEC["end_to_end"])
        self.assertTrue(r["correct"])
        self.assertGreater(r["attempted"], 0)
        self.assertEqual(r["failed"], 0)
        for m in SPEC["end_to_end"]:
            self.assertNotEqual(r["metrics"][m["name"]]["value"], 0, m["name"])

        t = run(w, trace=1)
        self.check_metrics(t, SPEC["per_layer"])
        self.assertTrue(t["correct"])
        self.assertEqual(t["metrics"]["failed_frac"]["value"], 0)
        with open(os.path.join(ROOT, ".bench_out", f"{w}-seed7-trace1.json")) as fh:
            art = json.load(fh)
        self.assertGreater(len(art["spans"]), 0)
        if w == "wordcount-ladder":
            self.assertEqual([r["p"] for r in art["ladder"]], [1.0, 0.5, 0.25, 0.1, 0.01, 0.001])
            self.assertEqual(art["ladder"][0]["data_error"], 0.0)

        bad = run(w, corrupt=1)
        self.assertFalse(bad["correct"])
        self.assertGreater(bad["failed"], 0)


def make(w):
    return lambda self: self.check_workload(w)


for spec in SPEC["workloads"]:
    setattr(Workloads, "test_" + spec["name"].replace("-", "_"), make(spec["name"]))

if __name__ == "__main__":
    unittest.main()
