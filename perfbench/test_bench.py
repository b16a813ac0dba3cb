"""Tests of the benchmark itself, on the tiny size of every workload.

Run from the repository root:  python3 perfbench/test_bench.py

Each workload runs its real code path on small inputs, so a broken workload,
generator or output check fails here in minutes rather than after a full
series of runs.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, "perfbench/run.py"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, seed, trace, cwd=ROOT, inject="none"):
    proc = subprocess.run(
        RUN + ["--workload", workload, "--seed", str(seed), "--seconds", "2",
               "--trace", str(trace), "--size", "tiny", "--inject", inject],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    return proc


def result(proc):
    if proc.returncode != 0:
        raise AssertionError(f"run.py exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


class TinyWorkloads(unittest.TestCase):
    traced = {}

    def check(self, res, declared):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])

    def test_end_to_end(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                res = result(run(w["name"], 1, 0))
                self.check(res, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_counts_repeat_for_a_seed(self):
        # the counts later changes cite must not depend on timing
        repeat = {"route_skew": ["scan.reads_per_turn", "route.msgs_out"],
                  "neardup": ["candidates.jobs", "resolve.jobs", "lsh.jobs",
                              "candidates.pairs", "lsh.candidates"]}
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                a = result(run(w["name"], 7, 1))
                b = result(run(w["name"], 7, 1))
                self.check(a, SPEC["per_layer"])
                for name in repeat[w["name"]]:
                    va = a["metrics"][name]["value"]
                    self.assertGreater(va, 0, name)
                    self.assertEqual(va, b["metrics"][name]["value"], name)

    def test_checks_catch_corrupted_output(self):
        # every operation's output is corrupted before its check
        faults = {"neardup": ["keeper", "pair"], "route_skew": ["line", "manifest"]}
        for w in SPEC["workloads"]:
            for fault in faults[w["name"]]:
                with self.subTest(workload=w["name"], fault=fault):
                    proc = run(w["name"], 3, 0, inject=fault)
                    res = result(proc)
                    self.assertFalse(res["correct"])
                    self.assertGreater(res["failed"], 0)
                    self.assertEqual(res["failed"], res["attempted"])

    def test_fails_without_the_program(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-layout")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            proc = run(SPEC["workloads"][0]["name"], 1, 0, cwd=bare)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
