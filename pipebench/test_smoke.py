#!/usr/bin/env python3
"""Smoke test of the pipeline benchmark: every workload at tiny size,
traced and untraced, must pass its correctness checks and print exactly
the metrics BENCHMARK.json declares; without the engine's sources the
benchmark must fail without printing a result.

    python3 -m unittest pipebench/test_smoke.py     # from the checkout root
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class SmokeTest(unittest.TestCase):

    def run_bench(self, workload, trace, cwd=ROOT, smoke=True):
        cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7",
               "--seconds", "1", "--trace", str(trace)] + (["--smoke"] if smoke else [])
        return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=900)

    def test_workloads(self):
        s = spec()
        for w in (x["name"] for x in s["workloads"]):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    done = self.run_bench(w, trace)
                    self.assertEqual(done.returncode, 0)
                    result = json.loads(done.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(result["correct"])
                    self.assertGreaterEqual(result["attempted"], 1)
                    self.assertEqual(result["failed"], 0)
                    declared = {m["name"]: m["unit"] for m in s[key]}
                    printed = {k: v["unit"] for k, v in result["metrics"].items()}
                    self.assertEqual(printed, declared)
                    if trace == 0:
                        self.assertTrue(all(v["value"] > 0 for v in result["metrics"].values()))

    def test_fails_without_engine(self):
        with tempfile.TemporaryDirectory() as bare:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "pipebench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            done = self.run_bench("news_stream", 0, cwd=bare, smoke=False)
            self.assertNotEqual(done.returncode, 0)
            self.assertEqual(done.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
