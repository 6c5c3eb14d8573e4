"""Tiny-scale runs of each workload through the real command, plus the
failure case: without the program's sources the command must exit
non-zero and print no result. Builds the program on first use and
takes a few minutes.

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def bench(cwd, *args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=900)


class SmokeTest(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def run_workload(self, workload, trace):
        res = bench(ROOT, "--workload", workload, "--seed", "11", "--seconds", "1",
                    "--trace", str(trace), "--scale", "0.3")
        self.assertEqual(res.returncode, 0, res.stderr[-2000:])
        last = json.loads(res.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        return last["metrics"]

    def test_workloads(self):
        for w in (w["name"] for w in self.spec["workloads"]):
            with self.subTest(workload=w):
                e2e = self.run_workload(w, 0)
                self.assertEqual(list(e2e), [m["name"] for m in self.spec["end_to_end"]])
                self.assertTrue(all(v["value"] > 0 for v in e2e.values()))
                layers = self.run_workload(w, 1)
                self.assertEqual(list(layers), [m["name"] for m in self.spec["per_layer"]])
                units = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
                self.assertTrue(all(v["unit"] == units[k] for k, v in layers.items()))

    def test_fails_without_the_program(self):
        bare = os.path.join(HERE, ".work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".build", ".work", "__pycache__"))
        try:
            res = bench(bare, "--workload", "dedup", "--seed", "1", "--seconds", "1",
                        "--trace", "0")
            self.assertNotEqual(res.returncode, 0)
            self.assertNotIn('"metrics"', res.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
