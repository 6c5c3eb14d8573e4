#!/usr/bin/env python3
"""Run one workload over several seeds and print each end-to-end metric's
median and interquartile spread (IQR / median), the steadiness figure the
bounds in BENCHMARK.json are judged against.

    python3 perfbench/spread.py --workload dedup --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="an inclusive range a-b")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in range(lo, hi + 1):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", a.workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(a.trace)],
                             stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        detail = json.loads(lines[-2]) if len(lines) > 1 else {}
        print(json.dumps({"seed": seed, "exit": out.returncode, **last, **detail}),
              flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        b = bounds.get(k)
        note = "" if b is None else f" bound {b} ({'ok' if spread < b / 3 else 'WIDE'})"
        print(f"{k}: median {med:.4f} spread {spread:.4f}{note}")


if __name__ == "__main__":
    main()
