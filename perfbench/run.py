#!/usr/bin/env python3
"""graft benchmark: one closed-loop client, one `local[n]` session.

    python3 perfbench/run.py --workload dedup --seed 7 --seconds 10 --trace 0

Builds the program from source (once per checkout), generates the
workload's inputs from the seed, runs the JVM main
(`perfbench/src/graft/perfbench/Main.scala`) for one measured window,
checks every op's output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. The exit code is 0
only when every output is correct.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("dedup", "index")
CORES = 4
JVM_TIMEOUT_S = 165
FAMILIES = ("knn", "rag", "cc")
DEDUP_QUERIES = ("q53_jaccard", "q58_dedup_groups", "q128_setsim_join",
                 "q194_containment_join")
PROBES = ("core.table_scan", "functions.dotScaled", "functions.sq8",
          "functions.md5words", "operators.cellAssign", "operators.minhash",
          "operators.connectedComponents", "operators.setSimJoin",
          "operators.containmentJoin")
RATIOS = ("operators.setsim.verified_per_candidate",
          "operators.lsh.pairs_per_candidate")


def layer_names():
    """Every span name that becomes a `<name>_s` per-layer metric."""
    names = [f"queries.{q}" for q in DEDUP_QUERIES]
    names += [f"operators.{f}.{p}" for f in FAMILIES
              for p in ("build", "append", "retire", "serve", "maintain")]
    names += ["core.store_save", "core.store_load", "streaming.resume"]
    names += [f"streaming.{f}.fold" for f in FAMILIES]
    return names


def run_jvm(workload, inputs, out, seconds, trace):
    cmd = (["java"] + build.jvm_flags() +
           [f"-Djava.io.tmpdir={out}/tmp", "-cp", build.classpath(),
            "graft.perfbench.Main", "--workload", workload, "--inputs", inputs,
            "--out", out, "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(CORES)])
    os.makedirs(f"{out}/tmp", exist_ok=True)
    with open(f"{out}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"run.py: the JVM main exceeded {JVM_TIMEOUT_S} s")
    if code != 0:
        with open(f"{out}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"run.py: the JVM main exited with {code}")
    with open(f"{out}/result.json") as f:
        return json.load(f)


def op_failures(rec, wrong):
    """(attempted, failed, names of failing ops and checks): an op fails
    when it raised or its output disagreed with the check. A failed index
    check fails every op, since they all built the state it checked."""
    samples = rec["samples"]
    bad_state = any(w.startswith("index.") for w in wrong)
    failed = [s for s in samples if bad_state or not s["ok"] or s["op"] in wrong]
    names = sorted({s["op"] for s in samples if not s["ok"]} | set(wrong))
    return len(samples), len(failed), names


def end_to_end(rec):
    first = rec["passes"][0]
    pass_samples = [s for s in rec["samples"] if s["pass"] == 0]
    lat = [s["end"] - s["start"] for s in pass_samples]
    p50, n = M.percentile(lat, 50)
    return {
        "setup_s": (statistics.median(rec["setup_s"]), "s", len(rec["setup_s"])),
        "wall_s": (first["end"] - first["start"], "s", 1),
        "op_p50_s": (p50, "s", n),
    }


def index_detail(rec):
    """The index lifecycle's own end-to-end figures, per first pass."""
    by = {}
    for s in rec["samples"]:
        if s["pass"] == 0:
            by.setdefault(s["kind"], []).append(s["end"] - s["start"])
    out = {}
    for kind in ("build", "serve", "append", "maintain"):
        v, n = M.percentile(by[kind], 50)
        out[f"index.{kind}_s"] = (v, "s", n)
    out["index.store_mb"] = (rec["info"]["index.store_bytes.p0"] / 1e6, "MB", 1)
    return out


def per_layer(rec, workload):
    first = rec["passes"][0]
    window = (first["start"], first["end"])
    spans = rec["spans"]
    # layer totals take every span of the run: a traced index run retires
    # one batch after the window
    everything = (window[0], float("inf"))
    out = {f"{k}_s": v for k, v in M.span_totals(spans, layer_names(), everything).items()}
    out["core.store_commits"] = sum(1 for s in spans if s["name"] == "core.store_save")
    out.update({f"{p}_s": rec["probes"].get(p, 0.0) for p in PROBES})
    out.update({r: rec["probes"].get(r, 0.0) for r in RATIOS})
    out.update(M.spark_metrics(window, rec["jobs"], rec["stages"], rec["tasks"],
                               rec["cores"]))
    out.update(M.coverage(spans, window))
    out["trace.wall_s"] = window[1] - window[0]
    out["setup.first_s"] = rec["setup_s"][0]
    detail = index_detail(rec) if workload == "index" else {}
    for k in ("index.build_s", "index.serve_s", "index.append_s", "index.maintain_s",
              "index.store_mb"):
        out[k] = detail[k][0] if k in detail else 0.0
    return out


UNITS = {"_s": "s", "_mb": "MB", "_frac": "frac", "_candidate": "ratio"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the tests use a small one)")
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work directory")
    a = ap.parse_args()

    build.ensure()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        sizes = gen.write(a.workload, a.seed, f"{work}/inputs", a.scale)
        print(json.dumps({"inputs": sizes, "gen_s": time.time() - t0}))
        rec = run_jvm(a.workload, f"{work}/inputs", f"{work}/out", a.seconds, a.trace)
        if a.workload == "dedup":
            wrong = check.queries(f"{work}/inputs", f"{work}/out")
        else:
            wrong = sorted(k for k, ok in rec["checks"].items() if not ok)
        attempted, failed, failing = op_failures(rec, wrong)
        e2e = end_to_end(rec)
        if a.workload == "index":
            e2e.update(index_detail(rec))
        # every figure with its unit and sample count, then the result line
        print(json.dumps({"detail": {k: {"value": v, "unit": u, "n": n}
                                     for k, (v, u, n) in e2e.items()},
                          "fail_frac": M.fail_frac(attempted, failed),
                          "failing_ops": failing}))
        if a.trace:
            values = per_layer(rec, a.workload)
        else:
            values = {k: e2e[k][0] for k in ("setup_s", "wall_s", "op_p50_s")}
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": unit_of(k)}
                                      for k, v in values.items()}}))
        return 0 if correct else 1
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
