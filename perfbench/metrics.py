"""Arithmetic over the raw records the JVM half writes (result.json).

Pure functions only, so `tests/test_metrics.py` can check them on
synthetic spans and samples.
"""


def percentile(values, q):
    """The q-th percentile (0..100, linear interpolation) and the number of
    samples it was taken over, as (value, n)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    pos = (n - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: duration minus the time covered by its child spans}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], []))
            for s in spans}


def is_serial(stage, share=0.5):
    """A stage where one task did most of the stage's work."""
    return stage["run_s"] > 0 and stage["max_run_s"] > share * stage["run_s"]


def serial_stage_s(stages, share=0.5):
    """Summed wall time of the serial stages."""
    return sum(max(0.0, s["completed"] - s["submitted"])
               for s in stages if is_serial(s, share))


def fail_frac(attempted, failed):
    return failed / attempted if attempted else 0.0


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def driver_s(window, jobs):
    """Wall time inside the window with no Spark job running."""
    lo, hi = window
    return (hi - lo) - union_length(clip([(j["start"], j["end"]) for j in jobs], lo, hi))


def core_idle_frac(window, tasks, cores):
    """Share of core-seconds in the window that ran no task."""
    lo, hi = window
    busy = sum(e - s for s, e in clip([(t[1], t[2]) for t in tasks], lo, hi))
    return max(0.0, 1.0 - busy / (cores * (hi - lo)))


def spark_metrics(window, jobs, stages, tasks, cores):
    """The spark.* layer metrics over the jobs that started in the window."""
    lo, hi = window
    jobs = [j for j in jobs if lo <= j["start"] <= hi]
    stages = [s for s in stages if lo <= s["submitted"] <= hi]
    tasks = [t for t in tasks if lo <= t[1] <= hi]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.task_busy_s": sum(t[2] - t[1] for t in tasks),
        "spark.sched_delay_s": sum(s["sched_s"] for s in stages),
        "spark.driver_s": driver_s(window, jobs),
        "spark.core_idle_frac": core_idle_frac(window, tasks, cores),
        "spark.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
        "spark.spill_mb": sum(s["spill_bytes"] for s in stages) / 1e6,
        "spark.gc_s": sum(s["gc_s"] for s in stages),
        "spark.serial_stage_s": serial_stage_s(stages),
    }


def span_totals(spans, names, window):
    """{name: summed duration of spans with that name inside the window}."""
    lo, hi = window
    out = {n: 0.0 for n in names}
    for s in spans:
        if s["name"] in out and lo <= s["start"] <= hi:
            out[s["name"]] += s["end"] - s["start"]
    return out


def coverage(spans, window):
    """How the window's wall time splits: the summed self time of every
    span in it (= the time top-level spans cover) and the untraced gap."""
    lo, hi = window
    inside = [s for s in spans if lo <= s["start"] <= hi]
    selfs = self_times(inside)
    covered = sum(selfs.values())
    return {"trace.self_sum_s": covered, "trace.gap_s": (hi - lo) - covered}
