"""Arithmetic of the benchmark on synthetic spans, stages and samples.

    python3 -m unittest discover -s perfbench/tests -p 'test_metrics.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def stage(run_s, max_run_s, submitted=0.0, completed=1.0, **kw):
    s = {"run_s": run_s, "max_run_s": max_run_s, "submitted": submitted,
         "completed": completed, "sched_s": 0.0, "shuffle_write_bytes": 0,
         "spill_bytes": 0, "gc_s": 0.0}
    s.update(kw)
    return s


class PercentileTest(unittest.TestCase):
    def test_value_and_count(self):
        self.assertEqual(M.percentile([3.0, 1.0, 2.0], 50), (2.0, 3))
        self.assertEqual(M.percentile([1.0, 2.0, 3.0, 4.0], 50), (2.5, 4))
        self.assertEqual(M.percentile([5.0], 90), (5.0, 1))

    def test_interpolates_between_ranks(self):
        v, n = M.percentile([0.0, 10.0, 20.0, 30.0, 40.0], 75)
        self.assertAlmostEqual(v, 30.0)
        v, _ = M.percentile([0.0, 10.0], 25)
        self.assertAlmostEqual(v, 2.5)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            M.percentile([], 50)


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 4.0),
                 span(2, 0, 3.0, 6.0),  # overlaps span 1 by one second
                 span(3, 1, 1.5, 2.0)]
        got = M.self_times(spans)
        self.assertAlmostEqual(got[0], 10.0 - 5.0)
        self.assertAlmostEqual(got[1], 3.0 - 0.5)
        self.assertAlmostEqual(got[2], 3.0)
        self.assertAlmostEqual(got[3], 0.5)

    def test_coverage_adds_up_to_the_window(self):
        spans = [span(0, -1, 1.0, 4.0), span(1, 0, 2.0, 3.0), span(2, -1, 5.0, 6.0)]
        c = M.coverage(spans, (0.0, 10.0))
        self.assertAlmostEqual(c["trace.self_sum_s"], 4.0)
        self.assertAlmostEqual(c["trace.gap_s"], 6.0)

    def test_span_totals_by_name(self):
        spans = [span(0, -1, 0.0, 2.0, "a"), span(1, -1, 3.0, 4.0, "a"),
                 span(2, -1, 5.0, 8.0, "b"), span(3, -1, 20.0, 21.0, "a")]
        self.assertEqual(M.span_totals(spans, ["a", "c"], (0.0, 10.0)), {"a": 3.0, "c": 0.0})


class SerialStageTest(unittest.TestCase):
    def test_rule(self):
        self.assertTrue(M.is_serial(stage(1.0, 1.0)))      # one task
        self.assertTrue(M.is_serial(stage(4.0, 3.0)))      # one task did most
        self.assertFalse(M.is_serial(stage(4.0, 1.0)))     # evenly spread
        self.assertFalse(M.is_serial(stage(4.0, 2.0)))     # exactly half is not most
        self.assertFalse(M.is_serial(stage(0.0, 0.0)))     # no work

    def test_sums_stage_wall_time(self):
        stages = [stage(4.0, 3.0, 0.0, 2.5), stage(4.0, 1.0, 0.0, 9.0),
                  stage(1.0, 1.0, 10.0, 10.5)]
        self.assertAlmostEqual(M.serial_stage_s(stages), 3.0)


class SparkTest(unittest.TestCase):
    def test_driver_time_is_wall_without_jobs(self):
        jobs = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0},
                {"start": 9.0, "end": 12.0}]
        self.assertAlmostEqual(M.driver_s((0.0, 10.0), jobs), 10.0 - 3.0 - 1.0)

    def test_core_idle_fraction(self):
        tasks = [[0, 0.0, 5.0], [0, 0.0, 5.0], [1, 5.0, 10.0]]
        self.assertAlmostEqual(M.core_idle_frac((0.0, 10.0), tasks, 4), 1 - 15.0 / 40.0)

    def test_window_keeps_jobs_that_started_inside(self):
        jobs = [{"start": 1.0, "end": 2.0}, {"start": 11.0, "end": 12.0}]
        stages = [stage(1.0, 1.0, 1.0, 2.0, shuffle_write_bytes=2_000_000),
                  stage(1.0, 0.2, 11.0, 12.0)]
        tasks = [[0, 1.0, 2.0], [1, 11.0, 12.0]]
        m = M.spark_metrics((0.0, 10.0), jobs, stages, tasks, 4)
        self.assertEqual((m["spark.jobs"], m["spark.stages"], m["spark.tasks"]), (1, 1, 1))
        self.assertAlmostEqual(m["spark.shuffle_write_mb"], 2.0)
        self.assertAlmostEqual(m["spark.serial_stage_s"], 1.0)


class FailuresTest(unittest.TestCase):
    samples = [{"op": "q1", "ok": True}, {"op": "q2", "ok": False},
               {"op": "q1", "ok": True}, {"op": "q3", "ok": True}]

    def test_raised_and_wrong_ops(self):
        attempted, failed, names = run.op_failures({"samples": self.samples}, ["q1"])
        self.assertEqual((attempted, failed, names), (4, 3, ["q1", "q2"]))
        self.assertAlmostEqual(M.fail_frac(attempted, failed), 0.75)

    def test_failed_index_check_fails_every_op(self):
        attempted, failed, names = run.op_failures({"samples": self.samples}, ["index.rag"])
        self.assertEqual((attempted, failed, names), (4, 4, ["index.rag", "q2"]))

    def test_nothing_failed(self):
        rec = {"samples": [s for s in self.samples if s["ok"]]}
        self.assertEqual(run.op_failures(rec, []), (3, 0, []))
        self.assertEqual(M.fail_frac(3, 0), 0.0)


class GeneratorTest(unittest.TestCase):
    def test_seeded(self):
        a = gen.tables("dedup", 3, scale=0.1)
        b = gen.tables("dedup", 3, scale=0.1)
        c = gen.tables("dedup", 4, scale=0.1)
        self.assertTrue(all(a[t].equals(b[t]) for t in gen.TABLES))
        self.assertFalse(a["documents"].equals(c["documents"]))
        self.assertEqual({t: a[t].num_rows for t in a}, {t: c[t].num_rows for t in c})

    def test_fixture_properties(self):
        t = gen.tables("index", 5, scale=0.5)
        texts = t["documents"].column("text").to_pylist()
        self.assertEqual(len(set(texts)), len(texts))
        self.assertTrue(any(x.endswith(" dup") for x in texts))
        self.assertLessEqual(len({w for x in texts for w in x.split()}), 31)
        vecs = t["embeddings"].column("embedding").to_pylist()
        self.assertTrue(all(len(v) == 64 and max(map(abs, v)) <= 0.53 for v in vecs))


class UnitTest(unittest.TestCase):
    def test_units(self):
        self.assertEqual(run.unit_of("wall_s"), "s")
        self.assertEqual(run.unit_of("spark.spill_mb"), "MB")
        self.assertEqual(run.unit_of("spark.core_idle_frac"), "frac")
        self.assertEqual(run.unit_of("operators.lsh.pairs_per_candidate"), "ratio")
        self.assertEqual(run.unit_of("spark.jobs"), "count")


if __name__ == "__main__":
    unittest.main()
