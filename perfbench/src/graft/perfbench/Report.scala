package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.Q

/** Writes the run's raw records as `<out>/result.json`. Every time is in
  * epoch seconds, so spans (nanoTime) and Spark events (epoch millis)
  * share one clock.
  */
object Report {

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def list(xs: Iterable[Any]): JList[Any] = {
    val l = new JList[Any]()
    xs.foreach(l.add)
    l
  }

  def write(run: Main.Run, workload: String, cores: Int, setup: Seq[Double],
            t0: Long, t1: Long, anchor: (Long, Long),
            listener: Option[ExecListener]): Unit = {
    def sec(nanos: Long): Double = anchor._2 / 1e3 + (nanos - anchor._1) / 1e9
    def ms(millis: Long): Double = millis / 1e3
    val root = obj(
      "workload" -> workload,
      "cores" -> cores,
      "setup_s" -> list(setup),
      "window" -> list(Seq(sec(t0), sec(t1))),
      "samples" -> list(run.samples.map(s => obj("op" -> s.op, "kind" -> s.kind,
        "pass" -> s.pass, "start" -> sec(s.start), "end" -> sec(s.end), "ok" -> s.ok,
        "error" -> s.error))),
      "passes" -> list(run.passes.map { case (p, a, b) =>
        obj("pass" -> p, "start" -> sec(a), "end" -> sec(b)) }),
      "probes" -> obj(run.probes.toSeq: _*),
      "checks" -> obj(run.checks.toSeq: _*),
      "info" -> obj(run.info.toSeq: _*),
      "spans" -> list(run.tracer.spans.map(s => obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start" -> sec(s.start), "end" -> sec(s.end)))))
    listener.foreach { l =>
      root.put("jobs", list(l.jobs.map(j => obj("id" -> j.id, "span" -> j.span,
        "start" -> ms(j.start), "end" -> ms(j.end)))))
      root.put("stages", list(l.stages.map(s => obj("id" -> s.id, "span" -> s.span,
        "submitted" -> ms(s.submitted), "completed" -> ms(s.completed), "tasks" -> s.tasks,
        "run_s" -> s.runMs / 1e3, "max_run_s" -> s.maxRunMs / 1e3, "gc_s" -> s.gcMs / 1e3,
        "sched_s" -> s.schedMs / 1e3, "shuffle_write_bytes" -> s.shuffleWrite,
        "spill_bytes" -> s.spill))))
      root.put("tasks", list(l.tasks.map(t => list(Seq(t.stage, ms(t.launch), ms(t.finish))))))
    }
    new ObjectMapper().writeValue(Paths.get(s"${run.out}/result.json").toFile, root)
  }

  /** The DuckDB oracle SQL of the workload's queries. */
  def writeOracle(out: String, ops: Seq[Q]): Unit = {
    val m = obj(ops.flatMap(q => q.oracle.map(q.name -> _)): _*)
    Files.createDirectories(Paths.get(out))
    new ObjectMapper().writeValue(Paths.get(s"$out/oracle_sql.json").toFile, m)
  }
}
