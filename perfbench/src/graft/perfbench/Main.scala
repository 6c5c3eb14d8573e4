package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Graft

/** The benchmark's JVM half: one closed-loop client driving one
  * `local[n]` session through a workload's ops for a fixed window, then
  * writing raw samples, spans and Spark execution records as JSON. The
  * Python half (`perfbench/run.py`) generates the inputs, runs this
  * main, checks outputs and turns the records into metrics.
  *
  * Usage: Main --workload W --inputs DIR --out DIR --seconds S
  *             --trace 0|1 [--cores N]
  */
object Main {

  /** One timed op execution. `kind` groups samples into a metric. */
  final case class Sample(op: String, kind: String, pass: Int, start: Long,
                          end: Long, ok: Boolean, error: String)

  final class Run(val spark: SparkSession, val inputs: String, val out: String,
                  val tracer: Tracer) {
    val samples = ArrayBuffer.empty[Sample]
    val passes = ArrayBuffer.empty[(Int, Long, Long)] // pass, start, end
    val probes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def table(name: String): DataFrame = Graft.table(spark, inputs, name)

    /** Time `body` as one sample of `kind`, inside a span named `span`.
      * An exception fails the op; the run goes on.
      */
    def op[T](name: String, kind: String, pass: Int, span: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val r = try Right(tracer.span(span)(body)) catch { case e: Throwable => Left(e) }
      val t1 = System.nanoTime()
      samples += Sample(name, kind, pass, t0, t1, r.isRight,
        r.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
          .getOrElse(""))
      r.left.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
      r.toOption
    }

    /** Median seconds of `n` drained executions of a per-layer probe. */
    def probe(name: String, n: Int = 3)(body: => Any): Unit = {
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        tracer.span(name)(body)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      probes(name) = ts(n / 2)
    }

    /** Release what an op pinned (checkpoints, caches), outside its timing. */
    def sweep(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
    }
  }

  /** Drain a frame by executing its own physical plan (a `count()` would
    * let the optimizer prune the projection being measured).
    */
  def drain(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val inputs = args("inputs")
    val out = args("out")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args.getOrElse("cores", "4")
    val runId = s"pb${ProcessHandle.current().pid()}"
    Files.createDirectories(Paths.get(out))
    val anchor = (System.nanoTime(), System.currentTimeMillis())

    // set-up: session start + input registration + warm-up, three times
    // in this JVM (the first pays the JVM's own start); the median is
    // setup_s and the last session stays for the measured window
    val setup = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (round <- 1 to 3) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(cores, out)
      warmUp(spark, inputs)
      setup += (System.nanoTime() - t0) / 1e9
    }
    val listener = new ExecListener(runId)
    if (trace) spark.sparkContext.addSparkListener(listener)
    val run = new Run(spark, inputs, out, new Tracer(spark.sparkContext, trace, runId))

    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    workload match {
      case "dedup" => Workloads.queries(run, Workloads.Dedups, deadline)
      case "index" => Workloads.index(run, deadline)
      case w                      => sys.error(s"unknown workload '$w'")
    }
    val t1 = System.nanoTime()
    if (trace) Workloads.probes(run, workload)
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    Report.write(run, workload, cores.toInt, setup.toSeq, t0, t1, anchor,
      if (trace) Some(listener) else None)
    spark.stop()
  }

  private def session(cores: String, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    Graft.tune(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The warm-up every workload shares: scan each input table once and
    * run one aggregate over the largest.
    */
  private def warmUp(s: SparkSession, inputs: String): Unit = {
    Seq("lineitem", "orders", "events", "documents", "embeddings")
      .foreach(t => drain(Graft.table(s, inputs, t)))
    drain(Graft.table(s, inputs, "documents").groupBy(col("lang")).agg(sum(col("n_chars"))))
  }
}
