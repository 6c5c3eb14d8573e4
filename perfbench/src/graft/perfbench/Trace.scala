package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: `parent` is the enclosing span's id (-1 at
  * top level), times are `System.nanoTime` readings.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** Span tracer. Every span sets the Spark job group to its own id, so the
  * jobs a layer call submits — eager checkpoints inside the call as well
  * as the final drain — are attributed to the innermost enclosing span.
  * Spans are kept in memory and written when the run ends. With
  * `enabled = false` a span costs one branch: the end-to-end run is
  * untraced.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(group(id), name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), "")
          case None    => sc.clearJobGroup()
        }
        done += Span(id, parent, name, t0, t1)
      }
    }

  private def group(id: Int): String = s"$runId:$id"
}

/** Raw Spark execution records: jobs with the span that submitted them,
  * stages with their task aggregates, and each task's busy interval. All
  * arithmetic over them happens in `perfbench/metrics.py`.
  */
final class ExecListener(runId: String) extends SparkListener {
  final case class Job(id: Int, span: Int, start: Long, var end: Long)
  final case class Stage(id: Int, attempt: Int, span: Int, submitted: Long,
                         completed: Long, tasks: Int, runMs: Long, maxRunMs: Long,
                         gcMs: Long, schedMs: Long, shuffleWrite: Long, spill: Long)
  final case class Task(stage: Int, launch: Long, finish: Long)

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]
  private val stageSpan = scala.collection.mutable.Map.empty[Int, Int]
  // per (stage, attempt): task count, summed run ms, max run ms,
  // summed scheduler delay ms
  private val agg = scala.collection.mutable.Map.empty[(Int, Int), Array[Long]]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(runId + ":"))
      .map(_.stripPrefix(runId + ":").toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobs += Job(e.jobId, span, e.time, -1L)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    val run = if (m == null) 0L else m.executorRunTime
    val overhead = if (m == null) 0L
      else m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
    val a = agg.getOrElseUpdate((e.stageId, e.stageAttemptId), Array(0L, 0L, 0L, 0L))
    a(0) += 1
    a(1) += run
    a(2) = math.max(a(2), run)
    a(3) += math.max(0L, info.duration - overhead - info.gettingResultTime)
    tasks += Task(e.stageId, info.launchTime, info.finishTime)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val a = agg.remove((s.stageId, s.attemptNumber())).getOrElse(Array(0L, 0L, 0L, 0L))
    val m = s.taskMetrics
    stages += Stage(s.stageId, s.attemptNumber(), stageSpan.getOrElse(s.stageId, -1),
      s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L),
      a(0).toInt, a(1), a(2),
      if (m == null) 0L else m.jvmGCTime, a(3),
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}
