package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the benchmark into a layer. `op` is the op index,
  * -1 during set-up; `parent` is the enclosing span's id, -1 at top level.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long, parent: Int, op: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's own calls into each module, kept in memory
  * and written out when the run ends. Records nothing while `on` is false,
  * so untraced ops pay one branch per call.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  var on = false
  var op = -1

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size + open.size
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        open = open.tail
        spans += Span(id, name, t0, System.nanoTime(), m0,
          System.currentTimeMillis(), parent, op)
      }
    }

  def all: Seq[Span] = spans.toSeq
}

/** What Spark did for one op, from its listener events. */
final case class OpCounts(sums: Map[String, Double], stageIntervals: Seq[(Long, Long)],
                          jobStartsMs: Seq[Long]) {
  def apply(k: String): Double = sums.getOrElse(k, 0.0)
}

/** Job, stage and task counts (SparkListener) and planning phases and scan
  * sizes (QueryExecutionListener), summed between `begin` and `end`.
  * Events arrive on Spark's listener bus thread: callers drain the bus
  * before `begin` and before `end` so each op gets exactly its own events.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val sums = mutable.HashMap.empty[String, Double]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private var recording = false

  def begin(): Unit = synchronized {
    sums.clear(); intervals.clear(); jobStarts.clear(); recording = true
  }
  def end(): OpCounts = synchronized {
    recording = false
    OpCounts(sums.toMap, intervals.toSeq, jobStarts.toSeq)
  }

  private def add(k: String, v: Double): Unit =
    sums(k) = sums.getOrElse(k, 0.0) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) { add("jobs", 1); jobStarts += e.time }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    if (recording) {
      add("stages", 1)
      for (a <- s.submissionTime; b <- s.completionTime) intervals += ((a, b))
      val m = s.taskMetrics
      if (m != null && m.inputMetrics.recordsRead > 0)
        add("input_stage_task_s", m.executorRunTime / 1e3)
    }
    stageSubmitted.remove(s.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (recording) {
      val info = e.taskInfo
      add("tasks", 1)
      if (e.reason != Success) add("failed_tasks", 1)
      add("task_busy_s", (info.finishTime - info.launchTime) / 1e3)
      stageSubmitted.get(e.stageId).foreach(t =>
        add("task_wait_s", math.max(0L, info.launchTime - t) / 1e3))
      val m = e.taskMetrics
      if (m != null) {
        add("cpu_s", m.executorCpuTime / 1e9)
        add("gc_s", m.jvmGCTime / 1e3)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("input_records", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    if (recording) {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach(p =>
        add(s"${p}_s", phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)))
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .foreach { s =>
          add("scan_files", s.metrics.get("numFiles").map(_.value).getOrElse(0L).toDouble)
          add("scan_bytes", s.metrics.get("filesSize").map(_.value).getOrElse(0L).toDouble)
        }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)
}
