package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` is shared by every span of
  * one benchmark op; `parent` is the id of the enclosing span (-1 at top).
  * Times are epoch nanoseconds so they line up with Spark's event times. */
final case class Span(op: Int, id: Int, parent: Int, name: String,
    startNs: Long, var endNs: Long = 0L,
    counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the single client thread. Disabled, `span`
  * only runs its body, so the untraced run pays nothing for it. */
final class Tracer(var enabled: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)

  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(op, spans.size, stack.headOption.fold(-1)(_.id), name, nowNs)
      spans += s
      stack = s :: stack
      try body finally { s.endNs = nowNs; stack = stack.tail }
    }

  /** Add a count to a span, when tracing. */
  def count(s: Span, key: String, v: Double): Unit =
    if (enabled) s.counts(key) = s.counts.getOrElse(key, 0.0) + v
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
final case class StageRec(id: Int, tasks: Int, cpuNs: Long, shuffleBytes: Long,
    spillBytes: Long)
final case class QeRec(planNs: Long, filesRead: Long, rowsRead: Long)

/** Listener the benchmark attaches to the session: Spark jobs, stages, task
  * metrics and per-query Catalyst phase times plus scan SQL metrics. Events
  * accumulate until `drain`, which the harness calls after each op once the
  * listener bus is empty, so each batch belongs to exactly one op. */
final class EngineListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val qes = ArrayBuffer.empty[QeRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += StageRec(i.stageId, i.numTasks, m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val planNs = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).fold(0L)(_.value)
    val rec = QeRec(planNs, scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numOutputRows")).sum)
    synchronized(qes += rec)
  }

  /** Everything recorded since the previous drain. */
  def drain(): (Seq[JobRec], Seq[StageRec], Seq[QeRec]) = synchronized {
    val out = (jobs.values.toSeq, stages.toSeq, qes.toSeq)
    jobs.clear(); stages.clear(); qes.clear()
    out
  }
}

object EngineListener {
  /** Wait until every event posted so far has reached the listeners. */
  def settle(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)
}
