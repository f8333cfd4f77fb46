package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer, nested under `parent` (-1 at the
  * top), belonging to timed op `op` (-1 outside the timed phase). */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Cumulative engine counters, read as deltas around each op. */
final case class Counts(jobs: Long, tasks: Long, taskRunMs: Long, cpuNs: Long, gcMs: Long,
    rowsRead: Long, bytesRead: Long, shuffleBytes: Long, spillBytes: Long, files: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks, taskRunMs - o.taskRunMs,
    cpuNs - o.cpuNs, gcMs - o.gcMs, rowsRead - o.rowsRead, bytesRead - o.bytesRead,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, files - o.files)
}

/** Spark-side counters: a listener for jobs and task metrics, and a query
  * execution listener that adds up the files the parquet scans opened. */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  private val c = Array.fill(10)(new AtomicLong())

  override def onJobStart(e: SparkListenerJobStart): Unit = { c(0).incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      c(1).incrementAndGet()
      c(2).addAndGet(m.executorRunTime)
      c(3).addAndGet(m.executorCpuTime)
      c(4).addAndGet(m.jvmGCTime)
      c(5).addAndGet(m.inputMetrics.recordsRead)
      c(6).addAndGet(m.inputMetrics.bytesRead)
      c(7).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(8).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val files = EngineCounters.scans(qe).flatMap(_.metrics.get("numFiles")).map(_.value).sum
    c(9).addAndGet(files)
    ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(): Counts = {
    val v = c.map(_.get())
    Counts(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9))
  }
}

object EngineCounters extends AdaptiveSparkPlanHelper {
  def scans(qe: QueryExecution): Seq[FileSourceScanExec] =
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
}

/** Span recorder. With tracing off every call is a pass-through and no
  * listener is registered, so the untraced run measures the program
  * alone. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = -1

  private val counters: Option[EngineCounters] =
    if (!on) None
    else {
      val ec = new EngineCounters
      spark.sparkContext.addSparkListener(ec)
      spark.listenerManager.register(ec)
      Some(ec)
    }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, op, 0L, 0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans(id) = spans(id).copy(startNs = t0, endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Engine counters after every queued listener event is delivered. */
  def counts(): Counts = counters match {
    case Some(ec) =>
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      ec.snapshot()
    case None => Counts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  }

  def all: Seq[Span] = spans.toSeq

  /** Per span name over the timed ops: (calls, total ms, self ms), where
    * self time is the span's duration minus the part its children cover. */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val childNs = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.filter(_.op >= 0).groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.length, ss.map(_.ms).sum, ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum))
    }
  }
}
