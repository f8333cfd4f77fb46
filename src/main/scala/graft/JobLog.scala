package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

/** The one Spark job listener: which jobs a piece of driver code ran,
  * and how many classes it compiled. timedb's calls and the registry's
  * queries are fixed plan shapes, so "how many jobs, and where did their
  * wall go" is the accounting the bench's `floor_decomp`,
  * [[JobBudgetScan]], [[JobDecomp]] and the specs' job-count pins all
  * read from here; the compile count is what the specs' codegen pins
  * read. */
object JobLog {

  /** A stage that completed during [[during]]: the first line of its
    * name, its task count and its wall in seconds. */
  final case class Stage(id: Int, name: String, tasks: Int, wallSec: Double)

  /** A job that started during [[during]]: submit and end times in epoch
    * millis (no end when it had not ended by the closing drain), the
    * first line of its first stage's name, and its completed stages. */
  final case class Job(id: Int, submitMs: Long, endMs: Option[Long], firstStage: String,
      stages: Seq[Stage])

  /** What a block ran: its jobs in submit order, and the number of
    * classes Spark compiled while it ran (the delta of the JVM-wide
    * `CodegenMetrics` compile count, so a compile on another thread at
    * the same time counts too). A block whose generated code is already
    * in Spark's codegen cache compiles nothing. */
  final case class Record(jobs: Seq[Job], compiles: Long)

  /** Run `body` and return its result with the [[Record]] of what it ran.
    * The listener bus is asynchronous, so one listener is registered
    * after a bus drain and read after a second one: the jobs are exactly
    * the job starts between the two drains. The listener is removed when
    * `body` returns or throws, and nothing is kept between calls. */
  def during[T](spark: SparkSession)(body: => T): (T, Record) = {
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ends = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val completed = new ConcurrentLinkedQueue[StageInfo]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = { starts.add(s); () }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { ends.add(e); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        completed.add(s.stageInfo); ()
      }
    }
    val sc = spark.sparkContext
    GraftListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    val compiles0 = compileCount
    try {
      val out = body
      val compiles = compileCount - compiles0
      GraftListenerBridge.drainListenerBus(sc)
      val stages = completed.asScala.toSeq.map { i =>
        val wall = (for (a <- i.submissionTime; b <- i.completionTime) yield (b - a) / 1e3)
        Stage(i.stageId, firstLine(i.name), i.numTasks, wall.getOrElse(0.0))
      }
      val endOf = ends.asScala.map(e => e.jobId -> e.time).toMap
      // a shared stage runs in the first job that lists it; later jobs skip it
      val seen = scala.collection.mutable.Set.empty[Int]
      val jobs = starts.asScala.toSeq.map { s =>
        val own = s.stageIds.filter(seen.add).toSet
        Job(s.jobId, s.time, endOf.get(s.jobId),
          s.stageInfos.headOption.fold("?")(i => firstLine(i.name)),
          stages.filter(st => own(st.id)).sortBy(_.id))
      }
      (out, Record(jobs, compiles))
    } finally sc.removeSparkListener(listener)
  }

  private def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def firstLine(s: String): String = s.takeWhile(_ != '\n')
}
