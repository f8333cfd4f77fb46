package graft

import java.sql.Timestamp
import java.time.{Duration, Instant, LocalTime, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ReadShapes, UnchangedScope, WritePipeline, WriteResult}
import graft.sources.{MetaSource, Schema, SeriesStore}

/** Conjunctive read filter (timedb/read.py:183-224 `_where`):
  * `series_id IN ids`, optional retention equality/IN (doubles as a
  * partition prune), half-open valid_time and knowledge_time ranges.
  */
final case class ReadFilter(
    seriesIds: Seq[Long],
    retention: Seq[String] = Nil,
    startValid: Option[Timestamp] = None,
    endValid: Option[Timestamp] = None,
    startKnown: Option[Timestamp] = None,
    endKnown: Option[Timestamp] = None) {

  def predicate: Column = {
    var p = col("series_id").isin(seriesIds: _*)
    if (retention.nonEmpty) p = p && col("retention").isin(retention: _*)
    startValid.foreach(t => p = p && col("valid_time") >= lit(t))
    endValid.foreach(t => p = p && col("valid_time") < lit(t))
    startKnown.foreach(t => p = p && col("knowledge_time") >= lit(t))
    endKnown.foreach(t => p = p && col("knowledge_time") < lit(t))
    p
  }

  /** Inclusive `valid_month` range (`yyyyMM`) the valid_time bounds can
    * touch. The upper bound is half-open, so it derives from
    * endValid − 1 µs — an endValid exactly on a month boundary must not
    * scan that whole extra month. */
  def monthRange: (Option[String], Option[String]) = (
    startValid.map(t => Schema.monthOf(t)),
    endValid.map(t => Schema.monthOf(Timestamp.from(t.toInstant.minusNanos(1000)))))

  /** Month-range partition prune derived from the valid_time bounds: the
    * reader also filters the `valid_month` partition column so Catalyst
    * prunes whole month directories, mirroring how the retention filter
    * prunes tiers (ch_create_tables.sql:11-13). */
  def monthPrune: Option[Column] = monthRange match {
    case (Some(a), Some(b)) => Some(col("valid_month") >= lit(a) && col("valid_month") <= lit(b))
    case (Some(a), None) => Some(col("valid_month") >= lit(a))
    case (None, Some(b)) => Some(col("valid_month") <= lit(b))
    case _ => None
  }
}

/** The public facade (≅ `TimeDBClient`, timedb/client.py:70-214):
  * DataFrame-in / DataFrame-out over a Parquet store at `basePath`.
  * The reference's HTTP/ClickHouse boundary disappears — each read is a
  * declarative Spark plan executed where the data lives.
  */
final class TimeDb(val spark: SparkSession, basePath: String,
    maxInlineSeriesIds: Long = 100000L) {

  val store = new SeriesStore(spark, basePath)

  def create(): Unit = store.create()
  def delete(): Unit = store.delete()

  /** Register the two tables as temp views (`series_values` with the
    * FINAL-style raw rows, `run_series` collapsed) so SQL users can
    * `spark.sql` against the store directly. */
  def createViews(): Unit = {
    store.scanValues().createOrReplaceTempView("series_values")
    store.scanRunSeries().createOrReplaceTempView("run_series")
  }

  /** Write (timedb/write.py:236-368): validate → stamp → optional
    * skip-unchanged → append to both tables. The reference's concurrent
    * insert lanes collapse to two Spark write jobs; both are always
    * attempted, the first error re-raised with the values-lane error
    * winning (timedb/write.py:126-130).
    *
    * A plain write is ONE shuffle-free pass that fills the stamped
    * batch's cache while observing its count, bounds and retention
    * vocabulary, then the two lanes (a shuffle and a file write each):
    * five Spark jobs under adaptive execution, Spark's default. The
    * caller's upstream plan is evaluated once, and a
    * batch that fails validation (a null guard in that pass, or the
    * vocabulary check right after it) lands nothing in either table. */
  def write(
      df: DataFrame,
      retention: Option[String] = None,
      knowledgeTime: Option[Timestamp] = None,
      skipUnchanged: Boolean = false,
      unchangedScope: UnchangedScope = UnchangedScope.ValidTime): WriteResult =
    Profiling.phase(Profiling.PhaseWriteTotal) {

    val now = Timestamp.from(Instant.now())
    val preFilter = Profiling.phase(Profiling.PhaseWriteNormalize) {
      WritePipeline.stamp(df, retention, knowledgeTime, now)
    }
    try {
      // Batch bounds double as the retention-vocabulary check
      // (timedb/write.py:197-202, 292-301). The potentially-large distinct
      // series_id set is NOT collected here — only the skip-unchanged
      // path needs it (timedb/write.py:197).
      val bounds = TimeDb.cacheObserving(preFilter,
        count(lit(1)).as("rows"), min("valid_time").as("min_vt"), max("valid_time").as("max_vt"),
        min("knowledge_time").as("min_kt"), max("knowledge_time").as("max_kt"),
        collect_set("retention").as("retentions"), approx_count_distinct("series_id").as("series"))
      val before = bounds("rows").asInstanceOf[Long]
      val rets = bounds("retentions").asInstanceOf[Seq[String]]
      if (df.columns.contains("retention"))
        WritePipeline.requireValidRetentions(rets)

      val (stamped, written) =
        if (!skipUnchanged || before == 0) (preFilter, before)
        else Profiling.phase(Profiling.PhaseWriteSkipUnchanged) {
          // Bounded read-back slab (timedb/write.py:197-214): the incoming
          // batch's series/retentions and valid_time bounds — catalog-sized
          // driver values (same assumption as the reference). Retention AND
          // valid_month filters hit partition directories, so the read-back
          // prunes to the batch's tiers × months before any file is opened.
          val minVt = bounds("min_vt").asInstanceOf[Timestamp]
          val maxVt = bounds("max_vt").asInstanceOf[Timestamp]
          val vtSlab = store.scanValues().filter(
            col("retention").isin(rets: _*) &&
              col("valid_month") >= lit(Schema.monthOf(minVt)) &&
              col("valid_month") <= lit(Schema.monthOf(maxVt)) &&
              col("valid_time") >= lit(minVt) && col("valid_time") <= lit(maxVt))
          // Under the knowledge_time scope only stored rows carrying one
          // of the batch's knowledge_times can match a scope key, so the
          // slab is also bounded by the batch's knowledge_time range
          // (inclusive). The bound prunes no parquet row groups: the
          // timestamps are stored as INT96, which Spark does not push into
          // the reader, so the read-back decodes the same rows with or
          // without it (71,108 in traced perfbench `forecast_ingest`,
          // seed 1). It drops rows after the scan, before the shuffle.
          val slabBase = unchangedScope match {
            case UnchangedScope.KnowledgeTime =>
              vtSlab.filter(
                col("knowledge_time") >= lit(bounds("min_kt").asInstanceOf[Timestamp]) &&
                  col("knowledge_time") <= lit(bounds("max_kt").asInstanceOf[Timestamp]))
            case UnchangedScope.ValidTime => vtSlab
          }
          // Driver-safety valve: for catalog-sized batches the literal
          // isin pushes all the way into the parquet scan; but a
          // crawl-scale batch touching tens of millions of series would
          // OOM the driver on the collect, so above `maxInlineSeriesIds`
          // the read-back restriction becomes a semi-join on series_id —
          // shuffle-on-key, zero driver state; the retention + month
          // partition prunes above still bound the scanned slab.
          val slab =
            if (bounds("series").asInstanceOf[Long] <= maxInlineSeriesIds) {
              val sids = preFilter.agg(collect_set("series_id")).head().getSeq[Long](0)
              slabBase.filter(col("series_id").isin(sids: _*))
            } else
              slabBase.join(preFilter.select("series_id").distinct(), Seq("series_id"), "left_semi")
          // The kept rows get the same one-pass cache fill as the batch.
          val kept = WritePipeline.filterUnchanged(preFilter,
            WritePipeline.storedLatestFor(slab, unchangedScope), unchangedScope)
          (kept, TimeDb.cacheObserving(kept, count(lit(1)).as("rows"))("rows").asInstanceOf[Long])
        }
      try {
        if (written > 0) insertLanes(stamped, WritePipeline.runSeriesOf(stamped, now))
        WriteResult(written, before - written)
      } finally if (stamped ne preFilter) stamped.unpersist()
    } finally preFilter.unpersist()
  }

  /** Concurrent insert lanes (timedb/write.py:115-158): the values and
    * run_series writes overlap as two Spark jobs on the shared scheduler
    * (Spark jobs from one session run concurrently; the lanes write
    * disjoint paths). Both lanes are always awaited even when one fails —
    * leaking an in-flight write would leave its outcome unknown — and
    * the first error is re-raised, values lane first. */
  private def insertLanes(stamped: DataFrame, rs: DataFrame): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val valuesLane = Future(
      Profiling.phase(Profiling.PhaseWriteSeriesValuesInsert)(store.appendValues(stamped)))
    val rsLane = Future(
      Profiling.phase(Profiling.PhaseWriteRunSeriesInsert)(store.appendRunSeries(rs)))
    val valuesErr = Await.ready(valuesLane, Duration.Inf).value.get.failed.toOption
    val rsErr = Await.ready(rsLane, Duration.Inf).value.get.failed.toOption
    valuesErr.orElse(rsErr).foreach(throw _)
  }

  private def emptyShape(includeUpdates: Boolean, includeKnowledgeTime: Boolean): DataFrame = {
    val cols = (includeUpdates, includeKnowledgeTime) match {
      case (false, false) => Seq("series_id", "valid_time", "value")
      case (false, true) => Seq("series_id", "knowledge_time", "valid_time", "value")
      case (true, false) => Seq("series_id", "valid_time", "change_time", "value", "changed_by", "annotation")
      case (true, true) => Seq("series_id", "valid_time", "knowledge_time", "change_time", "value", "changed_by", "annotation")
    }
    val schema = org.apache.spark.sql.types.StructType(cols.map(Schema.seriesValues(_)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The one plan every read form runs (the four [[read]] shapes and
    * [[readRelative]]): scan the manifest files the filter's retention
    * and month bounds leave ([[SeriesStore.scanValuesPruned]]), apply
    * the Catalyst filters (partition and pushed data filters stay in the
    * plan), `shape` the rows, order them by `keys`, mask NaN.
    *
    * A slab of at most [[TimeDb.OneTaskReadMaxBytes]] runs as ONE task:
    * `coalesce(1)` → shape → `sortWithinPartitions(keys)`. A single
    * partition satisfies the aggregate's and the windows' clustering, so
    * Spark plans no exchange and no range sample — one job. A larger
    * slab keeps the distributed plan: the shape's shuffle, then a global
    * `orderBy` (range sample + sort shuffle) — four jobs under adaptive
    * execution. Both give the same rows in the same order. `oneTask`
    * overrides the size gate so tests can pin both plans on one store. */
  private[graft] def planRead(filter: ReadFilter, keys: Seq[String],
      oneTask: Option[Boolean] = None)(shape: DataFrame => DataFrame): DataFrame = {
    val (scan, bytes) = store.scanValuesPruned(filter.retention, filter.monthRange)
    val base = filter.monthPrune.fold(scan)(p => scan.filter(p)).filter(filter.predicate)
    val order = keys.map(col)
    val shaped =
      if (oneTask.getOrElse(bytes <= TimeDb.OneTaskReadMaxBytes))
        shape(base.coalesce(1)).sortWithinPartitions(order: _*)
      else shape(base).orderBy(order: _*)
    maskNaN(shaped)
  }

  /** Read (timedb/read.py:404-458): 4-way shape dispatch on
    * (includeUpdates, includeKnowledgeTime), NaN→null mask on the way out,
    * deterministic total order (timedb/read.py:244,280,309,337). A read
    * whose pruned slab is small plans as one task (one Spark job), a
    * larger one as the distributed shuffle + global sort; see
    * [[planRead]] for the two plans and the size gate. */
  def read(
      filter: ReadFilter,
      includeUpdates: Boolean = false,
      includeKnowledgeTime: Boolean = false): DataFrame = Profiling.phase(Profiling.PhaseReadTotal) {
    if (filter.seriesIds.isEmpty)
      return emptyShape(includeUpdates, includeKnowledgeTime) // timedb/read.py:421-422

    Profiling.phase(Profiling.PhaseReadPlan) {
      (includeUpdates, includeKnowledgeTime) match {
        case (false, false) =>
          planRead(filter, Seq("series_id", "valid_time"))(ReadShapes.latest)
        case (false, true) =>
          planRead(filter, Seq("series_id", "valid_time", "knowledge_time"))(ReadShapes.overlapping)
        case (true, false) =>
          planRead(filter, Seq("series_id", "valid_time", "change_time"))(ReadShapes.latestWithChanges)
        case (true, true) =>
          planRead(filter, Seq("series_id", "valid_time", "knowledge_time", "change_time"))(
            ReadShapes.overlappingWithChanges)
      }
    }
  }

  /** Read addressed by an external catalog instead of explicit ids
    * (timedb/read.py: `meta_source` on read/read_relative): resolve the
    * catalog once to literal id/retention lists (the scalar-subquery
    * trick — keeps partition pruning), then run the normal read. */
  def readMeta(
      meta: MetaSource,
      startValid: Option[Timestamp] = None,
      endValid: Option[Timestamp] = None,
      startKnown: Option[Timestamp] = None,
      endKnown: Option[Timestamp] = None,
      includeUpdates: Boolean = false,
      includeKnowledgeTime: Boolean = false): DataFrame = {
    val (ids, rets) = meta.resolve()
    read(ReadFilter(ids, rets, startValid, endValid, startKnown, endKnown),
      includeUpdates, includeKnowledgeTime)
  }

  /** Relative read (timedb/read.py:461-527), explicit mode. */
  def readRelative(
      filter: ReadFilter,
      windowLength: Duration,
      issueOffset: Duration,
      startWindow: Option[Timestamp] = None): DataFrame = {
    if (filter.seriesIds.isEmpty) return emptyShape(false, false)
    val origin = startWindow.orElse(filter.startValid).getOrElse(
      throw new IllegalArgumentException("start_window is required when start_valid is not provided."))
    planRead(filter, Seq("series_id", "valid_time"))(
      ReadShapes.relative(_, windowLength.getSeconds, issueOffset.getSeconds, origin))
  }

  /** Relative read, daily shorthand (timedb/read.py:480-492): window=1d,
    * offset = time_of_day − days_ahead·1d, origin = midnight(start_valid)−1d. */
  def readRelativeDaily(
      filter: ReadFilter,
      daysAhead: Int,
      timeOfDay: LocalTime): DataFrame = {
    val startValid = filter.startValid.getOrElse(
      throw new IllegalArgumentException("start_valid is required when using days_ahead/time_of_day."))
    val midnight = startValid.toInstant.atZone(ZoneOffset.UTC).toLocalDate
      .atStartOfDay(ZoneOffset.UTC).toInstant
    val origin = Timestamp.from(midnight.minus(Duration.ofDays(1)))
    val offset = Duration.ofNanos(timeOfDay.toNanoOfDay).minus(Duration.ofDays(daysAhead.toLong))
    readRelative(filter, Duration.ofDays(1), offset, Some(origin))
  }

  /** Runs that touched a series, newest first (timedb/client.py:198-214),
    * runs that share a `first_seen` (one multi-run write) by ascending
    * run_id — the `td_run_series` order. The list is collected anyway, so
    * it is sorted on the driver: no range sample, no sort shuffle. */
  def readRunSeries(seriesId: Long): Seq[Long] =
    store.scanRunSeries()
      .filter(col("series_id") === seriesId)
      .select("run_id", "first_seen").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
      .sortWith { case ((runA, seenA), (runB, seenB)) =>
        val c = seenB.compareTo(seenA)
        if (c != 0) c < 0 else runA < runB
      }
      .map(_._1).toSeq

  def expireRetention(asOf: Instant = Instant.now()): Seq[String] =
    store.expireRetention(asOf)

  /** Small-file maintenance (streaming ingest appends one+ file per
    * micro-batch); see [[graft.sources.SeriesStore.compactPartitions]]. */
  def compact(maxFiles: Int = 4): Seq[String] =
    store.compactPartitions(maxFiles)

  /** Reclaim storage unreferenced by the retained snapshot tail
    * (superseded compaction inputs, expired months, crashed writes);
    * see [[graft.sources.SeriesStore.vacuum]] for the reader-grace and
    * in-flight-write age guards. */
  def vacuum(keepManifests: Int = 2,
      minAgeMillis: Long = 15L * 60 * 1000): Seq[String] =
    store.vacuum(keepManifests, minAgeMillis)

  /** NaN→null mask at the API boundary (timedb/read.py:57-67): NaN is the
    * storage sentinel, null is the user-facing representation. */
  private def maskNaN(df: DataFrame): DataFrame =
    if (df.columns.contains("value"))
      df.withColumn("value", when(isnan(col("value")), lit(null)).otherwise(col("value")))
    else df
}

object TimeDb {

  /** Largest pruned slab, in parquet bytes, that [[TimeDb.planRead]]
    * plans as one task. Measured with a latest read of the whole slab
    * (the worst read a slab of that size can get) on perfbench's
    * dashboard store scaled by series count, `local[4]`, adaptive
    * execution on, 15 interleaved pairs, p50 one-task vs distributed:
    * 0.39 MB 223 vs 280 ms, 0.70 MB 290 vs 366, 1.45 MB 383 vs 460,
    * 2.34 MB 628 vs 627, 3.87 MB 940 vs 834, 40 MB 10.7 vs 6.5 s. One
    * task wins up to 1.45 MB and ties at 2.34 MB; rounded down to 1 MiB. */
  private val OneTaskReadMaxBytes: Long = 1L << 20

  /** Cache `frame` and fill the cache with ONE shuffle-free action (a
    * `noop`-format write) that also computes the aggregate `metrics`
    * over it, via an [[Observation]] above the cached relation. Every
    * later consumer of `frame` reads the cache; the caller unpersists
    * (this call does, when the pass fails).
    * An aggregate action instead would add a shuffle and a second job,
    * and each separate action costs its own planning and scheduling. */
  private def cacheObserving(frame: DataFrame, metrics: Column*): Map[String, Any] = {
    val observation = Observation()
    frame.cache()
    try frame.observe(observation, metrics.head, metrics.tail: _*)
      .write.format("noop").mode(SaveMode.Overwrite).save()
    catch { case t: Throwable => frame.unpersist(); throw t }
    observation.get
  }
}
