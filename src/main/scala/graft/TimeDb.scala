package graft

import java.sql.Timestamp
import java.time.{Duration, Instant, LocalTime, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BoundedIdSet, Param}
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
    var p = Param.inSet(col("series_id"), seriesIds)
    if (retention.nonEmpty) p = p && col("retention").isin(retention: _*)
    startValid.foreach(t => p = p && col("valid_time") >= Param(t))
    endValid.foreach(t => p = p && col("valid_time") < Param(t))
    startKnown.foreach(t => p = p && col("knowledge_time") >= Param(t))
    endKnown.foreach(t => p = p && col("knowledge_time") < Param(t))
    p
  }

  /** Inclusive `valid_month` range (`yyyyMM`) the valid_time bounds can
    * touch. The upper bound is half-open, so it derives from
    * endValid − 1 µs — an endValid exactly on a month boundary must not
    * scan that whole extra month. */
  def monthRange: (Option[String], Option[String]) = (
    startValid.map(t => Schema.monthOf(t)),
    endValid.map(t => Schema.monthOf(Timestamp.from(t.toInstant.minusNanos(1000)))))
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
    * vocabulary, then the two lanes: three Spark jobs. A batch of at
    * most [[TimeDb.OneTaskWriteMaxRows]] rows writes each lane as one
    * task with no shuffle; a larger one keeps the distributed lanes
    * (see [[planWrite]]). The caller's upstream plan is evaluated once,
    * and a batch that fails validation (a null guard in that pass, or
    * the vocabulary check right after it) lands nothing in either table. */
  def write(
      df: DataFrame,
      retention: Option[String] = None,
      knowledgeTime: Option[Timestamp] = None,
      skipUnchanged: Boolean = false,
      unchangedScope: UnchangedScope = UnchangedScope.ValidTime): WriteResult =
    planWrite(df, retention, knowledgeTime, skipUnchanged, unchangedScope)

  /** [[write]], with `oneTask` overriding the batch-size gate of the
    * insert lanes so tests can pin both plans on one store: the one-task
    * lanes (`coalesce(1)`, no exchange — one job each) or the
    * distributed ones (a shuffle each). Both land the same rows. */
  private[graft] def planWrite(
      df: DataFrame,
      retention: Option[String] = None,
      knowledgeTime: Option[Timestamp] = None,
      skipUnchanged: Boolean = false,
      unchangedScope: UnchangedScope = UnchangedScope.ValidTime,
      oneTask: Option[Boolean] = None): WriteResult =
    Profiling.phase(Profiling.PhaseWriteTotal) {

    val now = Timestamp.from(Instant.now())
    val preFilter = Profiling.phase(Profiling.PhaseWriteNormalize) {
      WritePipeline.withFirstSeen(WritePipeline.stamp(df, retention, knowledgeTime, now), now)
    }
    try {
      // Batch bounds double as the retention-vocabulary check
      // (timedb/write.py:197-202, 292-301). The skip-unchanged path also
      // needs the batch's distinct series ids (timedb/write.py:197): the
      // same pass observes them, capped at `maxInlineSeriesIds` so the
      // driver never holds more (null above it).
      val inlineIds =
        if (skipUnchanged) Seq(BoundedIdSet(col("series_id"), maxInlineSeriesIds).as("series_ids"))
        else Nil
      val bounds = TimeDb.cacheObserving(preFilter, Seq(
        count(lit(1)).as("rows"), min("valid_time").as("min_vt"), max("valid_time").as("max_vt"),
        min("knowledge_time").as("min_kt"), max("knowledge_time").as("max_kt"),
        collect_set("retention").as("retentions")) ++ inlineIds: _*)
      val before = bounds("rows").asInstanceOf[Long]
      val rets = bounds("retentions").asInstanceOf[Seq[String]]
      if (df.columns.contains("retention"))
        WritePipeline.requireValidRetentions(rets)

      val (stamped, written) =
        if (!skipUnchanged || before == 0) (preFilter, before)
        else Profiling.phase(Profiling.PhaseWriteSkipUnchanged) {
          // Bounded read-back slab (timedb/write.py:197-214): the incoming
          // batch's series/retentions and valid_time bounds — catalog-sized
          // driver values (same assumption as the reference). The scan
          // keeps only the manifest files of the batch's tiers × months
          // (picked on the driver, as a read's are), so no other partition
          // directory is listed or opened. The bounds and ids are
          // [[Param]]s, so the read-back's generated code is the same from
          // write to write.
          val minVt = bounds("min_vt").asInstanceOf[Timestamp]
          val maxVt = bounds("max_vt").asInstanceOf[Timestamp]
          val vtSlab = store.scanValuesPruned(rets,
            (Some(Schema.monthOf(minVt)), Some(Schema.monthOf(maxVt))))._1.filter(
            col("valid_time") >= Param(minVt) && col("valid_time") <= Param(maxVt))
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
                col("knowledge_time") >= Param(bounds("min_kt")) &&
                  col("knowledge_time") <= Param(bounds("max_kt")))
            case UnchangedScope.ValidTime => vtSlab
          }
          // Driver-safety valve: for catalog-sized batches the id set
          // ([[Param.inSet]]) pushes all the way into the parquet scan; but a
          // crawl-scale batch touching tens of millions of series would
          // OOM the driver on the collect, so above `maxInlineSeriesIds`
          // (the observed id set is then null) the read-back restriction
          // becomes a semi-join on series_id — shuffle-on-key, zero
          // driver state; the tier × month file prune above still bounds
          // the scanned slab.
          val slab = Option(bounds("series_ids")) match {
            case Some(sids: scala.collection.Seq[_]) =>
              slabBase.filter(Param.inSet(col("series_id"), sids.map(_.asInstanceOf[Long])))
            case _ => slabBase.join(preFilter.select("series_id").distinct(), Seq("series_id"), "left_semi")
          }
          // The kept rows get the same one-pass cache fill as the batch.
          val kept = WritePipeline.filterUnchanged(preFilter,
            WritePipeline.storedLatestFor(slab, unchangedScope), unchangedScope)
          (kept, TimeDb.cacheObserving(kept, count(lit(1)).as("rows"))("rows").asInstanceOf[Long])
        }
      try {
        if (written > 0) insertLanes(stamped, oneTask.getOrElse(written <= TimeDb.OneTaskWriteMaxRows))
        WriteResult(written, before - written)
      } finally if (stamped ne preFilter) stamped.unpersist()
    } finally preFilter.unpersist()
  }

  /** Concurrent insert lanes (timedb/write.py:115-158): the values and
    * run_series writes overlap as two Spark jobs on the shared scheduler
    * (Spark jobs from one session run concurrently; the lanes write
    * disjoint paths). Both read the cached batch: the values lane
    * projects `first_seen` away, the run_series lane keeps the distinct
    * (series_id, run_id, first_seen) rows. With `oneTask` each lane is
    * one task: the values lane through [[SeriesStore.appendValues]]'s
    * one-task plan, the run_series `distinct` over `coalesce(1)`, which
    * one partition already satisfies, so no exchange is planned. Both
    * lanes are always awaited even when one fails — leaking an in-flight
    * write would leave its outcome unknown — and the first error is
    * re-raised, values lane first. */
  private def insertLanes(stamped: DataFrame, oneTask: Boolean): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val valuesLane = Future(Profiling.phase(Profiling.PhaseWriteSeriesValuesInsert)(
      store.appendValues(stamped.drop("first_seen"), oneTask)))
    val rsLane = Future(Profiling.phase(Profiling.PhaseWriteRunSeriesInsert)(
      store.appendRunSeries(WritePipeline.runSeriesOf(if (oneTask) stamped.coalesce(1) else stamped))))
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
    val base = scan.filter(filter.predicate)
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
    * it is sorted on the driver: no range sample, no sort shuffle. See
    * [[planRunSeries]] for where the collapse runs. */
  def readRunSeries(seriesId: Long): Seq[Long] = planRunSeries(seriesId)

  /** [[readRunSeries]]. When the current `run_series` files total at most
    * [[TimeDb.DriverRunSeriesMaxBytes]], they are decoded on the driver
    * and the series' rows collapsed there ([[SeriesStore.collectRunSeries]]):
    * no Spark job. A larger table keeps the Spark plan: the collapse's
    * aggregate over the scan, filtered to the series. Both give the same
    * runs in the same order; `onDriver` overrides the size gate so tests
    * can pin both on one store. */
  private[graft] def planRunSeries(seriesId: Long, onDriver: Option[Boolean] = None): Seq[Long] = {
    val files = store.runSeriesFiles()
    val runs =
      if (onDriver.getOrElse(files.map(_.getLen).sum <= TimeDb.DriverRunSeriesMaxBytes))
        store.collectRunSeries(files, seriesId)
      else
        store.scanRunSeries(files)
          .filter(Param.inSet(col("series_id"), Seq(seriesId)))
          .select("run_id", "first_seen").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
    runs.sortWith { case ((runA, seenA), (runB, seenB)) =>
      val c = seenB.compareTo(seenA)
      if (c != 0) c < 0 else runA < runB
    }.map(_._1)
  }

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

  /** Largest batch, in rows, whose insert lanes [[TimeDb.planWrite]]
    * writes as one task each. Measured with the values lane alone on a
    * cached stamped batch (50 series, two tiers, dictionary-sized
    * values), `local[4]`, 7 interleaved rounds, p50 one-task vs
    * distributed: 2.4k rows 227 vs 335 ms, 24k 302 vs 333, 48k 429 vs
    * 458, 72k 466 vs 476, 120k 727 vs 629, 283k 1393 vs 961; with the
    * batch spread over 2 or 12 months the 24k–48k ties hold. One task
    * wins up to 48k rows and ties at 72k; rounded down to 50k. */
  private val OneTaskWriteMaxRows: Long = 50000L

  /** Largest `run_series` table, in parquet bytes over its current files,
    * that [[TimeDb.planRunSeries]] decodes on the driver. Measured with 48
    * one-write files of n series each, `local[4]`, 9 interleaved pairs,
    * p50 driver vs Spark plan: 0.09 MB 132 vs 268 ms, 0.22 MB 112 vs 237,
    * 0.78 MB 124 vs 201, 1.9 MB 135 vs 161, 3.4 MB 245 vs 188 (perfbench's
    * dashboard store, 3 files of 8.9 kB: 25 vs 132 ms). The driver wins
    * up to 1.9 MB and loses at 3.4 MB; rounded down to 1 MiB. The decode
    * streams the files and holds only the series' rows, so the bound is
    * on driver time, not driver memory. */
  private val DriverRunSeriesMaxBytes: Long = 1L << 20

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
