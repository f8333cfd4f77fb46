package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.RunId
import graft.sources.Schema

/** Counts returned by a write (timedb/write.py:161-166). `skipped` is
  * always 0 unless skip-unchanged was requested. */
final case class WriteResult(written: Long, skipped: Long)

/** Which key the skip-unchanged comparison groups on
  * (timedb/write.py:169). */
sealed trait UnchangedScope { def keys: Seq[String] }
object UnchangedScope {
  case object ValidTime extends UnchangedScope {
    val keys = Seq("series_id", "valid_time")
  }
  case object KnowledgeTime extends UnchangedScope {
    val keys = Seq("series_id", "valid_time", "knowledge_time")
  }
}

/** Client-side write dataflow (timedb/write.py:236-368): validate →
  * stamp per-batch defaults → optional skip-unchanged anti-join →
  * column-ordered select. Storage append is the caller's (SeriesStore's)
  * job; this object is pure DataFrame-in/DataFrame-out so it is equally
  * usable from batch and Structured Streaming ingest.
  */
object WritePipeline {

  private val requiredColumns = Set("series_id", "valid_time", "value")

  /** W1 — input validation (timedb/write.py:68-78, 285-309).
    *
    * Timezone-awareness: the reference rejects tz-naive timestamps; on
    * Spark we require `TimestampType` (session-TZ = UTC instants) and
    * reject `TimestampNTZType`, which is the Spark spelling of "naive".
    * Only the schema and the kwargs are checked here, without a Spark
    * job. The values of a per-row retention column are checked by
    * [[requireValidRetentions]] on the distinct set the writer collects
    * in its pass over the batch; null required fields fail inside that
    * pass through [[stamp]]'s inline guards.
    */
  def validate(
      df: DataFrame,
      retentionKwarg: Option[String],
      knowledgeTimeKwarg: Option[java.sql.Timestamp]): Unit = {
    val cols = df.columns.toSet
    val missing = requiredColumns -- cols
    require(missing.isEmpty, s"df missing required columns: ${missing.toSeq.sorted}")

    for (c <- Seq("valid_time", "valid_time_end", "knowledge_time", "change_time") if cols(c)) {
      df.schema(c).dataType match {
        case TimestampType => // tz-aware instant — ok
        case TimestampNTZType =>
          throw new IllegalArgumentException(s"'$c' must be timezone-aware.")
        case other =>
          throw new IllegalArgumentException(s"'$c' must be a timestamp, got $other.")
      }
    }

    if (cols("retention") && retentionKwarg.isDefined)
      throw new IllegalArgumentException(
        "Ambiguous retention: df has a 'retention' column and retention was also passed as a kwarg. Use one or the other.")
    retentionKwarg.foreach { r =>
      require(Schema.retentionTiers(r),
        s"Unknown retention '$r'. Valid values: ${Schema.retentionTiers.toSeq.sorted}")
    }
    if (cols("knowledge_time") && knowledgeTimeKwarg.isDefined)
      throw new IllegalArgumentException(
        "Ambiguous knowledge_time: df has a 'knowledge_time' column and knowledge_time was also passed as a kwarg.")
  }

  /** W2 — stamp per-batch defaults (timedb/write.py:311-337): cast
    * series_id/value, NaN-fill null values, and fill any missing optional
    * column with one per-batch constant. Runs [[validate]] first. The
    * values of a caller-supplied retention column are NOT checked here:
    * the writer collects their distinct set while it reads the batch and
    * passes it to [[requireValidRetentions]] before anything is appended.
    */
  def stamp(
      df: DataFrame,
      retentionKwarg: Option[String] = None,
      knowledgeTimeKwarg: Option[java.sql.Timestamp] = None,
      now: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis()),
      runId: Long = RunId.next()): DataFrame = {
    validate(df, retentionKwarg, knowledgeTimeKwarg)
    val cols = df.columns.toSet

    // Null required fields are rejected inline — a guard expression in the
    // stamped projection rather than a separate validation scan, so it
    // costs nothing extra at 100 TB and fails at write execution, like the
    // reference's non-Nullable ClickHouse columns (ch_create_tables.sql:29-33).
    // (A null valid_time would otherwise land in a
    // __HIVE_DEFAULT_PARTITION__ directory and be inconsistently visible.)
    def rejectNull(c: Column, name: String, tpe: String): Column =
      when(c.isNull, raise_error(lit(s"'$name' must not be null")).cast(tpe)).otherwise(c)

    // One projection in schema order: a caller-supplied optional column
    // passes through (run_id cast to bigint), a missing one becomes its
    // per-batch constant. A caller-supplied retention column must not
    // smuggle nulls past the vocabulary check (collect_set drops nulls) —
    // a null would land in a __HIVE_DEFAULT_PARTITION__ tier that no read
    // or TTL ever touches.
    def given(c: String, orElse: => Column): Column = if (cols(c)) col(c) else orElse
    val stamped = Map(
      "series_id" -> rejectNull(col("series_id").cast(LongType), "series_id", "bigint"),
      "valid_time" -> rejectNull(col("valid_time"), "valid_time", "timestamp"),
      "knowledge_time" -> given("knowledge_time", lit(knowledgeTimeKwarg.getOrElse(now))),
      "change_time" -> given("change_time", lit(now)),
      "value" -> coalesce(col("value").cast(DoubleType), lit(Double.NaN)),
      "valid_time_end" -> given("valid_time_end", lit(Schema.validTimeEndSentinel)),
      "run_id" -> (if (cols("run_id")) col("run_id").cast(LongType) else lit(runId)),
      "changed_by" -> given("changed_by", lit("")),
      "annotation" -> given("annotation", lit("")),
      "retention" ->
        (if (cols("retention")) rejectNull(col("retention"), "retention", "string")
        else lit(retentionKwarg.getOrElse(Schema.defaultRetention))))
    df.select(Schema.seriesValuesColumns.map(c => stamped(c).as(c)): _*)
  }

  /** Vocabulary check for a caller-supplied retention column
    * (timedb/write.py:292-301). The caller passes the already-aggregated
    * distinct values (the writer observes them in its one pass over the
    * batch) so no extra scan runs; nulls are reported, not NPE'd. */
  def requireValidRetentions(present: Seq[String]): Unit = {
    val unknown = present.filter(v => v == null || !Schema.retentionTiers(v))
    require(unknown.isEmpty,
      s"Unknown retention values in 'retention' column: ${unknown.map(String.valueOf).sorted}. " +
        s"Valid values: ${Schema.retentionTiers.toSeq.sorted}")
  }

  /** W3 — run_series derivation (timedb/write.py:357): distinct
    * (series_id, run_id) pairs of the batch, stamped with first_seen. */
  def runSeriesOf(stamped: DataFrame, firstSeen: java.sql.Timestamp): DataFrame =
    stamped.select("series_id", "run_id").distinct()
      .withColumn("first_seen", lit(firstSeen))

  /** The NaN-aware "state already stored" predicate
    * (timedb/write.py:227-233). Spark SQL, like ClickHouse and DuckDB
    * here, evaluates NaN = NaN as true, so plain equality covers the
    * reference's explicit `is_nan & is_nan` clause; `_st`-suffixed
    * columns are the stored side.
    */
  private def sameState: Column =
    (col("value") === col("value_st")) &&
      (col("annotation") === col("annotation_st")) &&
      (col("changed_by") === col("changed_by_st"))

  /** W4 — skip-unchanged (timedb/write.py:172-233): drop incoming rows
    * whose latest stored (value, annotation, changed_by) already matches,
    * per scope key. `storedLatest` must be one row per scope key with
    * columns `keys ++ (value, annotation, changed_by)` — i.e. the result
    * of [[storedLatestFor]].
    *
    * Planned as a left join + filter rather than `left_anti` so the kept
    * rows keep their incoming columns untouched. The stored side is one
    * row per (series, valid_time) of a bounded slab — typically small
    * relative to the fact table, so AQE/broadcast handles the join side
    * choice.
    */
  def filterUnchanged(incoming: DataFrame, storedLatest: DataFrame, scope: UnchangedScope): DataFrame = {
    val stored = storedLatest
      .withColumnRenamed("value", "value_st")
      .withColumnRenamed("annotation", "annotation_st")
      .withColumnRenamed("changed_by", "changed_by_st")
      .withColumn("_in_store", lit(true))
    incoming.join(stored, scope.keys, "left")
      .filter(col("_in_store").isNull || !sameState)
      .select(incoming.columns.map(col): _*)
  }

  /** W4 in co-located form: stored rows and incoming rows live in ONE
    * frame, distinguished by the `isStored` predicate. Semantically
    * identical to `filterUnchanged(all.filter(!isStored),
    * storedLatestFor(all.filter(isStored), scope), scope)` — pinned by
    * WritePipelineSpec — but planned as ONE scan + ONE shuffle: a
    * conditional window-max over the stored rows resolves the read-back
    * argmax, and the NaN-aware compare runs in the same projection. The
    * two-frame path costs two scans of the store plus a groupBy and a
    * join (4 exchanges); when the incoming batch is itself a slice of
    * the stored table (re-ingestion, backfill replay, the bench
    * surrogate) this variant is the plan you want at 100 TB: everything
    * rides one hash-exchange on the scope key.
    */
  def filterUnchangedCoLocated(all: DataFrame, isStored: Column, scope: UnchangedScope): DataFrame = {
    val ordering = scope match {
      case UnchangedScope.ValidTime =>
        struct(col("knowledge_time"), col("change_time"),
          col("value"), col("annotation"), col("changed_by"))
      case UnchangedScope.KnowledgeTime =>
        struct(col("change_time"), col("value"), col("annotation"), col("changed_by"))
    }
    val w = Window.partitionBy(scope.keys.map(col): _*)
    val sameAsWin =
      (col("value") === col("_win.value")) &&
        (col("annotation") === col("_win.annotation")) &&
        (col("changed_by") === col("_win.changed_by"))
    val out = all
      .withColumn("_win", max(when(isStored, ordering)).over(w))
      .filter(!isStored)
      .filter(col("_win").isNull || !sameAsWin)
    out.select(all.columns.map(col): _*)
  }

  /** The read-back for W4 (timedb/write.py:205-214): latest stored state
    * per scope key over the incoming batch's (series, retention,
    * valid_time-slab) bounds — the same argmax as the latest read, one
    * level of ordering deeper for the knowledge_time scope.
    */
  def storedLatestFor(stored: DataFrame, scope: UnchangedScope): DataFrame = {
    val ordering = scope match {
      case UnchangedScope.ValidTime =>
        struct(col("knowledge_time"), col("change_time"),
          col("value"), col("annotation"), col("changed_by"))
      case UnchangedScope.KnowledgeTime =>
        struct(col("change_time"), col("value"), col("annotation"), col("changed_by"))
    }
    stored
      .groupBy(scope.keys.map(col): _*)
      .agg(max(ordering).as("_win"))
      .select(scope.keys.map(col) ++ Seq(
        col("_win.value").as("value"),
        col("_win.annotation").as("annotation"),
        col("_win.changed_by").as("changed_by")): _*)
  }
}
