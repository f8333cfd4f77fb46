package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Param

/** The four read shapes of the 3D temporal model, plus the relative
  * (per-window as-of) read — re-expressed as declarative DataFrame
  * transforms so Catalyst plans them (hash aggregate / window exchange
  * reuse / predicate pushdown all come free).
  *
  * Output shapes follow the reference's flag dispatch
  * (timedb/read.py:3-13, 438-449):
  *
  *  - `latest`                  (updates=F, kt=F): (series_id, valid_time, value)
  *  - `overlapping`             (updates=F, kt=T): (series_id, knowledge_time, valid_time, value)
  *  - `latestWithChanges`       (updates=T, kt=F): (series_id, valid_time, change_time, value, changed_by, annotation)
  *  - `overlappingWithChanges`  (updates=T, kt=T): (series_id, valid_time, knowledge_time, change_time, value, changed_by, annotation)
  *
  * Scale notes (100 TB): every shape keys its shuffle on
  * `(series_id, valid_time[, knowledge_time])` — cardinality grows with the
  * data, so the shuffle scales with `spark.sql.shuffle.partitions`, never a
  * single hot key. Where two window functions share a partition key the
  * exchange is planned once (Catalyst reuses the sort/exchange). No
  * collect() anywhere on the data path.
  */
object ReadShapes {

  private val sid = col("series_id")
  private val vt = col("valid_time")
  private val kt = col("knowledge_time")
  private val ct = col("change_time")

  /** The state tuple the audit-chain collapse compares on
    * (timedb/read.py:264-267). Struct equality via `<=>` is Spark's
    * null-safe IS NOT DISTINCT FROM; NaN inside a struct compares equal to
    * NaN, matching ClickHouse/DuckDB semantics. */
  private def stateTuple: Column = struct(col("value"), col("annotation"), col("changed_by"))

  /** Latest value per (series_id, valid_time): the row with the largest
    * (knowledge_time, change_time) — latest issue, latest correction
    * within it (timedb/read.py:232-247).
    *
    * `max(struct(kt, ct, value))` gives ClickHouse's tuple-argMax via
    * lexicographic struct ordering, in a single partial+final hash
    * aggregate (map-side combine ⇒ shuffle carries one row per group per
    * mapper, not the raw data).
    */
  def latest(values: DataFrame): DataFrame =
    values
      .groupBy(sid, vt)
      .agg(graft.functions.ArgMaxLatest(kt, ct, col("value")).as("value"))
      .select(sid, vt, col("value"))

  /** One row per (series_id, valid_time, knowledge_time): the latest
    * correction (largest change_time) of each issued forecast
    * (timedb/read.py:295-317, the `LIMIT 1 BY` shape). Same argmax
    * aggregation, one level deeper — `ArgMaxLatest(ct, ct, value)`
    * degenerates to the lexicographic (ct, value) max, identical to
    * `max(struct(ct, value))`, but with a FLAT hash-aggregable buffer:
    * a pure HashAggregate instead of the struct-buffer SortAggregate
    * (no per-partition sort of the fact table).
    */
  def overlapping(values: DataFrame): DataFrame =
    values
      .groupBy(sid, vt, kt)
      .agg(graft.functions.ArgMaxLatest(ct, ct, col("value")).as("value"))
      .select(sid, kt, vt, col("value"))

  /** Correction chain of the winning (max-knowledge_time) forecast per
    * (series_id, valid_time), consecutive duplicate states collapsed
    * (timedb/read.py:250-287).
    *
    * The reference's semi-join (`(sid, vt, kt) IN (SELECT sid, vt,
    * max(kt) ...)`) is planned here as a window max over the same
    * partition key as the lag that follows — one exchange serves both
    * window functions, where a join would shuffle both sides. The max
    * window declares the chain's `change_time` ordering with an explicit
    * whole-partition frame (same result as the unordered partition max),
    * so BOTH windows share one Sort: exchange → sort → max-window →
    * filter (order-preserving) → lag-window, with no re-sort between —
    * at scale that is one full sort pass of the fact table saved.
    */
  def latestWithChanges(values: DataFrame): DataFrame = {
    val chain = Window.partitionBy(sid, vt).orderBy(ct.asc)
    val whole = chain.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    values
      .withColumn("_max_kt", max(kt).over(whole))
      .filter(kt === col("_max_kt"))
      .withColumn("_prev", lag(stateTuple, 1).over(chain))
      .filter(col("_prev").isNull || !(col("_prev") <=> stateTuple))
      .select(sid, vt, ct, col("value"), col("changed_by"), col("annotation"))
  }

  /** Full 3D audit: every real state transition per
    * (series_id, knowledge_time, valid_time) (timedb/read.py:320-344). */
  def overlappingWithChanges(values: DataFrame): DataFrame = {
    val chain = Window.partitionBy(sid, kt, vt).orderBy(ct.asc)
    values
      .withColumn("_prev", lag(stateTuple, 1).over(chain))
      .filter(col("_prev").isNull || !(col("_prev") <=> stateTuple))
      .select(sid, vt, kt, ct, col("value"), col("changed_by"), col("annotation"))
  }

  /** Per-window as-of cutoff: `cutoff(vt) = window_start(vt; w, origin) +
    * offset`, computed in µs integer arithmetic — the Spark form of
    * `addSeconds(toStartOfInterval(vt, w, origin), offset)`
    * (timedb/read.py:387-391). Floor division is implemented via
    * `pmod` so windows before the origin land in the right bucket.
    */
  def windowCutoff(validTime: Column, windowSecs: Long, offsetSecs: Long, startWindow: Column): Column = {
    val winUs = Param(windowSecs * 1000000L)
    val vtUs = unix_micros(validTime)
    val origUs = unix_micros(startWindow)
    val delta = vtUs - origUs
    val floored = delta - pmod(delta, winUs) // floor(delta / win) * win, exact for negatives
    timestamp_micros(origUs + floored + Param(offsetSecs * 1000000L))
  }

  /** Relative read (timedb/read.py:352-396): latest-read restricted to
    * rows issued no later than each valid_time's window cutoff. */
  def relative(values: DataFrame, windowSecs: Long, offsetSecs: Long, startWindow: java.sql.Timestamp): DataFrame =
    latest(values.filter(kt <= windowCutoff(vt, windowSecs, offsetSecs, Param(startWindow))))
}
