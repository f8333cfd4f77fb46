package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded forecast generator and the closed-form model of what the store
  * must answer after any sequence of its batches.
  *
  * Time is counted in whole hours since the Unix epoch. Run `r` is the
  * hourly forecast issued at `knowledge_time = base + r` hours; it covers
  * every series `1..n` at valid hours `base + r + 1 .. base + r + 48`.
  * Every value is a pure function of (seed, series, valid hour, run,
  * revision), evaluated by the same integer formula in Spark (to build the
  * batches) and in Scala (to predict the reads), so the program only ever
  * sees generated DataFrames and every answer can be checked exactly.
  * Values are multiples of 1/4 below 1,001, so any sum of a few million
  * of them is exact in a double whatever the summation order.
  *
  * Revisions of a run: 0 is the original delivery; 1 is a correction batch
  * (same knowledge_time, one series in eight); 2 is a re-delivery of the
  * whole run through skip-unchanged in which about one row in fifty
  * changed. A run receives at most one of the two follow-ups.
  */
final case class Gen(seed: Long, nSeries: Int, baseHour: Long) {
  import Gen._

  /** Revision-1 series of run `r`. */
  def corrected(sid: Long, r: Long): Boolean = Math.floorMod(sid + r, 8L) == 0L

  def correctionRows(r: Long): Long =
    (1L to nSeries).count(corrected(_, r)).toLong * Horizon

  /** Rows a re-delivery of run `r` changes (and so writes). */
  def changed(sid: Long, vtH: Long, r: Long): Boolean =
    Math.floorMod(mix(seed, sid, vtH, r, 7), 50L) == 0L && value(sid, vtH, r, 2) != value(sid, vtH, r, 0)

  def redeliveryWritten(r: Long): Long = {
    var n = 0L
    for (sid <- 1L to nSeries; k <- 1 to Horizon) if (changed(sid, baseHour + r + k, r)) n += 1
    n
  }

  def value(sid: Long, vtH: Long, r: Long, rev: Int): Double = valueOf(mix(seed, sid, vtH, r, rev))

  private def seedTerm = Math.floorMod(seed, 1000003L) * 32452843L

  private def mixCol(sid: Column, vtH: Column, r: Column, rev: Int): Column = {
    val lin = sid * 7919L + vtH * 104729L + r * 1299709L + lit(rev * 15485863L + seedTerm)
    val a = pmod(lin, lit(2147483647L))
    pmod(a * a, lit(Levels))
  }
  private def valueCol(sid: Column, vtH: Column, r: Column, rev: Int): Column =
    mixCol(sid, vtH, r, rev).cast("double") / 4.0

  /** Runs `[r0, r1)` as one DataFrame: knowledge_time and run_id travel as
    * columns, so one write carries many hourly runs. */
  def runs(spark: SparkSession, r0: Long, r1: Long, changeTime: Timestamp): DataFrame = {
    val perRun = nSeries.toLong * Horizon
    spark.range((r1 - r0) * perRun)
      .withColumn("r", expr(s"id div $perRun") + r0)
      .withColumn("series_id", expr(s"(id % $perRun) div $Horizon") + 1L)
      .withColumn("vt_h", col("r") + (col("id") % Horizon) + 1L + baseHour)
      .select(
        col("series_id"),
        timestamp_seconds(col("vt_h") * 3600L).as("valid_time"),
        timestamp_seconds((col("r") + baseHour) * 3600L).as("knowledge_time"),
        lit(changeTime).as("change_time"),
        valueCol(col("series_id"), col("vt_h"), col("r"), 0).as("value"),
        (col("r") + 1L).as("run_id"),
        tierCol(col("series_id")).as("retention"))
  }

  private def oneRun(spark: SparkSession, r: Long): DataFrame = {
    val perRun = nSeries.toLong * Horizon
    spark.range(perRun)
      .withColumn("series_id", expr(s"id div $Horizon") + 1L)
      .withColumn("vt_h", lit(baseHour + r + 1L) + col("id") % Horizon)
  }

  /** Revision 0 of run `r`; knowledge_time is passed to the write. */
  def run(spark: SparkSession, r: Long, changeTime: Timestamp): DataFrame =
    finish(oneRun(spark, r), r, changeTime, valueCol(col("series_id"), col("vt_h"), lit(r), 0))

  /** Revision 1 of run `r`: the corrected series only. */
  def correction(spark: SparkSession, r: Long, changeTime: Timestamp): DataFrame =
    finish(oneRun(spark, r).filter(pmod(col("series_id") + r, lit(8L)) === 0L), r, changeTime,
      valueCol(col("series_id"), col("vt_h"), lit(r), 1))

  /** Revision 2 of run `r`: the whole run, about 2 % of values changed. */
  def redelivery(spark: SparkSession, r: Long, changeTime: Timestamp): DataFrame = {
    val v0 = valueCol(col("series_id"), col("vt_h"), lit(r), 0)
    val v2 = valueCol(col("series_id"), col("vt_h"), lit(r), 2)
    val flag = pmod(mixCol(col("series_id"), col("vt_h"), lit(r), 7), lit(50L)) === 0L
    finish(oneRun(spark, r), r, changeTime, when(flag, v2).otherwise(v0))
  }

  private def finish(df: DataFrame, r: Long, changeTime: Timestamp, value: Column): DataFrame =
    df.select(
      col("series_id"),
      timestamp_seconds(col("vt_h") * 3600L).as("valid_time"),
      lit(changeTime).as("change_time"),
      value.as("value"),
      lit(r + 1L).as("run_id"),
      tierCol(col("series_id")).as("retention"))

  def knowledgeTime(r: Long): Timestamp = Gen.hourTs(baseHour + r)
}

object Gen {
  val Horizon = 48

  /** Distinct value levels (a prime). Few enough that Parquet always keeps
    * the value column dictionary-encoded: with ~10^5 levels the encoder's
    * dictionary-or-plain choice flipped with the seed, and stored bytes
    * per row with it. */
  val Levels = 4001L

  def tierOf(sid: Long): String = if (sid % 4 == 0) "short" else "medium"
  def tierCol(sid: Column): Column = when(sid % 4L === 0L, lit("short")).otherwise(lit("medium"))

  def mix(seed: Long, sid: Long, vtH: Long, r: Long, rev: Int): Long = {
    val lin = sid * 7919L + vtH * 104729L + r * 1299709L + rev * 15485863L +
      Math.floorMod(seed, 1000003L) * 32452843L
    val a = Math.floorMod(lin, 2147483647L)
    Math.floorMod(a * a, Levels)
  }
  def valueOf(h: Long): Double = h.toDouble / 4.0

  def hourTs(h: Long): Timestamp = new Timestamp(h * 3600L * 1000L)
  def hourOf(ts: Timestamp): Long = Math.floorDiv(ts.getTime, 3600L * 1000L)
  def monthOf(h: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMM")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(h * 3600L))

  /** Key checksum of one returned row; `ktH` is 0 for shapes without
    * knowledge_time. */
  def keySum(sid: Long, vtH: Long, ktH: Long): Long = sid * 1000003L + vtH * 31L + ktH
}
