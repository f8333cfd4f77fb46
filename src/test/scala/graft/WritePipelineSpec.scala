package graft

import org.apache.spark.sql.functions._

import graft.operators.{UnchangedScope, WritePipeline}
import graft.sources.Schema

/** Ports of the reference's pure-unit write tests
  * (timedb/tests/test_write_validation.py): validation errors, default
  * stamping, run_series derivation, skip-unchanged incl. NaN==NaN. */
class WritePipelineSpec extends SparkSpec {
  import spark.implicits._

  private def minimal = Seq(
    (1L, ts("2024-01-01T00:00:00Z"), 1.5),
    (2L, ts("2024-01-01T01:00:00Z"), 2.5))
    .toDF("series_id", "valid_time", "value")

  test("stamp fills every missing optional column with batch constants") {
    val now = ts("2024-06-01T12:00:00Z")
    val out = WritePipeline.stamp(minimal, now = now, runId = 42L)
    assert(out.columns.toSeq == Schema.seriesValuesColumns)
    val r = out.orderBy("series_id").collect()(0)
    assert(r.getAs[java.sql.Timestamp]("knowledge_time") == now)
    assert(r.getAs[java.sql.Timestamp]("change_time") == now)
    assert(r.getAs[Long]("run_id") == 42L)
    assert(r.getAs[String]("retention") == "forever")
    assert(r.getAs[String]("changed_by") == "")
    assert(r.getAs[String]("annotation") == "")
    assert(r.getAs[java.sql.Timestamp]("valid_time_end") == Schema.validTimeEndSentinel)
  }

  test("explicit knowledge_time kwarg and retention kwarg are stamped") {
    val kt = ts("2024-05-05T05:00:00Z")
    val out = WritePipeline.stamp(minimal, retentionKwarg = Some("short"),
      knowledgeTimeKwarg = Some(kt))
    val r = out.collect()(0)
    assert(r.getAs[java.sql.Timestamp]("knowledge_time") == kt)
    assert(r.getAs[String]("retention") == "short")
  }

  test("null values become NaN (storage sentinel)") {
    val withNull = Seq((1L, ts("2024-01-01T00:00:00Z"), Option.empty[Double]))
      .toDF("series_id", "valid_time", "value")
    val out = WritePipeline.stamp(withNull)
    assert(out.select("value").as[Double].head().isNaN)
  }

  test("validation: missing required column") {
    val e = intercept[IllegalArgumentException] {
      WritePipeline.stamp(Seq((1L, 1.0)).toDF("series_id", "value"))
    }
    assert(e.getMessage.contains("valid_time"))
  }

  test("validation: tz-naive timestamp rejected") {
    val naive = Seq((1L, java.time.LocalDateTime.parse("2024-01-01T00:00"), 1.0))
      .toDF("series_id", "valid_time", "value")
    val e = intercept[IllegalArgumentException](WritePipeline.stamp(naive))
    assert(e.getMessage.contains("timezone-aware"))
  }

  test("validation: unknown retention kwarg and column values") {
    intercept[IllegalArgumentException](
      WritePipeline.stamp(minimal, retentionKwarg = Some("eternal")))
    intercept[IllegalArgumentException](
      WritePipeline.requireValidRetentions(Seq("short", "eternal")))
    // a null retention value reports cleanly instead of NPE-ing
    val e = intercept[IllegalArgumentException](
      WritePipeline.requireValidRetentions(Seq("short", null)))
    assert(e.getMessage.contains("null"))
  }

  test("null required fields are rejected at write execution") {
    val nullVt = Seq((1L, Option.empty[java.sql.Timestamp], 1.0))
      .toDF("series_id", "valid_time", "value")
    val err = intercept[Exception](WritePipeline.stamp(nullVt).collect())
    assert(err.getMessage.contains("valid_time") ||
      Option(err.getCause).exists(_.getMessage.contains("valid_time")))
    val nullSid = Seq((Option.empty[Long], ts("2024-01-01T00:00:00Z"), 1.0))
      .toDF("series_id", "valid_time", "value")
    intercept[Exception](WritePipeline.stamp(nullSid).collect())
  }

  test("validation: ambiguous retention / knowledge_time") {
    intercept[IllegalArgumentException](WritePipeline.stamp(
      minimal.withColumn("retention", lit("short")), retentionKwarg = Some("short")))
    intercept[IllegalArgumentException](WritePipeline.stamp(
      minimal.withColumn("knowledge_time", lit(ts("2024-01-01T00:00:00Z"))),
      knowledgeTimeKwarg = Some(ts("2024-01-01T00:00:00Z"))))
  }

  test("caller-supplied run_id column is preserved") {
    val out = WritePipeline.stamp(minimal.withColumn("run_id", lit(7L)))
    assert(out.select("run_id").distinct().as[Long].collect().toSeq == Seq(7L))
  }

  test("runSeriesOf derives distinct (series_id, run_id) pairs") {
    val stamped = WritePipeline.stamp(minimal union minimal, runId = 9L)
    val rs = WritePipeline.runSeriesOf(WritePipeline.withFirstSeen(stamped, ts("2024-01-01T00:00:00Z")))
    assert(rs.count() == 2)
    assert(rs.columns.toSeq == Seq("series_id", "run_id", "first_seen"))
  }

  test("skip-unchanged drops matching state, NaN matches NaN") {
    val stored = Seq(
      (1L, ts("2024-01-01T00:00:00Z"), 5.0, "", "a"),
      (2L, ts("2024-01-01T00:00:00Z"), Double.NaN, "", "a"),
      (3L, ts("2024-01-01T00:00:00Z"), 7.0, "", "a"))
      .toDF("series_id", "valid_time", "value", "annotation", "changed_by")
    val incoming = Seq(
      (1L, ts("2024-01-01T00:00:00Z"), 5.0, "", "a"),        // identical → dropped
      (2L, ts("2024-01-01T00:00:00Z"), Double.NaN, "", "a"), // NaN==NaN → dropped
      (3L, ts("2024-01-01T00:00:00Z"), 8.0, "", "a"),        // value differs → kept
      (4L, ts("2024-01-01T00:00:00Z"), 1.0, "", "a"))        // not in store → kept
      .toDF("series_id", "valid_time", "value", "annotation", "changed_by")
    val kept = WritePipeline.filterUnchanged(incoming, stored, UnchangedScope.ValidTime)
    assert(kept.select("series_id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("filterUnchangedCoLocated ≡ filterUnchanged ∘ storedLatestFor on one frame") {
    // stored (flag=0) and incoming (flag=1) share one frame; includes a
    // NaN match, a value change, a key with NO stored row, and a stored
    // correction chain (argmax must pick kt2/ct3 before comparing).
    val all = Seq(
      (0, 1L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T01:00:00Z"), ts("2024-01-01T01:00:00Z"), 1.0, "", "a"),
      (0, 1L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T02:00:00Z"), ts("2024-01-01T03:00:00Z"), 3.0, "", "a"),
      (1, 1L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T04:00:00Z"), ts("2024-01-01T04:00:00Z"), 3.0, "", "a"), // matches latest → dropped
      (0, 2L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T01:00:00Z"), ts("2024-01-01T01:00:00Z"), Double.NaN, "", "a"),
      (1, 2L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T04:00:00Z"), ts("2024-01-01T04:00:00Z"), Double.NaN, "", "a"), // NaN==NaN → dropped
      (1, 3L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T04:00:00Z"), ts("2024-01-01T04:00:00Z"), 9.0, "", "a"), // no store → kept
      (1, 1L, ts("2024-01-01T01:00:00Z"), ts("2024-01-01T04:00:00Z"), ts("2024-01-01T04:00:00Z"), 3.0, "", "a")) // other vt, no store → kept
      .toDF("flag", "series_id", "valid_time", "knowledge_time", "change_time", "value", "annotation", "changed_by")
    for (scope <- Seq(UnchangedScope.ValidTime: UnchangedScope, UnchangedScope.KnowledgeTime)) {
      val coLocated = WritePipeline
        .filterUnchangedCoLocated(all, col("flag") === 0, scope)
        .drop("flag")
      val twoFrame = WritePipeline.filterUnchanged(
        all.filter(col("flag") === 1).drop("flag"),
        WritePipeline.storedLatestFor(all.filter(col("flag") === 0).drop("flag"), scope),
        scope)
      val key = Seq("series_id", "valid_time", "knowledge_time")
      assert(coLocated.orderBy(key.map(col): _*).collect().toSeq ==
        twoFrame.orderBy(key.map(col): _*).collect().toSeq, s"scope $scope")
    }
    val kept = WritePipeline
      .filterUnchangedCoLocated(all, col("flag") === 0, UnchangedScope.ValidTime)
    assert(kept.select("series_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("storedLatestFor picks the argmax state per scope key") {
    val stored = Seq(
      (1L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T01:00:00Z"), ts("2024-01-01T01:00:00Z"), 1.0, "", "a"),
      (1L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T02:00:00Z"), ts("2024-01-01T02:00:00Z"), 2.0, "", "a"),
      (1L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T02:00:00Z"), ts("2024-01-01T03:00:00Z"), 3.0, "", "a"))
      .toDF("series_id", "valid_time", "knowledge_time", "change_time", "value", "annotation", "changed_by")
    val vtScope = WritePipeline.storedLatestFor(stored, UnchangedScope.ValidTime)
    assert(vtScope.select("value").as[Double].collect().toSeq == Seq(3.0))
    val ktScope = WritePipeline.storedLatestFor(stored, UnchangedScope.KnowledgeTime)
      .orderBy("knowledge_time")
    assert(ktScope.select("value").as[Double].collect().toSeq == Seq(1.0, 3.0))
  }

  test("run ids are 63-bit and time-ordered") {
    val a = graft.functions.RunId.next(1000L)
    val b = graft.functions.RunId.next(2000L)
    assert(a >= 0 && b >= 0 && b > a)
  }
}
