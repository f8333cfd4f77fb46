package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.IndexStore
import graft.streaming.{StreamingHolt, StreamingIngest, StreamingLttb, StreamingSessionize}

/** Streaming ingest reuses the batch write pipeline and lands rows the
  * batch readers see identically. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch ingest lands rows readable by the batch shapes") {
    val base = java.nio.file.Files.createTempDirectory("timedb_stream").toString
    val db = new TimeDb(spark, base)
    db.create()

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    mem.addData((1L, ts("2024-03-01T00:00:00Z"), 1.0), (1L, ts("2024-03-01T01:00:00Z"), 2.0))
    val stream = mem.toDF().toDF("series_id", "valid_time", "value")

    val q = StreamingIngest.writer(stream, base, retention = Some("short")).start()
    q.processAllAvailable()
    // late correction arrives in a second micro-batch
    mem.addData((1L, ts("2024-03-01T00:00:00Z"), 5.0))
    q.processAllAvailable()
    q.stop()

    val latest = db.read(ReadFilter(Seq(1L), retention = Seq("short")))
      .as[(Long, java.sql.Timestamp, Double)].collect()
    assert(latest.length == 2)
    assert(latest.find(_._2 == ts("2024-03-01T00:00:00Z")).get._3 == 5.0) // correction wins
    assert(db.readRunSeries(1L).length == 2) // one run per micro-batch
    db.delete()
  }

  test("ingest-loop compaction caps file growth without losing rows") {
    val base = java.nio.file.Files.createTempDirectory("timedb_stream_compact").toString
    val db = new TimeDb(spark, base)
    db.create()

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val stream = mem.toDF().toDF("series_id", "valid_time", "value")
    // compact every 4 batches, threshold 2 files per partition
    val q = StreamingIngest.writer(stream, base, retention = Some("short"),
      compactEvery = 4L, compactMaxFiles = 2).start()
    (0 until 8).foreach { i =>
      mem.addData((1L, ts(f"2024-03-01T0$i%01d:00:00Z"), i.toDouble))
      q.processAllAvailable()
    }
    q.stop()

    val rows = db.read(ReadFilter(Seq(1L), retention = Seq("short"))).count()
    assert(rows == 8L)
    // 8 appended files were compacted down at batches 4 (and vacuumed);
    // well under one file per micro-batch
    val files = db.store.scanValues().inputFiles.length
    assert(files < 8, s"expected compaction to cap files, got $files")
    db.delete()
  }

  test("windowed streaming aggregation with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val agg = StreamingIngest.windowedStats(
      mem.toDF().toDF("series_id", "valid_time", "value"), "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("ws")
      .outputMode(OutputMode.Complete).start()
    mem.addData((1L, ts("2024-03-01T00:10:00Z"), 2.0), (1L, ts("2024-03-01T00:50:00Z"), 4.0),
      (2L, ts("2024-03-01T01:10:00Z"), 9.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT series_id, n, mean_value FROM ws ORDER BY series_id")
      .as[(Long, Long, Double)].collect()
    q.stop()
    assert(rows.toSeq == Seq((1L, 2L, 3.0), (2L, 1L, 9.0)))
  }

  test("sketch aggregates run under streaming: KMV estimate, MG verdicts") {
    // the bounded-state sketches compose with Structured Streaming's
    // incremental aggregation: partial buffers serialize through the
    // state store between micro-batches, and KMV's merge-order
    // invariance means the streaming estimate EQUALS the batch one
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val agg = mem.toDF().toDF("grp", "token")
      .groupBy("grp")
      .agg(
        graft.functions.KMinValues(
          graft.functions.Portable.hash60(col("token")), 16).as("kmv"),
        graft.functions.KMinSet(
          graft.functions.Portable.hash60(col("token")), 16).as("kset"),
        graft.functions.MisraGriesTopK(col("token"), 4).as("mg"))
    val q = agg.writeStream.format("memory").queryName("sk")
      .outputMode(OutputMode.Complete).start()
    val batch1 = (1 to 50).map(i => ("a", s"t$i")) :+ (("b", "x"))
    val batch2 = (30 to 80).map(i => ("a", s"t$i")) :+ (("b", "x")) :+ (("b", "y"))
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    val rows = spark.sql("SELECT grp, kmv, kset, mg.n FROM sk ORDER BY grp")
      .as[(String, Double, Seq[Long], Long)].collect().toSeq
    q.stop()
    // batch reference over the same union of rows — the streaming
    // sketch VALUES (not just the estimate) must match: set-algebra
    // consumers compose on the array, so merge-order invariance has
    // to hold through the state store at array granularity
    val batchEst = (batch1 ++ batch2).toDF("grp", "token")
      .groupBy("grp")
      .agg(graft.functions.KMinValues(
        graft.functions.Portable.hash60(col("token")), 16).as("kmv"),
        graft.functions.KMinSet(
          graft.functions.Portable.hash60(col("token")), 16).as("kset"))
      .orderBy("grp").as[(String, Double, Seq[Long])].collect().toSeq
    assert(rows.map(r => (r._1, r._2, r._3)) == batchEst,
      "streaming KMV estimate AND k-min array must equal batch on the same data")
    assert(rows.map(_._4) == Seq(101L, 3L), "MG n counts every processed row")
  }

  test("streaming CMS matrix equals the batch matrix (order-invariant sum)") {
    // CMS goes further than KMV's estimate equality: the ENTIRE state
    // is an order-invariant sum, so the streaming matrix must be
    // bit-identical to a batch aggregation over the same rows no
    // matter how the micro-batches sliced them
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val agg = mem.toDF().toDF("grp", "token")
      .groupBy("grp")
      .agg(graft.functions.CountMinSketch(col("token"), 3, 32).as("cms"))
    val q = agg.writeStream.format("memory").queryName("cms")
      .outputMode(OutputMode.Complete).start()
    val batch1 = (1 to 40).map(i => ("a", s"t${i % 7}")) :+ (("b", "x"))
    val batch2 = (1 to 25).map(i => ("a", s"t${i % 5}")) :+ (("b", "y"))
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    val streaming = spark.sql("SELECT grp, cms FROM cms ORDER BY grp").collect()
      .map(r => (r.getString(0), r.getStruct(1).getLong(0),
        r.getStruct(1).getSeq[scala.collection.Seq[Long]](1).map(_.toSeq).toSeq)).toSeq
    q.stop()
    val batch = (batch1 ++ batch2).toDF("grp", "token")
      .groupBy("grp")
      .agg(graft.functions.CountMinSketch(col("token"), 3, 32).as("cms"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getStruct(1).getLong(0),
        r.getStruct(1).getSeq[scala.collection.Seq[Long]](1).map(_.toSeq).toSeq)).toSeq
    assert(streaming == batch,
      "streaming CMS matrix must be bit-identical to the batch matrix")
  }

  test("streaming OLS trend equals the batch trend on any micro-batch slicing") {
    // trend is ONE groupBy over five exact decimal moments — all plain
    // sums, so the operator runs UNCHANGED under Structured Streaming
    // (Complete mode) and must agree with batch bit-for-bit regardless
    // of how micro-batches sliced the stream.
    implicit val sqlCtx = spark.sqlContext
    val origin = ts("2024-01-01T00:00:00Z")
    val mem = MemoryStream[(Long, Long, Double)]
    val streamed = graft.operators.TimeSeriesOps.trend(
      mem.toDF().toDF("user_id", "off", "value")
        .withColumn("ts", expr("timestamp_micros(1704067200000000 + off * 60000000)")),
      origin)
    val q = streamed.writeStream.format("memory").queryName("trend_s")
      .outputMode(OutputMode.Complete).start()
    val r = new scala.util.Random(11)
    val rows = (1 to 500).map(i =>
      (i % 5L, i.toLong, math.round(r.nextDouble() * 1e5) / 1e3))
    mem.addData(rows.take(240): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(240): _*)
    q.processAllAvailable()
    val streaming = spark.sql(
      "SELECT user_id, n, slope_per_day, intercept FROM trend_s ORDER BY user_id")
      .collect().toSeq
    q.stop()
    val batch = graft.operators.TimeSeriesOps.trend(
      rows.toDF("user_id", "off", "value")
        .withColumn("ts", expr("timestamp_micros(1704067200000000 + off * 60000000)")),
      origin).orderBy("user_id").collect().toSeq
    assert(streaming == batch,
      "streaming trend must be bit-identical to the batch trend")
  }

  test("streaming OHLC bars equal the batch bars under event-time windows") {
    // the min_by/max_by formulation keeps O(1) state per open bucket
    // and survives any micro-batch slicing — bars must equal a batch
    // aggregation over the same rows
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double, Long)]
    val agg = mem.toDF().toDF("series_id", "ts", "value", "event_id")
      .withWatermark("ts", "1 hour")
      .groupBy(col("series_id"),
        org.apache.spark.sql.functions.window(col("ts"), "1 day").as("win"))
      .agg(graft.operators.TimeSeriesOps.ohlcAggCols().head,
        graft.operators.TimeSeriesOps.ohlcAggCols().tail: _*)
    val q = agg.writeStream.format("memory").queryName("ohlc")
      .outputMode(OutputMode.Complete).start()
    val rows = Seq(
      (1L, ts("2024-01-01T01:00:00Z"), 5.0, 10L),
      (1L, ts("2024-01-01T03:00:00Z"), 1.0, 12L))
    val rows2 = Seq(
      (1L, ts("2024-01-01T02:00:00Z"), 9.0, 11L), // arrives late, same bar
      (1L, ts("2024-01-01T04:00:00Z"), 7.0, 13L),
      (2L, ts("2024-01-01T12:00:00Z"), 3.0, 15L))
    mem.addData(rows: _*)
    q.processAllAvailable()
    mem.addData(rows2: _*)
    q.processAllAvailable()
    val streaming = spark.sql(
      "SELECT series_id, open, high, low, close, n_points FROM ohlc ORDER BY series_id")
      .as[(Long, Double, Double, Double, Double, Long)].collect().toSeq
    q.stop()
    assert(streaming == Seq(
      (1L, 5.0, 9.0, 1.0, 7.0, 4L), // open=first by ts, close=last by ts
      (2L, 3.0, 3.0, 3.0, 3.0, 1L)))
  }

  test("streaming Holt equals the batch fold across slicings and cross-batch disorder") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val q = StreamingHolt.holt(
      mem.toDF().toDF("user_id", "ts", "event_id", "value"),
      alpha = 0.5, beta = 0.25, watermark = "1 hour")
      .writeStream.format("memory").queryName("holt_s")
      .outputMode(OutputMode.Update).start()
    // batch 1 establishes a prefix; batch 2 arrives with IN-TOLERANCE
    // disorder (02:30 lands after 03:00 was seen) plus a new key
    val b1 = Seq(
      (1L, ts("2024-01-01T01:00:00Z"), 1L, 1.0),
      (1L, ts("2024-01-01T03:00:00Z"), 3L, 3.0))
    val b2 = Seq(
      (1L, ts("2024-01-01T02:30:00Z"), 2L, 2.0), // late but inside 1h tolerance
      (1L, ts("2024-01-01T04:00:00Z"), 4L, 5.0),
      // a NEW key is still subject to the GLOBAL watermark (02:00
      // here): its first event must be in-tolerance or it is late
      (2L, ts("2024-01-01T03:30:00Z"), 5L, 42.0))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    // a TOO-LATE row (00:30 < watermark 02:00) must be DROPPED, not
    // folded behind the committed prefix — Spark's own late filter
    // does not run for flatMapGroupsWithState under NoTimeout, so the
    // operator guards at entry; a fresh 05:00 row rides along so the
    // key emits again after the drop
    mem.addData(
      (1L, ts("2024-01-01T00:30:00Z"), 9L, 1000.0),
      (1L, ts("2024-01-01T05:00:00Z"), 6L, 4.0))
    q.processAllAvailable()
    // last emission per key = "if the stream ended now"
    val streaming = spark.sql(
      """SELECT user_id, level, trend, forecast FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY mono DESC) rn
        |  FROM (SELECT *, monotonically_increasing_id() AS mono FROM holt_s))
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)
      .as[(Long, Double, Double, Double)].collect().toSeq
    q.stop()
    // batch comparator: b1 ++ b2 ++ ONLY the in-tolerance row of b3 —
    // the dropped 00:30 row must leave no trace
    val batch = graft.operators.TimeSeriesOps.holtLinear(
      (b1 ++ b2 :+ ((1L, ts("2024-01-01T05:00:00Z"), 6L, 4.0)): Seq[(Long, java.sql.Timestamp, Long, Double)])
        .toDF("user_id", "ts", "event_id", "value"),
      alpha = 0.5, beta = 0.25)
      .orderBy("user_id")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(streaming == batch,
      "streaming Holt must be bit-identical to the batch fold (late row dropped)")
    // the committed/pending split really engaged: batch 1 ran at
    // watermark 0 (everything pending, n=2); batch 2's watermark
    // (03:00 − 1h = 02:00) sealed the 01:00 event and replayed the
    // other three (n=3); batch 3's watermark (04:00 − 1h = 03:00)
    // sealed 02:30 too, leaving 03:00 (at-watermark rows stay
    // replayable), 04:00, 05:00 pending (n=3 again)
    val pendings = spark.sql(
      """SELECT n_pending FROM (
        |  SELECT n_pending, monotonically_increasing_id() AS mono
        |  FROM holt_s WHERE user_id = 1) ORDER BY mono""".stripMargin)
      .as[Int].collect().toSeq
    assert(pendings == Seq(2, 3, 3))
  }

  test("streaming LTTB: sealed windows equal the batch selection bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val q = StreamingLttb.lttb(
      mem.toDF().toDF("user_id", "ts", "event_id", "value"),
      k = 5, windowSec = 3600L, watermark = "30 minutes")
      .writeStream.format("memory").queryName("lttb_s")
      .outputMode(OutputMode.Update).start()
    // window A = [00:00, 01:00); points arrive disordered across batches,
    // values carry >6dp fractions so the HALF_UP quantization is live
    val b1 = Seq(
      (1L, ts("2024-01-01T00:05:00Z"), 1L, 1.0000004),
      (1L, ts("2024-01-01T00:10:00Z"), 2L, 5.25),
      (1L, ts("2024-01-01T00:20:00Z"), 3L, 2.0))
    mem.addData(b1: _*)
    q.processAllAvailable()
    // live (unsealed) emission exists and covers all 3 points (n <= k)
    val live = spark.sql(
      "SELECT n_raw, size(points) FROM lttb_s WHERE NOT closed AND window_start_us = 0 + " +
        ts("2024-01-01T00:00:00Z").getTime * 1000L)
      .as[(Int, Int)].collect().toSeq
    assert(live == Seq((3, 3)))
    val b2 = Seq(
      (1L, ts("2024-01-01T00:15:00Z"), 4L, 8.1234565), // disordered, in tolerance
      (1L, ts("2024-01-01T00:40:00Z"), 5L, 3.0),
      (1L, ts("2024-01-01T00:50:00Z"), 6L, 9.5),
      (1L, ts("2024-01-01T00:35:00Z"), 7L, 4.75),
      (1L, ts("2024-01-01T00:45:00Z"), 8L, 0.5),
      (1L, ts("2024-01-01T00:55:00Z"), 13L, 1.0e13), // decimal overflow: skipped like batch
      (1L, ts("2024-01-01T01:10:00Z"), 9L, 7.0)) // window B
    mem.addData(b2: _*)
    q.processAllAvailable()
    // watermark is now 00:40; this row is proven late and must vanish
    mem.addData((1L, ts("2024-01-01T00:30:00Z"), 10L, 100.0),
      (1L, ts("2024-01-01T02:45:00Z"), 11L, 1.5))
    q.processAllAvailable()
    // watermark 02:15 at this invocation: windows A and B seal
    mem.addData((1L, ts("2024-01-01T03:30:00Z"), 12L, 2.0))
    q.processAllAvailable()
    val sealedPts = spark.sql(
      """SELECT window_start_us, p.ts_us, p.event_id, p.value
        |FROM lttb_s LATERAL VIEW explode(points) AS p WHERE closed
        |ORDER BY window_start_us, p.ts_us, p.event_id""".stripMargin)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val sealedRaw = spark.sql(
      "SELECT window_start_us, n_raw FROM lttb_s WHERE closed ORDER BY window_start_us")
      .as[(Long, Int)].collect().toSeq
    q.stop()
    // exactly A (8 kept rows: overflow + late dropped) and B (1 row) sealed
    val aStart = ts("2024-01-01T00:00:00Z").getTime * 1000L
    val bStart = ts("2024-01-01T01:00:00Z").getTime * 1000L
    assert(sealedRaw == Seq((aStart, 8), (bStart, 1)))
    // batch comparator: TimeSeriesOps.lttb over window A's kept rows
    val aRows = (b1 ++ b2.filter(r => r._2.getTime < ts("2024-01-01T01:00:00Z").getTime))
    val batchA = graft.operators.TimeSeriesOps.lttb(
      aRows.toDF("user_id", "ts", "event_id", "value"), k = 5)
      .orderBy("ts_us", "event_id")
      .select("ts_us", "event_id", "value")
      .as[(Long, Long, Double)].collect().toSeq
    assert(batchA.size == 5, "8 points > k, a real selection ran")
    assert(sealedPts.filter(_._1 == aStart).map(p => (p._2, p._3, p._4)) == batchA,
      "sealed streaming window must be bit-identical to the batch selection")
    assert(sealedPts.filter(_._1 == bStart).map(p => (p._2, p._3, p._4)) ==
      Seq((ts("2024-01-01T01:10:00Z").getTime * 1000L, 9L, 7.0)))
  }

  test("streaming Holt keeps pre-1970 rows before a watermark exists") {
    // getCurrentWatermarkMs() reads 0 before any watermark is
    // established; the late-row guard must not treat that 0 as a real
    // epoch-0 watermark — it used to drop every negative-epoch row as
    // 'late' on every batch, so such series silently never emitted
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val q = StreamingHolt.holt(
      mem.toDF().toDF("user_id", "ts", "event_id", "value"),
      alpha = 0.5, beta = 0.25, watermark = "1 hour")
      .writeStream.format("memory").queryName("holt_neg")
      .outputMode(OutputMode.Update).start()
    val b1 = Seq(
      (1L, ts("1969-12-30T01:00:00Z"), 1L, 1.0),
      (1L, ts("1969-12-30T02:00:00Z"), 2L, 2.0))
    mem.addData(b1: _*)
    q.processAllAvailable()
    val firstEmit = spark.sql("SELECT count(*) FROM holt_neg").as[Long].head()
    assert(firstEmit == 1L, "pre-1970 series must emit on its first batch")
    // a post-1970 batch establishes a real watermark; the committed
    // fold must still include the pre-1970 prefix in (ts, id) order
    val b2 = Seq((1L, ts("2024-01-01T00:00:00Z"), 3L, 3.0))
    mem.addData(b2: _*)
    q.processAllAvailable()
    val streaming = spark.sql(
      """SELECT user_id, level, trend, forecast FROM (
        |  SELECT *, row_number() OVER (ORDER BY mono DESC) rn
        |  FROM (SELECT *, monotonically_increasing_id() AS mono FROM holt_neg))
        |WHERE rn = 1""".stripMargin)
      .as[(Long, Double, Double, Double)].collect().toSeq
    q.stop()
    val batch = graft.operators.TimeSeriesOps.holtLinear(
      (b1 ++ b2).toDF("user_id", "ts", "event_id", "value"),
      alpha = 0.5, beta = 0.25)
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(streaming == batch,
      "streaming Holt over a pre-1970 prefix must equal the batch fold")
  }

  test("streaming IVF serving: every micro-batch equals the batch probe on its query rows") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, Array(0.9f, 0.1f), 1), (2L, Array(0.8f, 0.0f), 1),
      (3L, Array(0.0f, 1.0f), 2), (4L, Array(0.1f, 0.9f), 2))
      .toDF("vec_id", "embedding", "label")
    val cents = graft.operators.Similarity.cellCentroids(corpus)
    val mem = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int, Double, Int)]
    val q = graft.streaming.StreamingSimilarity.serveIvf(
      mem.toDF().toDF("vec_id", "embedding"), corpus, cents, k = 3, nprobe = 1) {
      (df, id) =>
        got ++= df.orderBy("query_id", "rank")
          .select("query_id", "cand_id", "cell", "score", "rank")
          .collect().map(r => (id, r.getLong(0), r.getLong(1), r.getInt(2),
            r.getDouble(3), r.getInt(4)))
        ()
    }.start()
    val b1 = Seq((100L, Array(1.0f, 0.0f)))
    val b2 = Seq((101L, Array(0.0f, 1.0f)), (102L, Array(0.95f, 0.05f)))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // each micro-batch must equal the BATCH probe over its own rows
    def batchProbe(rows: Seq[(Long, Array[Float])]): Seq[(Long, Long, Int, Double, Int)] =
      graft.operators.Similarity.ivfProbeTopK(
        corpus, rows.toDF("vec_id", "embedding"), cents, k = 3, nprobe = 1)
        .orderBy("query_id", "rank")
        .select("query_id", "cand_id", "cell", "score", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3), r.getInt(4))).toSeq
    val nonEmptyBatches = got.map(_._1).distinct.sorted
    assert(nonEmptyBatches.size == 2, s"two served micro-batches, got $nonEmptyBatches")
    val Seq(id1, id2) = nonEmptyBatches.toSeq
    assert(got.filter(_._1 == id1).map(t => (t._2, t._3, t._4, t._5, t._6)).toSeq
      == batchProbe(b1), "batch 1 must equal the batch probe")
    assert(got.filter(_._1 == id2).map(t => (t._2, t._3, t._4, t._5, t._6)).toSeq
      == batchProbe(b2), "batch 2 must equal the batch probe")
    // sanity: the x-axis query's cell-1 candidates rank by cosine
    val q100 = got.filter(t => t._2 == 100L).sortBy(_._6).map(_._3)
    assert(q100 == Seq(2L, 1L), "exactly the probed cell's candidates, cosine-ranked")
  }

  test("streaming Holt state survives a checkpoint restart (committed fold + pending + watermark)") {
    import org.apache.spark.sql.types._
    val inDir = java.nio.file.Files.createTempDirectory("holt_restart_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("holt_restart_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("holt_restart_ck").toString
    val sch = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("value", DoubleType)))
    def start() = StreamingHolt.holt(
        spark.readStream.schema(sch).parquet(inDir),
        alpha = 0.5, beta = 0.25, watermark = "1 hour")
      .writeStream.outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingHolt.HoltPoint], id: Long) =>
        df.toDF().withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
          .write.mode("append").parquet(outDir)
      }.start()
    val b1 = Seq(
      (1L, ts("2024-01-01T01:00:00Z"), 1L, 1.0),
      (1L, ts("2024-01-01T03:00:00Z"), 3L, 3.0))
    b1.toDF("user_id", "ts", "event_id", "value").write.mode("append").parquet(inDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // a SECOND query over the same checkpoint: the recovered watermark
    // (03:00 − 1h = 02:00) must admit the 02:30 straggler and seal the
    // 01:00 prefix; the recovered pending buffer must still hold the
    // pre-restart events or the fold result diverges from batch
    val b2 = Seq(
      (1L, ts("2024-01-01T02:30:00Z"), 2L, 2.0),
      (1L, ts("2024-01-01T04:00:00Z"), 4L, 5.0))
    b2.toDF("user_id", "ts", "event_id", "value").write.mode("append").parquet(inDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val last = spark.read.parquet(outDir)
      .orderBy(col("batch_id").desc).limit(1)
      .select("n_pending", "level", "trend", "forecast")
      .as[(Int, Double, Double, Double)].head()
    val batch = graft.operators.TimeSeriesOps.holtLinear(
      (b1 ++ b2).toDF("user_id", "ts", "event_id", "value"),
      alpha = 0.5, beta = 0.25)
      .select("level", "trend", "forecast")
      .as[(Double, Double, Double)].head()
    assert((last._2, last._3, last._4) == batch,
      "post-restart emission must equal the batch fold over ALL events " +
        "— both the committed prefix and the pending buffer recovered")
    // the committed/pending split pins the WATERMARK recovery too: the
    // recovered 02:00 watermark seals 01:00 (pending = 02:30, 03:00,
    // 04:00 → 3); a reset-to-zero watermark would leave all 4 pending
    assert(last._1 == 3, s"expected 3 pending after recovered-watermark commit, got ${last._1}")
  }

  test("streaming LTTB window buffers survive a checkpoint restart") {
    import org.apache.spark.sql.types._
    val inDir = java.nio.file.Files.createTempDirectory("lttb_restart_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("lttb_restart_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lttb_restart_ck").toString
    val sch = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("value", DoubleType)))
    def start() = StreamingLttb.lttb(
        spark.readStream.schema(sch).parquet(inDir),
        k = 3, windowSec = 3600L, watermark = "30 minutes")
      .writeStream.outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingLttb.LttbWindow], id: Long) =>
        df.toDF().withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
          .write.mode("append").parquet(outDir)
      }.start()
    // window A = [00:00, 01:00) gets 4 points before the restart
    val b1 = Seq(
      (1L, ts("2024-01-01T00:05:00Z"), 1L, 1.0),
      (1L, ts("2024-01-01T00:20:00Z"), 2L, 9.0),
      (1L, ts("2024-01-01T00:35:00Z"), 3L, 2.0),
      (1L, ts("2024-01-01T00:50:00Z"), 4L, 7.0))
    b1.toDF("user_id", "ts", "event_id", "value").write.mode("append").parquet(inDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // a SECOND query over the same checkpoint: the later event seals A
    // (recovered watermark advances past 01:00); the sealed selection
    // must cover all 4 pre-restart points — lost buffers would leave a
    // 0/absent window or a selection over nothing
    // first post-restart batch advances the watermark (recovered wm is
    // only 00:20 — b1's max minus tolerance); the second batch then
    // runs AT wm 01:30 and seals A
    val b2 = Seq((1L, ts("2024-01-01T02:00:00Z"), 5L, 3.0))
    b2.toDF("user_id", "ts", "event_id", "value").write.mode("append").parquet(inDir)
    val q2 = start(); q2.processAllAvailable()
    Seq((1L, ts("2024-01-01T03:00:00Z"), 6L, 4.0))
      .toDF("user_id", "ts", "event_id", "value").write.mode("append").parquet(inDir)
    q2.processAllAvailable(); q2.stop()
    val aStart = ts("2024-01-01T00:00:00Z").getTime * 1000L
    val sealedA = spark.read.parquet(outDir)
      .filter(col("closed") && col("window_start_us") === aStart)
      .select("n_raw", "points")
    assert(sealedA.count() == 1, "window A seals exactly once after the restart")
    val row = sealedA.head()
    assert(row.getInt(0) == 4, "all pre-restart points recovered from the checkpoint")
    // bit-identity to batch over the recovered window
    val batchA = graft.operators.TimeSeriesOps.lttb(
      b1.toDF("user_id", "ts", "event_id", "value"), k = 3)
      .orderBy("ts_us").select("ts_us", "event_id", "value")
      .as[(Long, Long, Double)].collect().toSeq
    val gotPts = spark.read.parquet(outDir)
      .filter(col("closed") && col("window_start_us") === aStart)
      .selectExpr("explode(points) AS p").select("p.ts_us", "p.event_id", "p.value")
      .orderBy("ts_us").as[(Long, Long, Double)].collect().toSeq
    assert(gotPts == batchA, "post-restart sealed selection equals the batch selection")
  }

  test("streaming dedup drops repeats across micro-batches within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val deduped = StreamingIngest.dedupStream(
      mem.toDF().toDF("series_id", "valid_time", "value"),
      keyCols = Seq("series_id", "valid_time"), eventTimeCol = "valid_time", delay = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    mem.addData((1L, ts("2024-03-01T00:00:00Z"), 1.0), (1L, ts("2024-03-01T00:00:00Z"), 1.0))
    q.processAllAvailable()
    mem.addData((1L, ts("2024-03-01T00:00:00Z"), 1.0), (2L, ts("2024-03-01T00:10:00Z"), 2.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT series_id FROM dedup").as[Long].collect().toSeq.sorted
    q.stop()
    assert(rows == Seq(1L, 2L)) // in-batch AND cross-batch repeats dropped
  }

  test("dedupIngest: full-history dedup with state in the store, not the state store") {
    for ((bloom, incremental) <- Seq((None, false), (Some(1000L), false), (Some(1000L), true))) {
      implicit val sqlCtx = spark.sqlContext
      val dir = java.nio.file.Files.createTempDirectory("graft_dedup_ingest").toString
      val mem = MemoryStream[(Long, String)]
      val q = StreamingIngest.dedupIngest(
        mem.toDF().toDF("doc_id", "text"),
        outPath = s"$dir/out", indexPath = s"$dir/index",
        bloomExpectedDigests = bloom, incrementalBloom = incremental).start()
      // batch 0: within-batch dup (docs 1 and 3 share content) → min id wins
      mem.addData((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta"))
      q.processAllAvailable()
      // batch 1: cross-batch dup (no watermark — the repeat could arrive
      // months later) + genuinely new content
      mem.addData((4L, "gamma delta"), (5L, "epsilon zeta"))
      q.processAllAvailable()
      // batch 2: everything already seen → nothing accepted
      mem.addData((6L, "alpha beta"), (7L, "epsilon zeta"))
      q.processAllAvailable()
      q.stop()
      val accepted = IndexStore.levels(spark, s"$dir/out").get
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(accepted == Seq(1L, 2L, 5L), s"bloom=$bloom inc=$incremental: $accepted")
      // the index holds exactly the accepted digests
      assert(IndexStore.levels(spark, s"$dir/index").get.select("digest")
        .distinct().count() == 3)
      if (incremental) {
        // merged-filter versions maintained beside the index: batch 2
        // accepted nothing (state unchanged — no version written), so
        // the chain's head is batch 1's merge, kept within the
        // two-version replay window; every prior accepted digest
        // routes as maybe-seen (no false negatives by construction)
        val vs = IndexStore.levelIds(spark, s"$dir/index_bloom", "batch_id")
        assert(vs.nonEmpty && vs.last == 1L && vs.size <= 2, s"versions $vs")
        val bf = bloomAt(s"$dir/index_bloom", vs.last)
        val misses = IndexStore.levels(spark, s"$dir/index").get
          .filter(!graft.functions.BloomProbe.mightContain(bf, col("digest")))
          .count()
        assert(misses == 0, "merged filter must contain every accepted digest")
      }
    }
  }

  test("dedupIngest incremental bloom: filter state survives a checkpoint restart") {
    // the _bloom version chain is prior-state-only (a batch reads
    // max(v < batchId)), so a SECOND query instance over the same
    // store must route on the filter the first instance persisted —
    // rejecting a cross-restart duplicate through the maybe-seen
    // verify leg and accepting new content through the definitely-new
    // leg, with no per-batch index-scan filter rebuild.
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_incbloom").toString
    val inDir = s"$dir/in"
    new java.io.File(inDir).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def start() = StreamingIngest.dedupIngest(
        spark.readStream.schema(schema).parquet(inDir),
        outPath = s"$dir/out", indexPath = s"$dir/index",
        bloomExpectedDigests = Some(1000L), incrementalBloom = true)
      .option("checkpointLocation", s"$dir/ck").start()
    Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
      .write.mode("append").parquet(inDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(IndexStore.levelIds(spark, s"$dir/index_bloom", "batch_id").contains(0L),
      "first instance must persist its merged filter")
    Seq((3L, "epsilon zeta"), (4L, "alpha beta")).toDF("doc_id", "text")
      .write.mode("append").parquet(inDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val accepted = IndexStore.levels(spark, s"$dir/out").get
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(accepted == Seq(1L, 2L, 3L), s"got $accepted")
    // the chain advanced and pruned to the replay window
    val vs = IndexStore.levelIds(spark, s"$dir/index_bloom", "batch_id")
    assert(vs.last == 1L && vs.size <= 2, s"versions $vs")
  }

  test("dedupIngest: the persisted index survives a checkpoint restart") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_restart").toString
    val inDir = s"$dir/in"
    new java.io.File(inDir).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def start() = StreamingIngest.dedupIngest(
        spark.readStream.schema(schema).parquet(inDir),
        outPath = s"$dir/out", indexPath = s"$dir/index")
      .option("checkpointLocation", s"$dir/ck").start()
    Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
      .write.mode("append").parquet(inDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // the cross-batch duplicate of doc 1 arrives at a SECOND query
    // instance: rejecting it requires the index q1 persisted, and
    // accepting doc 3 requires the offsets q1 committed (a replay of
    // batch 0 would re-land docs 1-2 under a new batch id)
    Seq((3L, "epsilon zeta"), (4L, "alpha beta")).toDF("doc_id", "text")
      .write.mode("append").parquet(inDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val accepted = IndexStore.levels(spark, s"$dir/out").get
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(accepted == Seq(1L, 2L, 3L), s"got $accepted")
    assert(IndexStore.levels(spark, s"$dir/index").get.select("digest").distinct().count() == 3)
  }

  /** Version `version` of the Bloom chain at `root`. */
  private def bloomAt(root: String, version: Long): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(new java.io.ByteArrayInputStream(
      IndexStore.levelRows(spark, root, "batch_id", version).head.getAs[Array[Byte]]("bloom")))

  /** The three gate variants: no Bloom, per-batch Bloom, incremental Bloom. */
  private val gates = Seq((None, false), (Some(1000L), false), (Some(1000L), true))

  /** One dedupIngest micro-batch of `docs` into the stores under `dir`. */
  private def dedupBatch(dir: String, batchId: Long, gate: (Option[Long], Boolean),
      docs: (Long, String)*): Unit =
    StreamingIngest.dedupBatch(docs.toDF("doc_id", "text"), batchId, s"$dir/out", s"$dir/index",
      "doc_id", "text", gate._1, gate._2)

  /** What the dedupIngest stores under `dir` hold: the sink's rows, the
    * index's digests and every Bloom chain version's bytes. */
  private def dedupState(dir: String): Seq[String] =
    Seq("out", "index", "index_bloom").flatMap(store => IndexStore.levels(spark, s"$dir/$store").toSeq
      .flatMap(_.selectExpr("to_json(struct(*))").as[String].collect()).sorted)

  test("dedupIngest: replaying a micro-batch id leaves the stores as one run does") {
    for (gate <- gates) {
      val once = java.nio.file.Files.createTempDirectory("graft_dedup_once").toString
      val twice = java.nio.file.Files.createTempDirectory("graft_dedup_twice").toString
      def batches(dir: String, replay: Boolean): Unit = {
        dedupBatch(dir, 0L, gate, (1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta"))
        dedupBatch(dir, 1L, gate, (4L, "gamma delta"), (5L, "epsilon zeta"))
        // at-least-once: a crash before the offset commit re-runs batch 1
        if (replay) dedupBatch(dir, 1L, gate, (4L, "gamma delta"), (5L, "epsilon zeta"))
      }
      batches(once, replay = false)
      batches(twice, replay = true)
      assert(dedupState(twice) == dedupState(once), s"gate $gate")
      assert(IndexStore.levels(spark, s"$twice/out").get.select("doc_id").as[Long]
        .collect().toSeq.sorted == Seq(1L, 2L, 5L))
      // one more batch: each store's files on disk are exactly the files
      // its retained manifests list, the replay's superseded ones gone
      dedupBatch(twice, 2L, gate, (6L, "eta theta"))
      for (store <- Seq("out", "index", "index_bloom") if gate._2 || store != "index_bloom") {
        val (disk, retained) = StoreFiles.diskAndRetained(s"$twice/$store")
        assert(disk == retained, s"gate $gate: $store")
      }
    }
  }

  test("dedupIngest adopts a store in the batch_id partition layout, legacy Bloom chain included") {
    for (gate <- gates) {
      val dir = java.nio.file.Files.createTempDirectory("graft_dedup_adopt").toString
      // the layout before the stores had manifests: plain batch_id
      // partition directories, and the Bloom chain as raw
      // `index/_bloom/v<id>` files — here an EMPTY filter, which would
      // pass every duplicate as definitely-new if anything routed on it
      val old = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
        .withColumn("digest", org.apache.spark.sql.functions.md5(col("text").cast("binary")))
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      old.write.partitionBy("batch_id").parquet(s"$dir/out")
      old.select("digest", "batch_id").write.partitionBy("batch_id").parquet(s"$dir/index")
      new java.io.File(s"$dir/index/_bloom").mkdirs()
      val legacy = new java.io.FileOutputStream(s"$dir/index/_bloom/v0")
      try org.apache.spark.util.sketch.BloomFilter.create(1000L, 0.01).writeTo(legacy)
      finally legacy.close()
      dedupBatch(dir, 1L, gate, (3L, "alpha beta"), (4L, "epsilon zeta"))
      assert(IndexStore.levels(spark, s"$dir/out").get.select("doc_id", "batch_id")
        .as[(Long, Long)].collect().toSeq.sorted == Seq((1L, 0L), (2L, 0L), (4L, 1L)), s"gate $gate")
      assert(IndexStore.levels(spark, s"$dir/index").get.select("digest").distinct().count() == 3)
      assert(Seq("out", "index").forall(s =>
        new graft.sources.ManifestTable(spark, s"$dir/$s").versions() == Seq(1L, 2L)))
      // the index root's vacuum takes the unlisted legacy chain with it
      assert(!new java.io.File(s"$dir/index/_bloom").exists)
      if (gate._2) {
        assert(IndexStore.levelIds(spark, s"$dir/index_bloom", "batch_id") == Seq(1L))
        val bf = bloomAt(s"$dir/index_bloom", 1L)
        assert(IndexStore.levels(spark, s"$dir/index").get
          .filter(!graft.functions.BloomProbe.mightContain(bf, col("digest"))).count() == 0)
      }
    }
  }

  test("dedupIngest: Spark jobs per micro-batch, per gate variant") {
    def jobsDuring(body: => Unit): Int = JobLog.during(spark)(body)._2.jobs.size
    val jobs = gates.map { gate =>
      implicit val sqlCtx = spark.sqlContext
      val dir = java.nio.file.Files.createTempDirectory("graft_dedup_jobs").toString
      val mem = MemoryStream[(Long, String)]
      val q = StreamingIngest.dedupIngest(mem.toDF().toDF("doc_id", "text"),
        outPath = s"$dir/out", indexPath = s"$dir/index",
        bloomExpectedDigests = gate._1, incrementalBloom = gate._2).start()
      // a first batch, a mixed one, an all-duplicates one, an all-new one
      try Seq(
        Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta")),
        Seq((4L, "gamma delta"), (5L, "epsilon zeta")),
        Seq((6L, "alpha beta"), (7L, "epsilon zeta")),
        Seq((8L, "eta theta"), (9L, "iota kappa"))).map { rows =>
        jobsDuring { mem.addData(rows: _*); q.processAllAvailable() }
      } finally q.stop()
    }
    // each index, sink and chain read plans from a manifest with no
    // job; the jobs are the empty check, the gate (run once, by the sink
    // write), the Bloom builds and the staged writes (sink, index from
    // the committed sink level, one-row chain version); an
    // all-duplicates batch writes no index level
    assert(jobs == Seq(Seq(4, 5, 4, 5), Seq(4, 8, 7, 8), Seq(7, 9, 5, 9)), s"jobs $jobs")
  }

  test("streaming IVF ingest: appends survive a checkpoint restart without duplicating") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_ingest").toString
    val inDir = s"$dir/in"
    new java.io.File(inDir).mkdirs()
    val rnd = new scala.util.Random(44)
    def vecs(ids: Range): Seq[(Long, Array[Float], Int)] =
      ids.map(i => (i.toLong, Array.fill(4)(rnd.nextFloat()), i % 3))
    // epoch: the resident corpus seeds the store (batch_id 0) and
    // freezes the centroids — the build-once half of the lifecycle
    val resident = vecs(0 until 30).toDF("vec_id", "embedding", "label")
    val cent = graft.operators.Similarity.cellCentroids(resident).localCheckpoint()
    val path = s"$dir/corpus"
    graft.operators.Similarity.ivfAppend(resident, cent, path, batchId = 0L)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    def start() = graft.streaming.StreamingSimilarity.ingestIvf(
        spark.readStream.schema(schema).parquet(inDir), cent, path)
      .option("checkpointLocation", s"$dir/ck").start()
    val wave1 = vecs(100 until 104).toDF("vec_id", "embedding", "label")
    wave1.write.mode("append").parquet(inDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // a SECOND query instance resumes from the checkpoint: wave 1 must
    // not be reprocessed under a new batch id (offsets committed), and
    // wave 2 must land under its own
    val wave2 = vecs(200 until 204).toDF("vec_id", "embedding", "label")
    wave2.write.mode("append").parquet(inDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val stored = graft.sources.IndexStore.levels(spark, path).get
    assert(stored.count() == 38, s"30 resident + 8 appended, got ${stored.count()}")
    assert(stored.select("vec_id").distinct().count() == 38,
      "a restart must not re-land an already-committed wave")
    // the maintained store serves exactly like a one-shot assignment of
    // the same 38 vectors against the same frozen centroids
    val all = resident.unionByName(wave1).unionByName(wave2)
    val allAssigned = all.join(
      graft.operators.Similarity.assignCells(all, cent)
        .select(col("vec_id"), col("cell")), "vec_id")
    val queries = resident.filter(col("vec_id") < 2).select("vec_id", "embedding")
    val got = graft.operators.Similarity.ivfProbeTopKPruned(stored, queries, cent,
      k = 3, nprobe = 2, cellCol = "cell").orderBy("query_id", "rank").collect().toSeq
    val expect = graft.operators.Similarity.ivfProbeTopK(allAssigned, queries, cent,
      k = 3, nprobe = 2, cellCol = "cell").orderBy("query_id", "rank").collect().toSeq
    assert(got == expect && got.nonEmpty)
  }

  test("streaming IVF ingest with compactEvery folds the store back to one level per cell") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_compact_stream").toString
    val rnd = new scala.util.Random(66)
    def mk(ids: Range): Seq[(Long, Array[Float], Int)] =
      ids.map(i => (i.toLong, Array.fill(4)(rnd.nextFloat()), i % 3))
    val residentRows = mk(0 until 24)
    val resident = residentRows.toDF("vec_id", "embedding", "label")
    val cent = graft.operators.Similarity.cellCentroids(resident).localCheckpoint()
    val path = s"$dir/corpus"
    graft.operators.Similarity.ivfAppend(resident, cent, path, batchId = 0L)
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val q = graft.streaming.StreamingSimilarity.ingestIvf(
        mem.toDF().toDF("vec_id", "embedding", "label"), cent, path,
        compactEvery = 2)
      .option("checkpointLocation", s"$dir/ck").start()
    val w1 = mk(100 until 104); val w2 = mk(200 until 204); val w3 = mk(300 until 304)
    mem.addData(w1: _*); q.processAllAvailable() // batch 0: append (bid 1)
    mem.addData(w2: _*); q.processAllAvailable() // batch 1: append (bid 2)
    mem.addData(w3: _*); q.processAllAvailable() // batch 2: COMPACT (bid 3)
    q.stop()
    val stored = graft.sources.IndexStore.levels(spark, path).get
    assert(stored.count() == 36, s"24 resident + 12 streamed, got ${stored.count()}")
    assert(stored.select("batch_id").distinct().as[Int].collect().toSeq == Seq(3),
      "the compaction trigger must fold epoch + appends into one level")
    val all = (residentRows ++ w1 ++ w2 ++ w3).toDF("vec_id", "embedding", "label")
    val allAssigned = all.join(
      graft.operators.Similarity.assignCells(all, cent)
        .select(col("vec_id"), col("cell")), "vec_id")
    val queries = resident.filter(col("vec_id") < 2).select("vec_id", "embedding")
    val got = graft.operators.Similarity.ivfProbeTopKPruned(stored, queries, cent,
      k = 3, nprobe = 2, cellCol = "cell").orderBy("query_id", "rank").collect().toSeq
    val expect = graft.operators.Similarity.ivfProbeTopK(allAssigned, queries, cent,
      k = 3, nprobe = 2, cellCol = "cell").orderBy("query_id", "rank").collect().toSeq
    assert(got == expect && got.nonEmpty)
  }

  test("streaming IVFPQ ingest: encoded appends restart cleanly and compaction folds codes") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_stream").toString
    val rnd = new scala.util.Random(88)
    def mk(ids: Range): Seq[(Long, Array[Float], Int)] =
      ids.map(i => (i.toLong, Array.fill(8)(rnd.nextFloat()), i % 3))
    val residentRows = mk(0 until 24)
    val resident = residentRows.toDF("vec_id", "embedding", "label")
    // both codebooks freeze at the epoch (coarse cells + fine PQ books)
    val cent = graft.operators.Similarity.cellCentroids(resident).localCheckpoint()
    val pq = graft.operators.Similarity
      .pqTrain(resident, m = 2, k = 3, iters = 2, dim = 8).localCheckpoint()
    val path = s"$dir/codes"
    graft.operators.Similarity.ivfPqAppend(resident, cent, pq, path,
      batchId = 0L, m = 2, dim = 8)
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val q = graft.streaming.StreamingSimilarity.ingestIvfPq(
        mem.toDF().toDF("vec_id", "embedding", "label"), cent, pq, path,
        m = 2, dim = 8, compactEvery = 2)
      .option("checkpointLocation", s"$dir/ck").start()
    val w1 = mk(100 until 104); val w2 = mk(200 until 204); val w3 = mk(300 until 304)
    mem.addData(w1: _*); q.processAllAvailable() // batch 0: append (bid 1)
    mem.addData(w2: _*); q.processAllAvailable() // batch 1: append (bid 2)
    mem.addData(w3: _*); q.processAllAvailable() // batch 2: COMPACT (bid 3)
    q.stop()
    val stored = graft.sources.IndexStore.levels(spark, path).get
    assert(stored.count() == 36, s"24 resident + 12 streamed, got ${stored.count()}")
    assert(stored.select("batch_id").distinct().as[Int].collect().toSeq == Seq(3),
      "the compaction trigger must fold epoch + appends into one code level")
    assert(!stored.columns.contains("embedding"),
      "the code store must never hold float vectors")
    val all = (residentRows ++ w1 ++ w2 ++ w3).toDF("vec_id", "embedding", "label")
    val allAssigned = all.join(
      graft.operators.Similarity.assignCells(all, cent)
        .select(col("vec_id"), col("cell")), "vec_id")
    val queries = resident.filter(col("vec_id") < 2).select("vec_id", "embedding")
    val got = graft.operators.Similarity.ivfPqTopKFromCodes(stored, queries,
      cent, pq, k = 3, nprobe = 2, m = 2, dim = 8)
      .orderBy("query_id", "rank").collect().toSeq
    val expect = graft.operators.Similarity.ivfPqTopK(allAssigned, queries,
      cent, pq, k = 3, nprobe = 2, m = 2, dim = 8, cellCol = "cell")
      .orderBy("query_id", "rank").collect().toSeq
    assert(got == expect && got.nonEmpty)
  }

  test("streaming BM25 segment ingest: restart-safe appends, serve equals the rebuild") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_ingest").toString
    val inDir = s"$dir/in"
    new java.io.File(inDir).mkdirs()
    val path = s"$dir/segs"
    // epoch seed (segment 0)
    val seed = Seq((0L, "hash join scan"), (1L, "hash join merge"),
      (2L, "scan filter prune")).toDF("doc_id", "text")
    graft.operators.TextAnalysis.bm25AppendSegment(seed, path, segmentId = 0L)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // compactEvery = 2: the second streamed micro-batch (batchId 2
    // after restart) lands as a fold-forward merge, so the store must
    // end compacted AND still serve exactly
    def start() = StreamingIngest.bm25Ingest(
        spark.readStream.schema(schema).parquet(inDir), path,
        compactEvery = 2L)
      .option("checkpointLocation", s"$dir/ck").start()
    val w1 = Seq((10L, "hash scan probe"), (11L, "window frame sum"))
      .toDF("doc_id", "text")
    w1.write.mode("append").parquet(inDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // a second query instance resumes from the checkpoint — wave 1
    // must not re-land under a new segment id
    val w2 = Seq((20L, "join hash exchange"), (21L, "prune scan filter"))
      .toDF("doc_id", "text")
    w2.write.mode("append").parquet(inDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    // wave 3 arrives as batchId 2 — the compactEvery=2 trigger: it
    // must land as a fold-forward merge collapsing the store to ONE
    // segment (id 3) across all three trees
    val w3 = Seq((30L, "window sum scan"), (31L, "hash probe merge"))
      .toDF("doc_id", "text")
    w3.write.mode("append").parquet(inDir)
    val q3 = start(); q3.processAllAvailable(); q3.stop()
    val (segTf, segDf, segMeta, _) = graft.operators.TextAnalysis.loadBm25Segments(spark, path)
    assert(segTf.select("doc_id").distinct().count() == 9,
      "3 seed + 6 streamed docs, no replay duplicates")
    assert(segTf.select(col("segment").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(3L),
      "the in-stream compaction must fold every prior segment")
    val all = seed.unionByName(w1).unionByName(w2).unionByName(w3)
    val got = graft.operators.TextAnalysis.bm25SegmentedTopK(
      segTf, segDf, segMeta, queryIds = Seq(0L, 1L), k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val expect = graft.operators.TextAnalysis.bm25RelatedTopKFrom(
      graft.operators.TextAnalysis.bm25Index(all), queryIds = Seq(0L, 1L), k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(got == expect && got.nonEmpty)
  }

  test("streaming near-dup screening against a prebuilt epoch index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val history = Seq((1L, text),
      (2L, "completely different words entirely here now")).toDF("doc_id", "text")
    // the epoch index builds ONCE outside the stream (store-resident in
    // a real loop); each micro-batch pays only its own band keys
    val index = Dedup.nearDupIndex(history, n = 2, numHashes = 16, bands = 8)
      .localCheckpoint()
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        flagged.synchronized {
          flagged ++= Dedup.incrementalNearDupAgainst(batch, index,
            n = 2, numHashes = 16, bands = 8)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }.start()
    mem.addData((10L, text), (11L, "unrelated fresh content nothing shared at all"))
    q.processAllAvailable()
    mem.addData((12L, text))
    q.processAllAvailable()
    q.stop()
    assert(flagged.toSet == Set((10L, 1L), (12L, 1L)))
  }

  test("streaming sessionize: gap split, cross-batch disorder, watermark-final emission") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sessions = StreamingSessionize.sessions(
      mem.toDF().toDF("user_id", "ts", "value"), gapSec = 1800, watermark = "1 hour")
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()

    // u1: two events 10m apart + one 2h later; u2: one event. After the
    // batch the watermark advances to 01:00 (max ts − 1h) and the
    // engine's no-data batch fires timeouts: [00:00,00:10] is final
    // (00:40 end+gap < watermark — no acceptable event can extend it),
    // the 02:00 sessions are not.
    mem.addData(
      (1L, ts("2024-03-01T00:00:00Z"), 1.0),
      (1L, ts("2024-03-01T00:10:00Z"), 2.0),
      (1L, ts("2024-03-01T02:00:00Z"), 4.0),
      (2L, ts("2024-03-01T02:00:00Z"), 9.0))
    q.processAllAvailable()
    val afterBatch1 = spark.sql("SELECT user_id, n_events, sum_value FROM sess")
      .as[(Long, Long, Double)].collect().toSet
    assert(afterBatch1 == Set((1L, 2L, 3.0)))

    // Cross-batch disorder: 01:50 arrives in batch 2 (above the 01:00
    // watermark). It must join u1's 02:00 session — NOT the [00:00,00:10]
    // one — and must NOT corrupt session boundaries.
    mem.addData((1L, ts("2024-03-01T01:50:00Z"), 0.5))
    q.processAllAvailable()

    // Advance the watermark far past everything; extra batch evaluates
    // the timeouts.
    mem.addData((3L, ts("2024-03-01T09:00:00Z"), 0.5))
    q.processAllAvailable()
    mem.addData((3L, ts("2024-03-01T09:01:00Z"), 0.5))
    q.processAllAvailable()
    val emitted = spark.sql(
      "SELECT user_id, n_events, sum_value FROM sess WHERE user_id IN (1,2)")
      .as[(Long, Long, Double)].collect().toSet
    assert(emitted == Set((1L, 2L, 3.0), (1L, 2L, 4.5), (2L, 1L, 9.0)))
    q.stop()

    // Replay equivalence: the batch operator over the same events
    // (disorder ironed out by its sort) yields exactly these sessions.
    val batch = graft.operators.TimeSeriesOps.sessionize(
      Seq((1L, ts("2024-03-01T00:00:00Z"), 1.0), (1L, ts("2024-03-01T00:10:00Z"), 2.0),
        (1L, ts("2024-03-01T01:50:00Z"), 0.5), (1L, ts("2024-03-01T02:00:00Z"), 4.0),
        (2L, ts("2024-03-01T02:00:00Z"), 9.0))
        .toDF("user_id", "ts", "value"), gapSec = 1800)
      .groupBy("user_id", "session_no")
      .agg(org.apache.spark.sql.functions.count("*").as("n"),
        org.apache.spark.sql.functions.sum("value").as("s"))
      .select("user_id", "n", "s").as[(Long, Long, Double)].collect().toSet
    assert(batch == emitted)
  }

  test("stream-stream interval join equals the batch join on sliced feeds") {
    // ONE joinWithin declaration runs as a static range join on batch
    // frames and as Spark's state-bounded stream-stream join under
    // watermarks — results must agree row-for-row however the two
    // streams interleave across micro-batches.
    implicit val sqlCtx = spark.sqlContext
    def t(min: Int) = new java.sql.Timestamp(
      java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli + min * 60000L)
    val imps = (0 until 40).map(i => (i % 7L, t(i), i.toLong))          // key, ts, imp_id
    val clks = (0 until 60).map(i => (i % 5L, t(i / 2 + 3), 100L + i))  // key, ts, clk_id
    val impMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val clkMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = graft.streaming.StreamingJoin.joinWithin(
      impMem.toDF().toDF("k", "imp_ts", "imp_id").withWatermark("imp_ts", "5 minutes"),
      clkMem.toDF().toDF("k", "clk_ts", "clk_id").withWatermark("clk_ts", "5 minutes"),
      keyCol = "k", leftTs = "imp_ts", rightTs = "clk_ts", within = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append).start()
    // interleave the feeds unevenly; processAllAvailable between slices
    impMem.addData(imps.take(25): _*); clkMem.addData(clks.take(10): _*)
    q.processAllAvailable()
    clkMem.addData(clks.slice(10, 45): _*); impMem.addData(imps.drop(25): _*)
    q.processAllAvailable()
    clkMem.addData(clks.drop(45): _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT k, imp_id, clk_id FROM ss_join")
      .as[(Long, Long, Long)].collect().toSet
    q.stop()
    val batch = graft.streaming.StreamingJoin.joinWithin(
        imps.toDF("k", "imp_ts", "imp_id"), clks.toDF("k", "clk_ts", "clk_id"),
        "k", "imp_ts", "clk_ts", "10 minutes")
      .select("k", "imp_id", "clk_id").as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream-stream join must equal batch: missing=${batch -- streamed} extra=${streamed -- batch}")
    assert(batch.nonEmpty, "test data must actually produce matches")
  }

  test("joinWithin analyzes when inputs share non-key column names") {
    // both frames carry an extra column literally named "extra" (and
    // the timestamps are named identically too): the frame-qualified
    // condition must resolve each side against its own frame
    val left = Seq((1L, ts("2024-03-01T10:00:00Z"), "L"))
      .toDF("k", "when_ts", "extra")
    val right = Seq((1L, ts("2024-03-01T10:05:00Z"), "R"))
      .toDF("k", "when_ts", "extra")
    val out = graft.streaming.StreamingJoin.joinWithin(
      left, right.withColumnRenamed("when_ts", "r_ts"),
      keyCol = "k", leftTs = "when_ts", rightTs = "r_ts", within = "10 minutes")
    assert(out.count() == 1)
    assert(out.columns.count(_ == "extra") == 2, "both same-named columns kept")
  }

  test("checkpoint restart: ingest continues, join state survives") {
    import org.apache.spark.sql.types._
    // --- ingest: a second query over the same checkpoint must continue
    // from committed offsets — no replay, no loss
    val base = java.nio.file.Files.createTempDirectory("timedb_restart").toString
    val inDir = java.nio.file.Files.createTempDirectory("timedb_restart_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("timedb_restart_ck").toString
    val db = new TimeDb(spark, base)
    db.create()
    val schema = StructType(Seq(
      StructField("series_id", LongType), StructField("valid_time", TimestampType),
      StructField("value", DoubleType)))
    def src() = spark.readStream.schema(schema).parquet(inDir)
    Seq((1L, ts("2024-03-01T00:00:00Z"), 1.0), (1L, ts("2024-03-01T01:00:00Z"), 2.0))
      .toDF("series_id", "valid_time", "value").write.mode("append").parquet(inDir)
    val q1 = StreamingIngest.writer(src(), base, retention = Some("short"))
      .option("checkpointLocation", ckpt).start()
    q1.processAllAvailable(); q1.stop()
    Seq((1L, ts("2024-03-01T00:00:00Z"), 9.0))
      .toDF("series_id", "valid_time", "value").write.mode("append").parquet(inDir)
    val q2 = StreamingIngest.writer(src(), base, retention = Some("short"))
      .option("checkpointLocation", ckpt).start()
    q2.processAllAvailable(); q2.stop()
    // overlapping shape = one row per (vt, kt): replayed batch 1 would
    // stamp a fresh kt and read as 5 rows, a skipped batch as < 3
    assert(db.read(ReadFilter(Seq(1L), retention = Seq("short")),
      includeKnowledgeTime = true).count() == 3)
    assert(db.readRunSeries(1L).length == 2, "one run per landed batch")
    db.delete()

    // --- stream-stream join: a left row seen pre-restart joins a right
    // row arriving post-restart ⇒ join state recovered from checkpoint
    val lDir = java.nio.file.Files.createTempDirectory("timedb_ssjr_l").toString
    val rDir = java.nio.file.Files.createTempDirectory("timedb_ssjr_r").toString
    val outDir = java.nio.file.Files.createTempDirectory("timedb_ssjr_out").toString
    val jckpt = java.nio.file.Files.createTempDirectory("timedb_ssjr_ck").toString
    val lSchema = StructType(Seq(
      StructField("k", LongType), StructField("lts", TimestampType)))
    val rSchema = StructType(Seq(
      StructField("k", LongType), StructField("rts", TimestampType)))
    def startJoin() = graft.streaming.StreamingJoin.joinWithin(
        spark.readStream.schema(lSchema).parquet(lDir).withWatermark("lts", "0 seconds"),
        spark.readStream.schema(rSchema).parquet(rDir).withWatermark("rts", "0 seconds"),
        keyCol = "k", leftTs = "lts", rightTs = "rts", within = "10 minutes")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", jckpt).outputMode(OutputMode.Append).start()
    Seq((1L, ts("2024-03-02T10:00:00Z"))).toDF("k", "lts")
      .write.mode("append").parquet(lDir)
    val j1 = startJoin(); j1.processAllAvailable(); j1.stop()
    Seq((1L, ts("2024-03-02T10:05:00Z"))).toDF("k", "rts")
      .write.mode("append").parquet(rDir)
    val j2 = startJoin(); j2.processAllAvailable(); j2.stop()
    val got = spark.read.parquet(outDir)
      .select("k", "lts", "rts").as[(Long, java.sql.Timestamp, java.sql.Timestamp)]
      .collect().toSeq
    assert(got == Seq((1L, ts("2024-03-02T10:00:00Z"), ts("2024-03-02T10:05:00Z"))))
  }

  test("Holt/LTTB buffer caps trip loudly in the no-watermark (pre-1970) regime") {
    // an all-negative-epoch feed never establishes a watermark, so the
    // pending/window buffers grow with history — the caps must fail the
    // query with a named key and knob instead of accumulating forever
    implicit val sqlCtx = spark.sqlContext
    val memH = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val qh = StreamingHolt.holt(
      memH.toDF().toDF("user_id", "ts", "event_id", "value"),
      alpha = 0.5, beta = 0.25, watermark = "1 hour", maxPending = 2)
      .writeStream.format("memory").queryName("holt_cap")
      .outputMode(OutputMode.Update).start()
    memH.addData(
      (1L, ts("1969-12-30T01:00:00Z"), 1L, 1.0),
      (1L, ts("1969-12-30T02:00:00Z"), 2L, 2.0),
      (1L, ts("1969-12-30T03:00:00Z"), 3L, 3.0))
    val eh = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qh.processAllAvailable()
    }
    assert(eh.getMessage.contains("maxPending"),
      s"cap failure must name the knob, got: ${eh.getMessage.take(200)}")
    val memL = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val ql = StreamingLttb.lttb(
      memL.toDF().toDF("user_id", "ts", "event_id", "value"),
      k = 3, windowSec = 3600L, watermark = "30 minutes", maxBuffered = 2)
      .writeStream.format("memory").queryName("lttb_cap")
      .outputMode(OutputMode.Update).start()
    memL.addData(
      (1L, ts("1969-12-30T01:00:00Z"), 1L, 1.0),
      (1L, ts("1969-12-30T01:10:00Z"), 2L, 2.0),
      (1L, ts("1969-12-30T01:20:00Z"), 3L, 3.0))
    val el = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      ql.processAllAvailable()
    }
    assert(el.getMessage.contains("maxBuffered"),
      s"cap failure must name the knob, got: ${el.getMessage.take(200)}")
  }

  test("streaming LTTB flushQuiescent seals a quiet key's window via event-time timeout") {
    // default mode: a key with no further traffic never emits its final
    // selection; flushQuiescent arms EventTimeTimeout so the watermark
    // alone seals it — key 1 sends nothing after batch 1, and OTHER
    // keys' traffic must still flush its closed window
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val q = StreamingLttb.lttb(
      mem.toDF().toDF("user_id", "ts", "event_id", "value"),
      k = 3, windowSec = 3600L, watermark = "30 minutes", flushQuiescent = true)
      .writeStream.format("memory").queryName("lttb_flush")
      .outputMode(OutputMode.Update).start()
    val b1 = Seq(
      (1L, ts("2024-01-01T00:05:00Z"), 1L, 1.0),
      (1L, ts("2024-01-01T00:20:00Z"), 2L, 9.0),
      (1L, ts("2024-01-01T00:35:00Z"), 3L, 2.0),
      (1L, ts("2024-01-01T00:50:00Z"), 4L, 7.0))
    mem.addData(b1: _*)
    q.processAllAvailable()
    // key 2's traffic advances the watermark past window A's end
    // (02:00 − 30m = 01:30 > 01:00); the follow-up batch evaluates
    // key 1's timer
    mem.addData((2L, ts("2024-01-01T02:00:00Z"), 5L, 1.0))
    q.processAllAvailable()
    mem.addData((2L, ts("2024-01-01T02:05:00Z"), 6L, 1.0))
    q.processAllAvailable()
    val aStart = ts("2024-01-01T00:00:00Z").getTime * 1000L
    val sealedW = spark.sql(
      s"SELECT n_raw, points FROM lttb_flush WHERE closed AND user_id = 1 " +
        s"AND window_start_us = $aStart")
    assert(sealedW.count() == 1,
      "the quiet key's window must seal exactly once via the timeout")
    assert(sealedW.head().getInt(0) == 4)
    q.stop()
    // the timeout-flushed selection is the batch selection
    val batchA = graft.operators.TimeSeriesOps.lttb(
      b1.toDF("user_id", "ts", "event_id", "value"), k = 3)
      .orderBy("ts_us").select("ts_us", "event_id", "value")
      .as[(Long, Long, Double)].collect().toSeq
    val gotPts = spark.sql(
      s"SELECT explode(points) AS p FROM lttb_flush WHERE closed AND user_id = 1 " +
        s"AND window_start_us = $aStart")
      .select("p.ts_us", "p.event_id", "p.value")
      .orderBy("ts_us").as[(Long, Long, Double)].collect().toSeq
    assert(gotPts == batchA,
      "timeout-flushed selection must equal the batch selection")
  }

  test("streaming sessionize open-session state survives a checkpoint restart") {
    import org.apache.spark.sql.types._
    val inDir = java.nio.file.Files.createTempDirectory("sess_restart_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sess_restart_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sess_restart_ck").toString
    val sch = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def start() = StreamingSessionize.sessions(
        spark.readStream.schema(sch).parquet(inDir), gapSec = 1800, watermark = "1 hour")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Append).start()
    // two events of ONE session arrive pre-restart; the session is
    // still open (watermark far below end + gap) when the query stops
    val b1 = Seq(
      (1L, ts("2024-03-01T00:00:00Z"), 1.0),
      (1L, ts("2024-03-01T00:10:00Z"), 2.0))
    b1.toDF("user_id", "ts", "value").write.mode("append").parquet(inDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // post-restart traffic (another key) advances the watermark past
    // the open session's end + gap; the recovered state must seal as
    // ONE session holding BOTH pre-restart events — lost state would
    // emit nothing or a one-event fragment
    Seq((2L, ts("2024-03-01T05:00:00Z"), 9.0))
      .toDF("user_id", "ts", "value").write.mode("append").parquet(inDir)
    val q2 = start(); q2.processAllAvailable()
    Seq((2L, ts("2024-03-01T05:05:00Z"), 1.0))
      .toDF("user_id", "ts", "value").write.mode("append").parquet(inDir)
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(outDir).filter(col("user_id") === 1L)
      .select("n_events", "sum_value").as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 3.0)),
      s"recovered open session must seal with both pre-restart events, got $got")
  }

  test("streaming image-dedup screening against a prebuilt dHash epoch index") {
    // the image twin of the LSH ingest screen: the corpus dHash index
    // is a BATCH table built once per epoch; each micro-batch of
    // incoming assets renders/decodes/hashes and screens against it in
    // foreachBatch — per-batch answers equal the batch operator's
    implicit val sqlCtx = spark.sqlContext
    val corpusIdx = graft.operators.Multimodal.imageDHash(
      graft.operators.Multimodal.renderPng(
        (0L until 20L).filter(_ % 5 != 0).toDF("asset_id"))).localCheckpoint()
    val mem = MemoryStream[Long]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val q = mem.toDF().toDF("asset_id").writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= graft.operators.Dedup.hammingScreen64(
          graft.operators.Multimodal.imageDHash(
            graft.operators.Multimodal.renderPng(batch)), corpusIdx, maxHamming = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        ()
    }.start()
    mem.addData(0L, 5L, 10L)
    q.processAllAvailable()
    mem.addData(15L)
    q.processAllAvailable()
    q.stop()
    // every batch asset 5q with sibling 5q+1... sibling of asset a is
    // a±1 within the same q-pair: 0↔1, 10↔11 — both siblings are in
    // the corpus (1, 11); 5's sibling is 4, 15's is 14, also corpus
    val sib = got.filter { case (n, s, _) => s == n + 1 || s == n - 1 }
      .map(t => (t._1, t._2)).toSet
    assert(Set((0L, 1L), (10L, 11L), (5L, 4L), (15L, 14L)).subsetOf(sib),
      s"planted siblings must screen out, got $got")
    // per-batch equality with the batch operator over the same assets
    val batchAll = graft.operators.Dedup.hammingScreen64(
      graft.operators.Multimodal.imageDHash(
        graft.operators.Multimodal.renderPng(Seq(0L, 5L, 10L, 15L).toDF("asset_id"))),
      corpusIdx, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.toSet == batchAll)
  }

  test("streaming video-dedup screening against a prebuilt fingerprint epoch index") {
    // the video twin of the image screen face (r17): the corpus
    // temporal-mean dHash index is a BATCH table built once per
    // epoch; each micro-batch of incoming video assets renders,
    // sample-decodes, fingerprints, and screens against it in
    // foreachBatch — per-batch answers equal the batch operator's.
    // Restart behavior is the image face's proof verbatim (the screen
    // is a pure function of (batch, index); no cross-batch state).
    implicit val sqlCtx = spark.sqlContext
    val corpusIdx = graft.operators.Multimodal.videoDHash(
      graft.operators.Multimodal.renderGif(
        (0L until 20L).filter(_ % 5 != 0).toDF("asset_id")), stride = 2)
      .localCheckpoint()
    val mem = MemoryStream[Long]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val q = mem.toDF().toDF("asset_id").writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= graft.operators.Dedup.hammingScreen64(
          graft.operators.Multimodal.videoDHash(
            graft.operators.Multimodal.renderGif(batch), stride = 2),
          corpusIdx, maxHamming = 6)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        ()
    }.start()
    mem.addData(0L, 5L, 10L)
    q.processAllAvailable()
    mem.addData(15L)
    q.processAllAvailable()
    q.stop()
    // planted animation siblings (2q/2q+1): 0↔1, 10↔11, 5↔4, 15↔14 —
    // every batch asset's sibling sits in the corpus
    val sib = got.filter { case (n, s, _) => s == n + 1 || s == n - 1 }
      .map(t => (t._1, t._2)).toSet
    assert(Set((0L, 1L), (10L, 11L), (5L, 4L), (15L, 14L)).subsetOf(sib),
      s"planted siblings must screen out, got $got")
    val batchAll = graft.operators.Dedup.hammingScreen64(
      graft.operators.Multimodal.videoDHash(
        graft.operators.Multimodal.renderGif(
          Seq(0L, 5L, 10L, 15L).toDF("asset_id")), stride = 2),
      corpusIdx, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.toSet == batchAll)
  }

  test("streaming image screen restarts from its checkpoint: the epoch-index face carries no cross-batch state") {
    // restart proof for the image-dedup screen, completing the set the
    // other five streaming families have. The proof differs in KIND:
    // the face holds NO cross-batch streaming state to recover — the
    // corpus dHash index is a per-epoch BATCH table (parquet), and
    // hammingScreen64 is a pure function of (batch, index) — so the
    // only recovered state is the source offset log, and replay
    // idempotence comes from this sink's batch-id-partitioned dynamic
    // overwrite (a replay rewrites exactly its own partition).
    // Restarting mid-stream must neither lose nor duplicate screen rows.
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_imgscreen_restart").toString
    val inDir = s"$dir/in"; new java.io.File(inDir).mkdirs()
    // epoch index: stored once, read per batch (materialize=false —
    // parquet IS the materialization)
    graft.operators.Multimodal.imageDHash(
      graft.operators.Multimodal.renderPng(
        (0L until 20L).filter(_ % 5 != 0).toDF("asset_id")))
      .write.parquet(s"$dir/index")
    val sch = StructType(Seq(StructField("asset_id", LongType)))
    def start() = spark.readStream.schema(sch).parquet(inDir)
      .writeStream.option("checkpointLocation", s"$dir/ck")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Dedup.hammingScreen64(
              graft.operators.Multimodal.imageDHash(
                graft.operators.Multimodal.renderPng(batch)),
              batch.sparkSession.read.parquet(s"$dir/index"),
              maxHamming = 4, materialize = false)
            .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(s"$dir/out")
        }
        ()
      }.start()
    Seq(0L, 5L).toDF("asset_id").write.mode("append").parquet(inDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    Seq(10L, 15L).toDF("asset_id").write.mode("append").parquet(inDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(s"$dir/out")
      .select("new_id", "seen_id", "hamming")
      .as[(Long, Long, Int)].collect().toSeq
    // across the restart: all four batch assets screened exactly once
    val batchAll = graft.operators.Dedup.hammingScreen64(
      graft.operators.Multimodal.imageDHash(
        graft.operators.Multimodal.renderPng(Seq(0L, 5L, 10L, 15L).toDF("asset_id"))),
      spark.read.parquet(s"$dir/index"), maxHamming = 4, materialize = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got.sorted == batchAll.sorted,
      s"restart must neither lose nor duplicate screen rows\ngot=${got.sorted}\nexp=${batchAll.sorted}")
  }

  test("streaming exact-Jaccard ppjoin screening restarts from its checkpoint over the bucketed epoch index") {
    // the exact-Jaccard leg joins the screen-face set (exact digest,
    // Bloom, LSH, image/video Hamming all have one): the corpus
    // PpJoinIndex is a per-epoch BATCH store — here the r18 BUCKETED
    // parquet layout, loaded once and served exchange-free on the
    // corpus side — and each micro-batch screens against it in
    // foreachBatch. Like the image face, the proof differs in KIND
    // from the stateful families: ppJoinAgainst is a pure function of
    // (batch, index) with NO cross-batch driver state, so the only
    // recovered state is the source offset log, and replay idempotence
    // comes from the batch-id-partitioned dynamic overwrite sink.
    // Restarting mid-stream must neither lose nor duplicate pairs.
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_ppjoin_stream").toString
    val inDir = s"$dir/in"; new java.io.File(inDir).mkdirs()
    val rnd = new scala.util.Random(13)
    val corpusDocs = (0 until 60).map { i =>
      (i.toLong, (0 until 6 + rnd.nextInt(8)).map(_ => s"w${rnd.nextInt(30)}").mkString(" "))
    }
    val idx0 = graft.operators.Dedup.ppJoinIndex(
      corpusDocs.toDF("doc_id", "text"), n = 1, threshold = 0.5)
    graft.operators.Dedup.storePpJoinIndexBucketed(idx0, s"$dir/idx", nBuckets = 4)
    val index = graft.operators.Dedup.loadPpJoinIndexBucketed(spark, s"$dir/idx")
    // each incoming doc is a near-copy of one corpus doc (one word
    // appended): Jaccard = |t| / (|t| + 1) >= 6/7, a guaranteed pair
    def probe(i: Long) = (1000L + i, corpusDocs(i.toInt)._2 + " extra")
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def start() = spark.readStream.schema(sch).parquet(inDir)
      .writeStream.option("checkpointLocation", s"$dir/ck")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Dedup.ppJoinAgainst(batch, index)
            .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(s"$dir/out")
        }
        ()
      }.start()
    Seq(probe(0), probe(7)).toDF("doc_id", "text")
      .write.mode("append").parquet(inDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    Seq(probe(12), probe(23)).toDF("doc_id", "text")
      .write.mode("append").parquet(inDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val cols = Seq("new_id", "seen_id", "inter", "sz_new", "sz_seen", "jaccard")
    val got = spark.read.parquet(s"$dir/out")
      .select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq
    // across the restart: every batch doc screened exactly once, and
    // the union equals the batch operator over all four probes
    val batchAll = graft.operators.Dedup.ppJoinAgainst(
        Seq(probe(0), probe(7), probe(12), probe(23)).toDF("doc_id", "text"), index)
      .select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq
    assert(got == batchAll,
      s"restart must neither lose nor duplicate pairs\ngot=$got\nexp=$batchAll")
    // the planted near-copies all surface
    val pairs = spark.read.parquet(s"$dir/out")
      .select("new_id", "seen_id").as[(Long, Long)].collect().toSet
    assert(Seq(0L, 7L, 12L, 23L).map(i => (1000L + i, i)).toSet.subsetOf(pairs),
      s"planted near-copies must screen out, got $pairs")
  }

  test("streaming IVF serving resumes from its checkpoint without re-serving batches") {
    import org.apache.spark.sql.types._
    val inDir = java.nio.file.Files.createTempDirectory("ivf_restart_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivf_restart_ck").toString
    val corpus = Seq(
      (1L, Array(0.9f, 0.1f), 1), (2L, Array(0.8f, 0.0f), 1),
      (3L, Array(0.0f, 1.0f), 2), (4L, Array(0.1f, 0.9f), 2))
      .toDF("vec_id", "embedding", "label")
    val cents = graft.operators.Similarity.cellCentroids(corpus)
    val sch = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val served = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Int)]
    def start(tag: String) = graft.streaming.StreamingSimilarity.serveIvf(
        spark.readStream.schema(sch).parquet(inDir), corpus, cents, k = 3, nprobe = 1) {
        (df, _) =>
          served ++= df.select("query_id", "cand_id", "rank").collect()
            .map(r => (tag, r.getLong(0), r.getLong(1), r.getInt(2)))
          ()
      }.option("checkpointLocation", ckpt).start()
    Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .write.mode("append").parquet(inDir)
    val q1 = start("q1"); q1.processAllAvailable(); q1.stop()
    assert(served.count(_._1 == "q1") > 0, "pre-restart batch served")
    // a SECOND query over the same checkpoint: the committed offset must
    // hold — only the NEW query row is served (stateless serving's
    // restart contract is exactly-once source progress, not state)
    val b2 = Seq((101L, Array(0.0f, 1.0f)))
    b2.toDF("vec_id", "embedding").write.mode("append").parquet(inDir)
    val q2 = start("q2"); q2.processAllAvailable(); q2.stop()
    val q2Queries = served.filter(_._1 == "q2").map(_._2).distinct
    assert(q2Queries == Seq(101L),
      s"post-restart must serve only the new batch, served $q2Queries")
    // and the served answer equals the batch probe over the new rows
    val batch2 = graft.operators.Similarity.ivfProbeTopK(
        corpus, b2.toDF("vec_id", "embedding"), cents, k = 3, nprobe = 1)
      .orderBy("rank").select("query_id", "cand_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(served.filter(_._1 == "q2").map(t => (t._2, t._3, t._4))
      .sortBy(_._3).toSeq == batch2)
  }
}
