package graft

import java.sql.Timestamp
import java.time.{Duration, Instant, LocalTime}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.UnchangedScope

/** End-to-end drive of the public TimeDb facade against a scratch store:
  * the reference's integration scenarios (tests/test_integration.py)
  * exercised through the package boundary. Exits non-zero on any
  * mismatch. */
object ApiDrive {
  def main(args: Array[String]): Unit = {
    val base = java.nio.file.Files.createTempDirectory("timedb_drive").toString
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone",
        sys.env.getOrElse("GRAFT_DRIVE_TZ", "UTC")) // non-UTC exercises TZ-pinned partitioning
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    var failures = List.empty[String]
    def check(name: String)(cond: => Boolean): Unit =
      if (!cond) { failures ::= name; println(s"FAIL $name") } else println(s"ok   $name")

    val db = new TimeDb(spark, base)
    db.create()

    def t(s: String) = Timestamp.from(Instant.parse(s))
    val vts = (0 until 24).map(h => t(f"2024-03-01T$h%02d:00:00Z"))

    // Two forecast revisions (test_integration.py:70-78): kt2 wins.
    val rev1 = vts.zipWithIndex.map { case (vt, i) => (1L, vt, i * 10.0) }
      .toDF("series_id", "valid_time", "value")
    val rev2 = vts.zipWithIndex.map { case (vt, i) => (1L, vt, i * 100.0) }
      .toDF("series_id", "valid_time", "value")
    val w1 = db.write(rev1, knowledgeTime = Some(t("2024-02-29T18:00:00Z")))
    val w2 = db.write(rev2, knowledgeTime = Some(t("2024-03-01T06:00:00Z")))
    check("write counts")(w1 == operators.WriteResult(24, 0) && w2 == operators.WriteResult(24, 0))

    val latest = db.read(ReadFilter(Seq(1L))).collect()
    check("latest = rev2")(latest.length == 24 && latest.forall(r => r.getDouble(2) == r.getLong(0) * 0 + vts.indexOf(r.getTimestamp(1)) * 100.0))

    val hist = db.read(ReadFilter(Seq(1L)), includeKnowledgeTime = true).collect()
    check("history 48 rows")(hist.length == 48)

    // Correction: rewrite same kt values+7 → change chain visible.
    val rev2fix = vts.zipWithIndex.map { case (vt, i) => (1L, vt, i * 100.0 + 7.0) }
      .toDF("series_id", "valid_time", "value")
    db.write(rev2fix, knowledgeTime = Some(t("2024-03-01T06:00:00Z")))
    val chain = db.read(ReadFilter(Seq(1L)), includeUpdates = true).collect()
    check("correction chain 2 per vt")(chain.length == 48)
    val latestFixed = db.read(ReadFilter(Seq(1L))).collect()
    check("latest = corrected")(latestFixed.forall(r => r.getDouble(2) % 100.0 == 7.0 || r.getDouble(2) == 7.0))

    // Retention tiers isolate reads (test_integration.py:105-127).
    val short = vts.take(2).map(vt => (2L, vt, 1.0)).toDF("series_id", "valid_time", "value")
    db.write(short, retention = Some("short"))
    check("retention prune")(
      db.read(ReadFilter(Seq(2L), retention = Seq("short"))).count() == 2 &&
        db.read(ReadFilter(Seq(2L), retention = Seq("forever"))).count() == 0)

    // skip_unchanged: identical rewrite under new kt → all skipped.
    val again = vts.zipWithIndex.map { case (vt, i) => (1L, vt, i * 100.0 + 7.0) }
      .toDF("series_id", "valid_time", "value")
    val w3 = db.write(again, knowledgeTime = Some(t("2024-03-01T09:00:00Z")), skipUnchanged = true)
    check("skip-unchanged all skipped")(w3 == operators.WriteResult(0, 24))
    val changedOne = Seq((1L, vts.head, -5.0)).toDF("series_id", "valid_time", "value")
    val w4 = db.write(changedOne, knowledgeTime = Some(t("2024-03-01T10:00:00Z")), skipUnchanged = true)
    check("skip-unchanged keeps changed")(w4 == operators.WriteResult(1, 0))

    // NaN round trip: null in → NaN stored → null out.
    val withNull = Seq((3L, vts.head, Some(1.5)), (3L, vts(1), Option.empty[Double]))
      .toDF("series_id", "valid_time", "value")
    db.write(withNull)
    val nanOut = db.read(ReadFilter(Seq(3L))).collect()
    check("nan roundtrip")(nanOut.length == 2 && nanOut.count(_.isNullAt(2)) == 1)

    // Empty-ids short-circuit (read.py:421-422).
    check("empty read")(db.read(ReadFilter(Nil)).isEmpty)

    // Relative read: as-of per window.
    val rel = db.readRelative(ReadFilter(Seq(1L)), Duration.ofDays(1), Duration.ofHours(7),
      startWindow = Some(t("2024-03-01T00:00:00Z"))).collect()
    check("relative read nonempty")(rel.nonEmpty)
    val relDaily = db.readRelativeDaily(
      ReadFilter(Seq(1L), startValid = Some(t("2024-03-01T00:00:00Z"))), 0, LocalTime.of(23, 0))
    check("relative daily nonempty")(relDaily.count() > 0)

    // run_series: three writes to series 1 → ≥3 runs, newest first.
    val runs = db.readRunSeries(1L)
    check("run_series runs")(runs.length >= 3)

    // Bad inputs reject (write.py validation).
    def throws(f: => Any): Boolean = try { f; false } catch { case _: IllegalArgumentException => true }
    check("reject missing col")(throws(db.write(Seq((1L, 2.0)).toDF("series_id", "value"))))
    check("reject bad retention")(throws(db.write(rev1, retention = Some("eternal"))))
    check("reject ambiguous retention")(throws(
      db.write(rev1.withColumn("retention", lit("short")), retention = Some("short"))))
    check("reject ambiguous kt")(throws(
      db.write(rev1.withColumn("knowledge_time", lit(t("2024-01-01T00:00:00Z"))),
        knowledgeTime = Some(t("2024-01-01T00:00:00Z")))))
    // A null in a retention COLUMN must fail the write, not slip into a
    // __HIVE_DEFAULT_PARTITION__ tier that no read or TTL ever touches.
    check("reject null retention column value")(
      try {
        db.write(Seq((8L, t("2024-03-01T00:00:00Z"), 1.0, "short"),
          (8L, t("2024-03-01T01:00:00Z"), 2.0, null))
          .toDF("series_id", "valid_time", "value", "retention"))
        false
      } catch { case _: Throwable => db.read(ReadFilter(Seq(8L))).count() == 0 })

    // TTL expiry: short-retention month long past → partition dropped.
    val old = Seq((9L, t("2020-01-15T00:00:00Z"), 1.0)).toDF("series_id", "valid_time", "value")
    db.write(old, retention = Some("short"))
    val dropped = db.expireRetention(Instant.parse("2024-03-01T00:00:00Z"))
    check("ttl partition drop")(dropped == Seq("retention=short/valid_month=202001") &&
      db.read(ReadFilter(Seq(9L))).count() == 0)

    // Probe: skip-unchanged with a batch spanning a month boundary — the
    // slab's valid_month prune must keep BOTH months or stored rows go
    // unseen and nothing gets skipped.
    {
      val crossMonth = Seq(
        (50L, t("2024-01-31T23:00:00Z"), 1.0),
        (50L, t("2024-02-01T01:00:00Z"), 2.0))
        .toDF("series_id", "valid_time", "value")
      db.write(crossMonth, knowledgeTime = Some(t("2024-02-02T00:00:00Z")))
      val again = db.write(crossMonth, knowledgeTime = Some(t("2024-02-03T00:00:00Z")),
        skipUnchanged = true)
      check("skip-unchanged across month boundary")(again == operators.WriteResult(0, 2))
      // Partition dirs must be named by UTC month regardless of the
      // session timezone: 2024-02-01T01:00Z is still January in most
      // western zones, but belongs in valid_month=202402.
      val months = new java.io.File(s"$base/series_values")
        .listFiles().filter(_.isDirectory)
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[java.io.File]))
        .map(_.getName).toSet
      check("partition dirs named by UTC month")(
        months.contains("valid_month=202401") && months.contains("valid_month=202402"))
    }

    // Meta-source read + profiling through the public surface.
    {
      val catalog = Seq(
        (1L, "root/site-a/1", "s1", "forever"),
        (3L, "root/site-b/3", "s3", "forever"),
        (9L, "other/9", "s9", "short"))
        .toDF("series_id", "path", "name", "retention")
      Profiling.enable()
      val viaMeta = db.readMeta(graft.sources.MetaSource(catalog, rootPath = Some("root")))
      check("meta read resolves subtree ids")(
        viaMeta.select("series_id").distinct().as[Long].collect().toSet == Set(1L, 3L))
      val snap = Profiling.snapshot()
      Profiling.disable(); Profiling.reset()
      check("profiling recorded read phase")(snap.contains(Profiling.PhaseReadTotal))
      // Probe: zero or two addressing fields must be rejected.
      check("meta rejects no addressing")(throws(
        db.readMeta(graft.sources.MetaSource(catalog))))
      check("meta rejects double addressing")(throws(
        db.readMeta(graft.sources.MetaSource(catalog, rootPath = Some("r"), names = Seq("s1")))))
      // Probe: addressing that matches nothing → empty-ids short-circuit.
      check("meta empty resolve short-circuits")(
        db.readMeta(graft.sources.MetaSource(catalog, rootPath = Some("nope"))).isEmpty)
    }

    // Streaming ingest through the public surface: rate-limited synthetic
    // stream → StreamingIngest.writer → the same store the batch API reads.
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val q = streaming.StreamingIngest.writer(
        mem.toDF().toDF("series_id", "valid_time", "value"), base, retention = Some("medium")).start()
      mem.addData((77L, t("2024-04-01T00:00:00Z"), 1.0), (77L, t("2024-04-01T01:00:00Z"), 2.0))
      q.processAllAvailable()
      mem.addData((77L, t("2024-04-01T00:00:00Z"), 9.0)) // late correction
      q.processAllAvailable()
      q.stop()
      val got = db.read(ReadFilter(Seq(77L), retention = Seq("medium"))).collect()
      check("streaming ingest read-back")(got.length == 2)
      check("streaming late correction wins")(
        got.find(_.getTimestamp(1) == t("2024-04-01T00:00:00Z")).exists(_.getDouble(2) == 9.0))
      check("streaming runs recorded")(db.readRunSeries(77L).length == 2)

      // Probe: a streaming batch violating validation (bad retention tier)
      // must fail the query, not land silently.
      val mem2 = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val q2 = streaming.StreamingIngest.writer(
        mem2.toDF().toDF("series_id", "valid_time", "value"), base, retention = Some("bogus")).start()
      mem2.addData((78L, t("2024-04-01T00:00:00Z"), 1.0))
      val failed = try { q2.processAllAvailable(); false }
      catch { case e: Throwable => e.getMessage != null }
      try q2.stop() catch { case _: Throwable => () }
      check("streaming bad retention fails the query")(failed)
      check("streaming failed batch landed nothing")(db.read(ReadFilter(Seq(78L))).count() == 0)
    }

    // Restart recovery (checkpoint-dir reuse): the streaming faces must
    // survive a driver stop — a NEW query over the SAME checkpoint
    // continues from committed offsets instead of replaying or skipping.
    {
      import org.apache.spark.sql.types._
      val ingestDir = java.nio.file.Files.createTempDirectory("timedb_restart_in").toString
      val ckpt = java.nio.file.Files.createTempDirectory("timedb_restart_ck").toString
      val schema = StructType(Seq(
        StructField("series_id", LongType), StructField("valid_time", TimestampType),
        StructField("value", DoubleType)))
      def src() = spark.readStream.schema(schema).parquet(ingestDir)
      // batch 1 lands under the FIRST query instance…
      Seq((81L, t("2024-05-01T00:00:00Z"), 1.0), (81L, t("2024-05-01T01:00:00Z"), 2.0))
        .toDF("series_id", "valid_time", "value")
        .write.mode("append").parquet(ingestDir)
      val q1 = streaming.StreamingIngest.writer(src(), base, retention = Some("medium"))
        .option("checkpointLocation", ckpt).start()
      q1.processAllAvailable(); q1.stop()
      // …batch 2 under a SECOND instance recovering from the checkpoint
      Seq((81L, t("2024-05-01T00:00:00Z"), 9.0)) // late correction
        .toDF("series_id", "valid_time", "value")
        .write.mode("append").parquet(ingestDir)
      val q2 = streaming.StreamingIngest.writer(src(), base, retention = Some("medium"))
        .option("checkpointLocation", ckpt).start()
      q2.processAllAvailable(); q2.stop()
      // overlapping shape: one row per (valid_time, knowledge_time) —
      // a replayed batch 1 would stamp a NEW knowledge_time and surface
      // as 5 rows here; a skipped batch as fewer than 3
      val hist = db.read(ReadFilter(Seq(81L), retention = Seq("medium")),
        includeKnowledgeTime = true)
      check("restarted ingest: no replay, no loss (3 rows exactly)")(hist.count() == 3)
      val latest = db.read(ReadFilter(Seq(81L), retention = Seq("medium"))).collect()
      check("restarted ingest: post-restart correction wins")(
        latest.find(_.getTimestamp(1) == t("2024-05-01T00:00:00Z")).exists(_.getDouble(2) == 9.0))
      check("restarted ingest: one run per landed batch")(db.readRunSeries(81L).length == 2)

      // Stream-stream join: a LEFT row seen BEFORE the restart must join
      // a RIGHT row arriving AFTER it — that match can only come from
      // join state recovered out of the checkpoint's state store.
      val lDir = java.nio.file.Files.createTempDirectory("timedb_ssj_l").toString
      val rDir = java.nio.file.Files.createTempDirectory("timedb_ssj_r").toString
      val outDir = java.nio.file.Files.createTempDirectory("timedb_ssj_out").toString
      val jckpt = java.nio.file.Files.createTempDirectory("timedb_ssj_ck").toString
      val lSchema = StructType(Seq(
        StructField("k", LongType), StructField("lts", TimestampType)))
      val rSchema = StructType(Seq(
        StructField("k", LongType), StructField("rts", TimestampType)))
      def joined() = streaming.StreamingJoin.joinWithin(
        spark.readStream.schema(lSchema).parquet(lDir).withWatermark("lts", "0 seconds"),
        spark.readStream.schema(rSchema).parquet(rDir).withWatermark("rts", "0 seconds"),
        keyCol = "k", leftTs = "lts", rightTs = "rts", within = "10 minutes")
      def startJoin() = joined().writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", jckpt).outputMode("append").start()
      Seq((1L, t("2024-05-02T10:00:00Z"))).toDF("k", "lts")
        .write.mode("append").parquet(lDir)
      Seq((2L, t("2024-05-02T10:00:00Z"))).toDF("k", "rts") // wrong key: no match yet
        .write.mode("append").parquet(rDir)
      val j1 = startJoin(); j1.processAllAvailable(); j1.stop()
      Seq((1L, t("2024-05-02T10:05:00Z"))).toDF("k", "rts") // matches pre-restart left
        .write.mode("append").parquet(rDir)
      val j2 = startJoin(); j2.processAllAvailable(); j2.stop()
      val matches = spark.read.parquet(outDir).collect()
      check("restarted stream-stream join: recovered state produces the match")(
        matches.length == 1 && matches.head.getAs[Long]("k") == 1L &&
          matches.head.getAs[Timestamp]("rts") == t("2024-05-02T10:05:00Z"))
    }

    // Compaction: micro-batch appends collapse, reads unchanged.
    {
      val preCount = db.read(ReadFilter(Seq(1L))).count()
      val preFiles = db.store.scanValues().inputFiles.length
      val compacted = db.compact(maxFiles = 2)
      check("compaction rewrote at least one partition")(compacted.nonEmpty)
      check("compaction reduced file count")(
        db.store.scanValues().inputFiles.length < preFiles)
      check("compaction preserved read results")(
        db.read(ReadFilter(Seq(1L))).count() == preCount)
    }

    // Bucketed mirror: same latest-read result, exchange-free plan.
    {
      db.store.createBucketedMirror("apidrive_bucketed", nBuckets = 4)
      val mirror = db.store.scanBucketed("apidrive_bucketed")
      val viaMirror = operators.ReadShapes.latest(mirror)
      check("bucketed mirror latest matches plain latest")(
        viaMirror.count() ==
          operators.ReadShapes.latest(db.store.scanValues().drop("valid_month")).count())
      check("bucketed mirror latest plans with no exchange")(
        !viaMirror.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
    }

    // SQL surface: temp views over the store.
    db.createViews()
    check("sql view over series_values")(
      spark.sql("SELECT COUNT(*) FROM series_values WHERE series_id = 1").head().getLong(0) > 0)
    check("sql view over run_series collapse")(
      spark.sql("SELECT COUNT(DISTINCT run_id) FROM run_series WHERE series_id = 1").head().getLong(0) >= 3)

    db.delete()
    spark.stop()
    if (failures.nonEmpty) { println(s"FAILURES: $failures"); sys.exit(1) }
    println("ALL API CHECKS PASSED")
  }
}
