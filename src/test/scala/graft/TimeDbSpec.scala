package graft

import java.time.{Duration, Instant, LocalTime}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ReadShapes, UnchangedScope, WriteResult}

/** Integration round-trips through the public facade against a temp
  * store — the ScalaTest port of timedb/tests/test_integration.py
  * (SURVEY.md §5.2). */
class TimeDbSpec extends SparkSpec {
  import spark.implicits._

  private def withDb(f: TimeDb => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory("timedb_spec").toString
    val db = new TimeDb(spark, base)
    db.create()
    try f(db) finally db.delete()
  }

  private val vts = (0 until 6).map(h => ts(f"2024-03-01T$h%02d:00:00Z"))
  private def revision(mult: Double) =
    vts.zipWithIndex.map { case (vt, i) => (1L, vt, i * mult) }
      .toDF("series_id", "valid_time", "value")

  test("compaction: many small appends collapse to few sorted files, data intact") {
    withDb { db =>
      // 6 separate writes to the same month partition = >= 6 files
      (1 to 6).foreach { i =>
        db.write(Seq((1L, ts(f"2024-03-01T0$i%01d:00:00Z"), i.toDouble))
          .toDF("series_id", "valid_time", "value"), retention = Some("short"))
      }
      val before = db.store.scanValues().inputFiles.length
      assert(before >= 6)
      val pre = db.store.scanValues().drop("valid_month")
        .orderBy("series_id", "valid_time", "knowledge_time", "change_time").collect().toSeq
      val compacted = db.store.compactPartitions(maxFiles = 2)
      assert(compacted.nonEmpty)
      val after = db.store.scanValues().inputFiles.length
      assert(after < before, s"$after vs $before")
      val post = db.store.scanValues().drop("valid_month")
        .orderBy("series_id", "valid_time", "knowledge_time", "change_time").collect().toSeq
      assert(post == pre)
      // below-threshold partitions are left alone
      assert(db.store.compactPartitions(maxFiles = 2).isEmpty)
    }
  }

  test("compact() over two due partitions publishes one manifest version") {
    withDb { db =>
      for (month <- Seq("03", "04"); h <- 1 to 3)
        db.write(Seq((1L, ts(s"2024-$month-01T0$h:00:00Z"), h.toDouble))
          .toDF("series_id", "valid_time", "value"), retention = Some("short"))
      def rows = db.store.scanValues().drop("valid_month")
        .orderBy("series_id", "valid_time", "knowledge_time", "change_time").collect().toSeq
      val pre = rows
      val before = db.store.versions()
      assert(db.compact(maxFiles = 2) ==
        Seq("retention=short/valid_month=202403", "retention=short/valid_month=202404"))
      assert(db.store.versions() == before :+ (before.last + 1))
      assert(db.store.currentFiles().length == 2)
      assert(rows == pre)
    }
  }

  test("manifest snapshots: concurrent readers never see a partial month; vacuum reclaims") {
    withDb { db =>
      (1 to 6).foreach { i =>
        db.write(Seq((1L, ts(f"2024-03-01T0$i%01d:00:00Z"), i.toDouble))
          .toDF("series_id", "valid_time", "value"), retention = Some("short"))
      }
      val expectedRows = db.store.scanValues().count()
      val expectedSum = db.store.scanValues().agg(sum("value")).head().getDouble(0)
      db.store.createZOrderedMirror("tdspec_race", files = 2)
      db.store.createBucketedMirror("tdspec_race_bk", nBuckets = 2)
      val runsBefore = db.store.scanRunSeries().count()
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      @volatile var stop = false
      val reader = new Thread(() => {
        while (!stop) {
          try {
            val agg = db.store.scanValues().agg(count(lit(1)), sum("value")).head()
            if (agg.getLong(0) != expectedRows || agg.getDouble(1) != expectedSum)
              errors.add(s"partial snapshot: rows=${agg.getLong(0)} sum=${agg.getDouble(1)}")
            val z = db.store.scanZOrdered("tdspec_race").agg(count(lit(1)), sum("value")).head()
            if (z.getLong(0) != expectedRows || z.getDouble(1) != expectedSum)
              errors.add(s"partial z-mirror: rows=${z.getLong(0)} sum=${z.getDouble(1)}")
            val b = db.store.scanBucketed("tdspec_race_bk").agg(count(lit(1)), sum("value")).head()
            if (b.getLong(0) != expectedRows || b.getDouble(1) != expectedSum)
              errors.add(s"partial bucketed mirror: rows=${b.getLong(0)} sum=${b.getDouble(1)}")
            val runs = db.store.scanRunSeries().count()
            if (runs != runsBefore && runs != runsBefore + 2)
              errors.add(s"partial run_series: $runs runs")
          } catch { case t: Throwable => errors.add(t.toString) }
        }
      })
      reader.start()
      try {
        val compacted = db.store.compactPartitions(maxFiles = 2)
        assert(compacted.nonEmpty)
        db.store.createZOrderedMirror("tdspec_race", files = 2)
        db.store.createBucketedMirror("tdspec_race_bk", nBuckets = 2)
        db.store.appendRunSeries(Seq((7L, 99L, ts("2024-03-02T00:00:00Z")),
          (8L, 99L, ts("2024-03-02T00:00:00Z"))).toDF("series_id", "run_id", "first_seen"))
        Thread.sleep(300) // let the reader also observe the post-commit snapshots
      } finally { stop = true; reader.join() }
      assert(db.store.scanRunSeries().count() == runsBefore + 2)
      assert(errors.isEmpty, s"racing reader observed: ${errors.toArray.mkString("; ")}")

      // a stray (crashed-write) file in the month dir is invisible to readers
      val monthDir = new org.apache.hadoop.fs.Path(
        db.store.scanValues().inputFiles.head).getParent
      val fs = monthDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val liveBefore = db.store.scanValues().inputFiles.length
      val stray = new org.apache.hadoop.fs.Path(monthDir, "part-stray-uncommitted.parquet")
      val out = fs.create(stray); out.write(Array[Byte](1, 2, 3)); out.close()
      assert(db.store.scanValues().inputFiles.length == liveBefore)

      // a young stray is protected by the in-flight-write age guard
      assert(!db.store.vacuum(keepManifests = 1)
        .exists(_.endsWith("part-stray-uncommitted.parquet")))
      // vacuum from the writer (age 0) removes superseded + stray files,
      // keeps the live snapshot
      val removed = db.store.vacuum(keepManifests = 1, minAgeMillis = 0L)
      assert(removed.nonEmpty && removed.exists(_.endsWith("part-stray-uncommitted.parquet")))
      assert(db.store.scanValues().count() == expectedRows)
      assert(db.store.scanValues().agg(sum("value")).head().getDouble(0) == expectedSum)
      // on-disk files now equal the manifest exactly
      assert(db.store.vacuum(keepManifests = 1, minAgeMillis = 0L).isEmpty)
    }
  }

  test("bucketed mirror: same content, latest-read plans with no exchange") {
    withDb { db =>
      db.write(revision(10), knowledgeTime = Some(ts("2024-02-29T18:00:00Z")))
      db.write(revision(100), knowledgeTime = Some(ts("2024-03-01T03:00:00Z")))
      val store = db.store
      store.createBucketedMirror("tdspec_bucketed", nBuckets = 4)
      val mirror = store.scanBucketed("tdspec_bucketed")
      // content identical to the plain scan
      val plain = store.scanValues().drop("valid_month")
      assert(mirror.exceptAll(plain).isEmpty && plain.exceptAll(mirror).isEmpty)
      // the argmax latest-read over the mirror needs NO shuffle; the
      // same shape over the plain scan does
      val bucketedPlan = graft.operators.ReadShapes.latest(mirror)
        .queryExecution.executedPlan.toString
      assert(!bucketedPlan.contains("Exchange hashpartitioning"),
        s"bucketed latest-read should be exchange-free:\n$bucketedPlan")
      val plainPlan = graft.operators.ReadShapes.latest(plain)
        .queryExecution.executedPlan.toString
      assert(plainPlan.contains("Exchange hashpartitioning"))
      // result equivalence on the mirror
      assert(graft.operators.ReadShapes.latest(mirror)
        .agg(sum("value")).head().getDouble(0) ==
        graft.operators.ReadShapes.latest(plain)
          .agg(sum("value")).head().getDouble(0))
    }
  }

  test("z-ordered mirror: 2-D band predicates prune files; rebuild keeps one") {
    withDb { db =>
      // 128 series × 192 hours — enough rows that 32 mirror files each
      // hold a real tile of the (series, time) plane
      val big = (0 until 128).flatMap { sid =>
        (0 until 192).map(h =>
          (sid.toLong, ts(f"2024-03-01T00:00:00Z").toInstant.plusSeconds(h * 3600L),
            sid * 1000.0 + h))
      }.map { case (s, i, v) => (s, java.sql.Timestamp.from(i), v) }
        .toDF("series_id", "valid_time", "value")
      db.write(big, retention = Some("forever"))
      val store = db.store
      store.createZOrderedMirror("tdspec_z", files = 32)
      val mirror = store.scanZOrdered("tdspec_z")
      val plain = store.scanValues().drop("valid_month")
      assert(mirror.exceptAll(plain).isEmpty && plain.exceptAll(mirror).isEmpty)
      // footer-stat prune proxy (the LayoutSpec discipline): files whose
      // [min,max] range intersects the predicate band. A ~10% band on
      // EITHER axis must prune most of the 32 files; the store's native
      // series-then-time sorted layout cannot prune on the time axis.
      def touched(df: org.apache.spark.sql.DataFrame,
          whereCol: String, lo: Any, hi: Any): Long =
        df.groupBy(input_file_name().as("f"))
          .agg(min(whereCol).as("lo"), max(whereCol).as("hi"))
          .filter(col("hi") >= lit(lo) && col("lo") <= lit(hi)).count()
      val zFiles = mirror.select(input_file_name()).distinct().count()
      assert(zFiles >= 16, s"expected a multi-file mirror, got $zFiles")
      // measured on this fixture: series band 9-10/32, time band 6-8/32
      // (a band CROSSING the x midline touches ~19/32 — the z-curve's
      // known worst case; the pin uses an off-boundary band, the average
      // case the √selectivity claim describes)
      val zSeries = touched(mirror, "series_id", 8L, 20L)
      val zTime = touched(mirror, "valid_time",
        ts("2024-03-04T00:00:00Z"), ts("2024-03-04T18:00:00Z"))
      assert(zSeries <= zFiles * 2 / 5, s"series band touched $zSeries/$zFiles")
      assert(zTime <= zFiles * 2 / 5, s"time band touched $zTime/$zFiles")
      // native layout: the same time band touches every multi-row file
      // of the single month partition (time is subordinate to series in
      // the sort), so z-order is what buys the second axis
      val nativeFiles = plain.select(input_file_name()).distinct().count()
      val nativeTime = touched(plain, "valid_time",
        ts("2024-03-04T00:00:00Z"), ts("2024-03-04T18:00:00Z"))
      assert(nativeTime == nativeFiles,
        s"premise: native layout can't prune the time axis ($nativeTime/$nativeFiles)")
      // a rebuild keeps the previous version readable: a scan planned
      // before it still reads its files afterwards
      val n = plain.count()
      val planned = store.scanZOrdered("tdspec_z")
      db.write(revision(1), retention = Some("forever"))
      store.createZOrderedMirror("tdspec_z", files = 32)
      assert(planned.count() == n)
      assert(store.scanZOrdered("tdspec_z").count() == n + vts.length)
      // a rebuild that crashed after moving files in but before its
      // commit exposes none of them
      val root = java.nio.file.Paths.get(
        s"${db.store.valuesPath.stripSuffix("/series_values")}/zordered/tdspec_z")
      val some = planned.inputFiles.head.stripPrefix("file:")
      val crashed = root.resolve("store_v99")
      java.nio.file.Files.createDirectories(crashed)
      java.nio.file.Files.copy(java.nio.file.Paths.get(some), crashed.resolve("part-crashed.parquet"))
      assert(store.scanZOrdered("tdspec_z").count() == n + vts.length)
      // no mirror at all → loud error naming the remedy
      val e = intercept[IllegalArgumentException] {
        store.scanZOrdered("tdspec_z_nope")
      }
      assert(e.getMessage.contains("createZOrderedMirror"))
    }
  }

  test("z-mirror merge-on-read: base ∪ change-feed tail serves the current table; rewrites throw") {
    withDb { db =>
      db.write(revision(10), knowledgeTime = Some(ts("2024-02-29T18:00:00Z")))
      val store = db.store
      val vBase = store.versions().last
      // mirror pinned at the first batch, by explicit as-of AND by the
      // current-head default (both must record the same base version)
      store.createZOrderedMirror("tdspec_mor", files = 4, asOfVersion = Some(vBase))
      assert(store.zMirrorBaseVersion("tdspec_mor") == vBase)
      // second batch lands only in the commit log
      db.write(revision(100), knowledgeTime = Some(ts("2024-03-01T03:00:00Z")))
      val merged = store.scanZOrderedWithTail("tdspec_mor")
      val plain = store.scanValues().drop("valid_month")
      assert(merged.exceptAll(plain).isEmpty && plain.exceptAll(merged).isEmpty,
        "base ∪ tail must equal the current table exactly")
      // the mirror alone must NOT contain the second batch (the tail is
      // doing real work, not shadowing a stale-free mirror)
      assert(store.scanZOrdered("tdspec_mor").count() < plain.count())
      // a compaction rewrite between base and head re-surfaces rows in
      // the file-diff feed — the tail read must refuse, not duplicate
      assert(db.store.compactPartitions(maxFiles = 1).nonEmpty)
      val ex = intercept[IllegalStateException] {
        store.scanZOrderedWithTail("tdspec_mor").count()
      }
      assert(ex.getMessage.contains("rebuild the mirror"))
      // rebuild (defaults to the new head) restores exact serving
      store.createZOrderedMirror("tdspec_mor", files = 4)
      val after = store.scanZOrderedWithTail("tdspec_mor")
      val plainAfter = store.scanValues().drop("valid_month")
      assert(after.exceptAll(plainAfter).isEmpty &&
        plainAfter.exceptAll(after).isEmpty)
    }
  }

  test("delete drops the mirrors: a store re-created at the same path has none") {
    withDb { db =>
      db.write(revision(10))
      val store = db.store
      store.createZOrderedMirror("tdspec_gone", files = 2)
      store.createBucketedMirror("tdspec_gone_bk", nBuckets = 2)
      val base = store.valuesPath.stripSuffix("/series_values")
      assert(new java.io.File(s"$base/bucketed/tdspec_gone_bk/_manifests").isDirectory)
      db.delete()
      db.create()
      val e = intercept[IllegalArgumentException](store.scanZOrdered("tdspec_gone"))
      assert(e.getMessage.contains("run createZOrderedMirror first"))
      val bk = intercept[IllegalStateException](store.scanBucketed("tdspec_gone_bk"))
      assert(bk.getMessage.contains("createBucketedMirror"), bk.getMessage)
      assert(new java.io.File(base).list().toSet == Set("series_values", "run_series"))
    }
  }

  test("create() commits empty tables without a Spark job and adopts a pre-manifest run_series") {
    val base = java.nio.file.Files.createTempDirectory("timedb_adopt").toString
    Seq((1L, 3L, ts("2024-03-01T00:00:00Z")), (1L, 4L, ts("2024-03-02T00:00:00Z")))
      .toDF("series_id", "run_id", "first_seen").write.parquet(s"$base/run_series")
    val db = new TimeDb(spark, base)
    try {
      assert(jobsDuring(db.create()) == 0)
      db.create()
      assert(db.readRunSeries(1L) == Seq(4L, 3L))
      db.write(revision(1), knowledgeTime = Some(ts("2024-03-03T00:00:00Z")))
      assert(db.readRunSeries(1L).length == 3)
      // series_values holds the create's empty manifest and the write's:
      // the second create() committed nothing
      assert(db.store.versions().length == 2)
    } finally db.delete()
  }

  test("a write with no create() first keeps a pre-manifest run_series through vacuum") {
    // the streaming writer opens a TimeDb and writes without create()
    val base = java.nio.file.Files.createTempDirectory("timedb_adopt_write").toString
    Seq((1L, 3L, ts("2024-03-01T00:00:00Z")), (1L, 4L, ts("2024-03-02T00:00:00Z")))
      .toDF("series_id", "run_id", "first_seen").write.parquet(s"$base/run_series")
    val db = new TimeDb(spark, base)
    try {
      db.store.appendRunSeries(Seq((1L, 5L, ts("2024-03-03T00:00:00Z")))
        .toDF("series_id", "run_id", "first_seen"))
      db.store.vacuum(minAgeMillis = 0L)
      assert(db.readRunSeries(1L) == Seq(5L, 4L, 3L))
    } finally db.delete()
  }

  test("table scans list no files in a Spark job: 40 run_series files, a typed z-mirror") {
    withDb { db =>
      (1 to 40).foreach { r =>
        db.store.appendRunSeries(Seq((1L, r.toLong, ts("2024-03-01T00:00:00Z")))
          .toDF("series_id", "run_id", "first_seen").coalesce(1))
      }
      assert(db.store.scanRunSeries().inputFiles.length == 40)
      assert(jobsDuring { db.store.scanRunSeries(); () } == 0)
      val jobs = jobsDuring { assert(db.readRunSeries(1L).length == 40) }
      assert(jobs == 0, s"readRunSeries ran $jobs jobs")
      // series_values too: 40 one-file appends, scanned with no job
      val kt = ts("2024-03-01T00:00:00Z")
      (1 to 40).foreach { r =>
        db.store.appendValues(graft.operators.WritePipeline.stamp(
          Seq((1L, new java.sql.Timestamp(kt.getTime + 3600000L * r), r.toDouble))
            .toDF("series_id", "valid_time", "value"),
          Some("short"), Some(kt), now = kt, runId = r.toLong), oneTask = true)
      }
      assert(db.store.scanValues().inputFiles.length == 40)
      assert(jobsDuring { db.store.scanValues(); () } == 0)
      db.write(revision(1))
      db.store.createZOrderedMirror("tdspec_zscan", files = 2)
      assert(jobsDuring { db.store.scanZOrdered("tdspec_zscan"); () } == 0)
      assert(jobsDuring { db.store.scanZOrderedWithTail("tdspec_zscan"); () } == 0)
    }
  }

  test("two revisions: latest returns the later knowledge_time values") {
    withDb { db =>
      db.write(revision(10), knowledgeTime = Some(ts("2024-02-29T18:00:00Z")))
      db.write(revision(100), knowledgeTime = Some(ts("2024-03-01T03:00:00Z")))
      val latest = db.read(ReadFilter(Seq(1L))).as[(Long, java.sql.Timestamp, Double)].collect()
      assert(latest.map(_._3).toSeq == (0 until 6).map(_ * 100.0))
      val hist = db.read(ReadFilter(Seq(1L)), includeKnowledgeTime = true)
      assert(hist.count() == 12)
    }
  }

  test("correction chain: same-kt rewrite shows as 2-row chain, collapsed") {
    withDb { db =>
      val kt = Some(ts("2024-03-01T03:00:00Z"))
      db.write(revision(10), knowledgeTime = kt)
      db.write(revision(10).withColumn("value", col("value") + 100), knowledgeTime = kt)
      db.write(revision(10).withColumn("value", col("value") + 100), knowledgeTime = kt)
      val chain = db.read(ReadFilter(Seq(1L)), includeUpdates = true)
      assert(chain.count() == 12) // 2 real transitions per vt; 3rd write collapses
    }
  }

  test("retention tiers isolate reads and partition-prune") {
    withDb { db =>
      db.write(revision(1), retention = Some("short"))
      db.write(revision(2).withColumn("series_id", lit(2L)), retention = Some("long"))
      assert(db.read(ReadFilter(Seq(1L, 2L), retention = Seq("short"))).count() == 6)
      assert(db.read(ReadFilter(Seq(1L, 2L), retention = Seq("long"))).count() == 6)
      assert(db.read(ReadFilter(Seq(1L, 2L))).count() == 12)
    }
  }

  test("half-open time-range filters") {
    withDb { db =>
      db.write(revision(1), knowledgeTime = Some(ts("2024-03-01T00:00:00Z")))
      val f = ReadFilter(Seq(1L),
        startValid = Some(vts(1)), endValid = Some(vts(4)))
      assert(db.read(f).count() == 3) // [1, 4)
    }
  }

  test("empty series_ids short-circuits with the right schema") {
    withDb { db =>
      val empty = db.read(ReadFilter(Nil), includeUpdates = true, includeKnowledgeTime = true)
      assert(empty.isEmpty)
      assert(empty.columns.toSeq == Seq("series_id", "valid_time", "knowledge_time",
        "change_time", "value", "changed_by", "annotation"))
    }
  }

  test("skip_unchanged: identical rewrite all skipped; changed row kept") {
    withDb { db =>
      db.write(revision(10), knowledgeTime = Some(ts("2024-03-01T00:00:00Z")))
      val again = db.write(revision(10), knowledgeTime = Some(ts("2024-03-01T01:00:00Z")),
        skipUnchanged = true)
      assert(again == WriteResult(0, 6))
      val oneChanged = db.write(
        revision(10).withColumn("value", when(col("valid_time") === vts.head, -1.0).otherwise(col("value"))),
        knowledgeTime = Some(ts("2024-03-01T02:00:00Z")), skipUnchanged = true)
      assert(oneChanged == WriteResult(1, 5))
    }
  }

  test("skip_unchanged lists no partition directory outside the batch's tiers and months") {
    CrashFs.register(spark)
    val db = new TimeDb(spark, CrashFs.uri(
      java.nio.file.Files.createTempDirectory("timedb_slab").toString))
    db.create()
    try {
      db.write(revision(10), retention = Some("short"))
      db.write(revision(10), retention = Some("long"))
      db.write(Seq((1L, ts("2024-01-15T00:00:00Z"), 1.0)).toDF("series_id", "valid_time", "value"),
        retention = Some("short"))
      CrashFs.reset()
      val again = db.write(
        revision(10).withColumn("value", when(col("valid_time") === vts.head, -1.0).otherwise(col("value"))),
        retention = Some("short"), skipUnchanged = true)
      assert(again == WriteResult(1, 5))
      val partitionDirs = CrashFs.listed.filter(_.contains("/series_values/retention="))
      assert(partitionDirs.exists(_.endsWith("/series_values/retention=short/valid_month=202403")))
      assert(partitionDirs.forall(d => d.contains("retention=short") && !d.contains("valid_month=202401")),
        partitionDirs.toSeq.sorted.mkString("\n"))
    } finally db.delete()
  }

  test("skip_unchanged above the id threshold: semi-join path, same result, no collect") {
    val base = java.nio.file.Files.createTempDirectory("timedb_semijoin").toString
    // threshold 0 forces every skip-unchanged write through the
    // semi-join read-back (the crawl-scale path that must not collect
    // the batch's series ids to the driver)
    val db = new TimeDb(spark, base, maxInlineSeriesIds = 0L)
    db.create()
    try {
      val batch = revision(10)
      assert(db.write(batch, skipUnchanged = true).written == 6L)
      // identical rewrite: everything skipped, exactly as the isin path
      val again = db.write(batch, skipUnchanged = true)
      assert(again.written == 0L && again.skipped == 6L)
      // one changed row: only it lands
      val changed = vts.zipWithIndex
        .map { case (vt, i) => (1L, vt, if (i == 3) 999.0 else i * 10.0) }
        .toDF("series_id", "valid_time", "value")
      val res = db.write(changed, skipUnchanged = true)
      assert(res.written == 1L && res.skipped == 5L)
    } finally db.delete()
  }

  test("skip_unchanged knowledge_time scope keeps new-kt restatements") {
    withDb { db =>
      db.write(revision(10), knowledgeTime = Some(ts("2024-03-01T00:00:00Z")))
      val newKt = db.write(revision(10), knowledgeTime = Some(ts("2024-03-01T01:00:00Z")),
        skipUnchanged = true, unchangedScope = UnchangedScope.KnowledgeTime)
      assert(newKt == WriteResult(6, 0)) // same values, new kt → kept under kt scope
      val sameKt = db.write(revision(10), knowledgeTime = Some(ts("2024-03-01T01:00:00Z")),
        skipUnchanged = true, unchangedScope = UnchangedScope.KnowledgeTime)
      assert(sameKt == WriteResult(0, 6))
    }
  }

  test("skip_unchanged knowledge_time scope: the batch's kt bounds are inclusive, other kts never match") {
    withDb { db =>
      val Seq(k0, k1, k2, k3) = (0 until 4).map(h => ts(f"2024-02-01T$h%02d:00:00Z"))
      def rows(hourKts: (Int, java.sql.Timestamp)*) =
        hourKts.map { case (i, kt) => (1L, vts(i), kt, i * 10.0) }
          .toDF("series_id", "valid_time", "knowledge_time", "value")
      // stored: hours 0 and 1 at the batch's two knowledge_times (its
      // lower and upper bound); hour 2 at k2, a kt inside the batch's
      // range the batch does not carry; hour 3 at k0, below the range
      db.write(rows(0 -> k1, 1 -> k3, 2 -> k2, 3 -> k0))
      // the batch restates all four hours with the stored values, at k1 and k3
      val res = db.write(rows(0 -> k1, 1 -> k3, 2 -> k1, 3 -> k3),
        skipUnchanged = true, unchangedScope = UnchangedScope.KnowledgeTime)
      assert(res == WriteResult(2, 2))
      val landed = db.read(ReadFilter(Seq(1L)), includeKnowledgeTime = true)
        .select("valid_time", "knowledge_time").as[(java.sql.Timestamp, java.sql.Timestamp)]
        .collect().toSet
      assert(landed == Set(vts(0) -> k1, vts(1) -> k3, vts(2) -> k2, vts(2) -> k1,
        vts(3) -> k0, vts(3) -> k3))
    }
  }

  test("write rejects unknown values in a caller-supplied retention column") {
    withDb { db =>
      val bad = revision(1).withColumn("retention", lit("eternal"))
      intercept[IllegalArgumentException](db.write(bad))
      // nothing landed in either table
      assert(db.read(ReadFilter(Seq(1L))).count() == 0)
      assert(db.store.scanRunSeries().count() == 0)
      // a null required field fails inside the write's one pass, also
      // before either lane starts
      val nullSid = revision(1).withColumn("series_id",
        when(col("valid_time") === vts.last, lit(null)).otherwise(col("series_id")))
      intercept[Exception](db.write(nullSid))
      assert(db.store.scanValues().count() == 0)
      assert(db.store.scanRunSeries().count() == 0)
    }
  }

  /** Spark jobs started by `body`, counted between two listener-bus drains. */
  private def jobsDuring(body: => Unit): Int = JobLog.during(spark)(body)._2.jobs.size

  /** Classes Spark compiled while `body` ran. */
  private def compilesDuring(body: => Unit): Long = JobLog.during(spark)(body)._2.compiles

  test("write job counts: one pass before the lanes; skip-unchanged within budget") {
    withDb { db =>
      // Warm the store so both writes plan against existing files.
      db.write(revision(1), knowledgeTime = Some(ts("2024-03-01T00:00:00Z")))
      // One observed cache-filling pass, then one task per insert lane.
      val plain = jobsDuring {
        db.write(revision(2), knowledgeTime = Some(ts("2024-03-01T01:00:00Z"))); ()
      }
      assert(plain <= 3, s"plain write ran $plain jobs")
      // The same pass observes the batch's series ids; the read-back and
      // the kept rows' cache fill come on top.
      val skip = jobsDuring {
        val r = db.write(revision(2).withColumn("value",
          when(col("valid_time") === vts.head, -1.0).otherwise(col("value"))),
          knowledgeTime = Some(ts("2024-03-01T02:00:00Z")), skipUnchanged = true)
        assert(r == WriteResult(1, 5)); ()
      }
      assert(skip <= 7, s"skip-unchanged write ran $skip jobs")
    }
  }

  test("one-task and distributed insert lanes: same rows in both tables; only the distributed lanes shuffle") {
    val batch = (for (sid <- 1L to 3L; h <- 0 until 40 * 24 by 7)
      yield (sid, java.sql.Timestamp.from(Instant.parse("2024-03-20T00:00:00Z").plusSeconds(3600L * h)),
        if (sid == 2L) "short" else "medium", sid * 1000.0 + h))
      .toDF("series_id", "valid_time", "retention", "value")
    val n = batch.count()
    def landed(oneTask: Boolean): (Int, Seq[String], Seq[(Long, Long)], Int) = {
      var out: (Int, Seq[String], Seq[(Long, Long)], Int) = null
      withDb { db =>
        db.write(revision(1), knowledgeTime = Some(ts("2024-03-01T00:00:00Z")))
        val jobs = jobsDuring {
          assert(db.planWrite(batch, knowledgeTime = Some(ts("2024-03-02T00:00:00Z")),
            oneTask = Some(oneTask)) == WriteResult(n, 0)); ()
        }
        val values = db.store.scanValues().drop("change_time", "run_id")
          .collect().map(_.mkString(",")).sorted.toSeq
        val runs = db.store.scanRunSeries().select("series_id", "run_id").as[(Long, Long)]
          .collect().toSeq
        // runs are fresh ids per write: compare their count per series
        out = (jobs, values, runs.groupBy(_._1).toSeq.map { case (s, r) => s -> r.length.toLong }.sorted,
          db.store.currentFiles().length)
      }
      out
    }
    val (oneJobs, oneValues, oneRuns, oneFiles) = landed(oneTask = true)
    val (distJobs, distValues, distRuns, distFiles) = landed(oneTask = false)
    assert(oneValues == distValues && oneValues.length == 3 * 138 + 6)
    assert(oneRuns == distRuns && oneRuns == Seq(1L -> 2L, 2L -> 1L, 3L -> 1L))
    // one file per (tier, month) either way: 2 tiers × 2 months + the warm-up file
    assert(oneFiles == 5 && distFiles == 5)
    assert(oneJobs <= 3, s"one-task lanes ran $oneJobs jobs")
    assert(distJobs > oneJobs, s"distributed lanes ran $distJobs jobs, one-task $oneJobs")
  }

  test("a write leaves the caller's commit protocol setting as it was") {
    val key = "spark.sql.sources.commitProtocolClass"
    withDb { db =>
      val before = spark.conf.getOption(key)
      db.write(revision(1), knowledgeTime = Some(ts("2024-03-01T00:00:00Z")))
      db.write(revision(2), knowledgeTime = Some(ts("2024-03-01T01:00:00Z")), skipUnchanged = true)
      db.compact(maxFiles = 1)
      assert(spark.conf.getOption(key) == before)
      assert(!before.exists(_.contains("Manifest")))
    }
  }

  test("delete removes the store's base directory, unless something else is in it") {
    val empty = java.nio.file.Files.createTempDirectory("timedb_spec")
    val owned = new TimeDb(spark, empty.toString)
    owned.create()
    owned.write(revision(1), knowledgeTime = Some(ts("2024-03-01T00:00:00Z")))
    owned.delete()
    assert(!java.nio.file.Files.exists(empty))

    val shared = java.nio.file.Files.createTempDirectory("timedb_spec")
    val foreign = shared.resolve("not_the_store.txt")
    java.nio.file.Files.write(foreign, "keep".getBytes)
    val db = new TimeDb(spark, shared.toString)
    db.create()
    db.write(revision(1), knowledgeTime = Some(ts("2024-03-01T00:00:00Z")))
    db.delete()
    try {
      assert(java.nio.file.Files.exists(foreign))
      assert(java.nio.file.Files.list(shared).iterator().hasNext)
      assert(!java.nio.file.Files.exists(shared.resolve("series_values")))
    } finally FsUtil.deleteRecursively(shared.toFile)
  }

  /** Three series across a month boundary in two tiers, written in
    * several files: two issues that share one change_time, a correction
    * chain on the later issue (some corrections repeat the state, which
    * the audit collapse drops) and NaN values. */
  private def writeReadPlanStore(db: TimeDb): Unit = {
    val t0 = Instant.parse("2024-03-31T20:00:00Z")
    val shared = ts("2024-04-05T00:00:00Z")
    val early = ts("2024-03-31T00:00:00Z")
    val late = ts("2024-03-31T12:00:00Z")
    def batch(kt: java.sql.Timestamp, ct: java.sql.Timestamp, keep: Int => Boolean,
        value: (Long, Int) => Double) =
      (for (sid <- 1L to 3L; i <- 0 until 8 if keep(i))
        yield (sid, java.sql.Timestamp.from(t0.plusSeconds(3600L * i)), kt, ct,
          value(sid, i), if (sid == 3L) "short" else "medium"))
        .toDF("series_id", "valid_time", "knowledge_time", "change_time", "value", "retention")
    def v(sid: Long, i: Int) = if ((sid + i) % 5 == 0) Double.NaN else sid * 100.0 + i
    db.write(batch(early, shared, _ => true, v))
    db.write(batch(late, shared, _ % 2 == 0, (sid, i) => v(sid, i) + 0.5))
    db.write(batch(late, ts("2024-04-05T01:00:00Z"), _ % 2 == 0,
      (sid, i) => if (i % 4 == 0) -v(sid, i) else v(sid, i) + 0.5))
    db.write(batch(late, ts("2024-04-05T02:00:00Z"), _ % 2 == 0, (sid, i) => v(sid, i) + 0.5))
  }

  private val readPlanFilter = ReadFilter(Seq(1L, 2L, 3L),
    startValid = Some(ts("2024-03-31T21:00:00Z")), endValid = Some(ts("2024-04-01T04:00:00Z")))

  /** The five read forms as [[TimeDb.planRead]] arguments, each with
    * the public call it backs. */
  private def readForms(db: TimeDb, f: ReadFilter)
      : Seq[(String, Seq[String], DataFrame => DataFrame, () => DataFrame)] = {
    val origin = ts("2024-03-30T00:00:00Z")
    Seq(
      ("latest", Seq("series_id", "valid_time"), ReadShapes.latest _, () => db.read(f)),
      ("history", Seq("series_id", "valid_time", "knowledge_time"), ReadShapes.overlapping _,
        () => db.read(f, includeKnowledgeTime = true)),
      ("audit", Seq("series_id", "valid_time", "change_time"), ReadShapes.latestWithChanges _,
        () => db.read(f, includeUpdates = true)),
      ("audit_history", Seq("series_id", "valid_time", "knowledge_time", "change_time"),
        ReadShapes.overlappingWithChanges _,
        () => db.read(f, includeUpdates = true, includeKnowledgeTime = true)),
      ("relative", Seq("series_id", "valid_time"),
        (df: DataFrame) => ReadShapes.relative(df, 86400L, 6L * 3600, origin),
        () => db.readRelative(f, Duration.ofDays(1), Duration.ofHours(6), Some(origin))))
  }

  test("small reads plan as one task: at most two Spark jobs per read form") {
    withDb { db =>
      writeReadPlanStore(db)
      for ((name, _, _, call) <- readForms(db, readPlanFilter)) {
        call().collect() // warm the classes a first read loads
        var n = 0
        val jobs = jobsDuring { n = call().collect().length }
        assert(n > 0, s"$name returned no rows")
        assert(jobs <= 2, s"$name ran $jobs jobs")
      }
    }
  }

  test("warm reads compile nothing: fresh ids, bounds and day count in every read form, and readRunSeries") {
    withDb { db =>
      writeReadPlanStore(db)
      // fresh filters: one id, five ids (two not stored), other bounds
      val fresh = Seq(
        ReadFilter(Seq(2L), startValid = Some(ts("2024-03-31T22:00:00Z")),
          endValid = Some(ts("2024-04-01T03:00:00Z"))),
        ReadFilter(Seq(5L, 1L, 3L, 4L, 2L), startValid = Some(ts("2024-03-31T20:00:00Z")),
          endValid = Some(ts("2024-04-01T02:00:00Z"))))
      for (((name, _, _, warm), i) <- readForms(db, readPlanFilter).zipWithIndex) {
        warm().collect()
        for ((f, j) <- fresh.zipWithIndex) {
          val call = if (name == "relative")
            () => db.readRelativeDaily(f, daysAhead = j, timeOfDay = LocalTime.of(13 + j, 0))
          else readForms(db, f)(i)._4
          var n = 0
          val compiles = compilesDuring { n = call().collect().length }
          assert(n > 0, s"$name returned no rows for $f")
          assert(compiles == 0, s"$name compiled $compiles classes for $f")
        }
      }
      db.readRunSeries(1L)
      assert(compilesDuring { assert(db.readRunSeries(2L).nonEmpty) } == 0)
    }
  }

  test("a warm plain write of a batch with no literals of its own compiles nothing") {
    withDb { db =>
      val dir = java.nio.file.Files.createTempDirectory("timedb_batches").toString
      try {
        // batches read from parquet: their plans carry no values, so only
        // the write's own run_id, knowledge_time, change_time and
        // first_seen could differ from write to write
        val batches = (1 to 3).map { k =>
          val path = s"$dir/b$k"
          vts.zipWithIndex.map { case (vt, i) => (k.toLong, vt, i * k * 1.5) }
            .toDF("series_id", "valid_time", "value").write.parquet(path)
          spark.read.parquet(path)
        }
        db.write(batches(0), knowledgeTime = Some(ts("2024-03-01T00:00:00Z")))
        for ((b, k) <- batches.tail.zipWithIndex) {
          val compiles = compilesDuring {
            assert(db.write(b, knowledgeTime = Some(ts(s"2024-03-01T0${k + 1}:00:00Z"))) ==
              WriteResult(vts.length, 0)); ()
          }
          assert(compiles == 0, s"write ${k + 1} compiled $compiles classes")
        }
        assert(db.readRunSeries(2L).length == 1 && db.readRunSeries(3L).length == 1)
      } finally FsUtil.deleteRecursively(new java.io.File(dir))
    }
  }

  test("readRunSeries: the driver decode and the Spark plan give the same runs in the same order") {
    withDb { db =>
      val Seq(t0, t1, t2, t3) = (0 until 4).map(d => ts(f"2024-03-0${d + 1}T00:00:00Z"))
      def append(rows: (Long, Long, java.sql.Timestamp)*): Unit =
        db.store.appendRunSeries(rows.toDF("series_id", "run_id", "first_seen").coalesce(1))
      append((1L, 5L, t0))
      // one multi-run write: three runs share one first_seen
      append((1L, 12L, t1), (1L, 10L, t1), (1L, 11L, t1), (2L, 10L, t1))
      append((1L, 20L, t2), (2L, 20L, t2))
      // run 11 of series 1 delivered again, later: its latest first_seen wins
      append((1L, 11L, t3))
      val want = Map(1L -> Seq(11L, 20L, 10L, 12L, 5L), 2L -> Seq(20L, 10L), 9L -> Nil)
      for ((sid, runs) <- want) {
        val onDriver = db.planRunSeries(sid, onDriver = Some(true))
        val inSpark = db.planRunSeries(sid, onDriver = Some(false))
        assert(onDriver == runs, s"series $sid on the driver")
        assert(inSpark == runs, s"series $sid in Spark")
        assert(db.readRunSeries(sid) == runs)
      }
      assert(jobsDuring { db.planRunSeries(1L, onDriver = Some(true)); () } == 0)
      assert(jobsDuring { db.planRunSeries(1L, onDriver = Some(false)); () } > 0)
    }
  }

  test("one-task and distributed read plans: same rows in the same order, every form; only the distributed plan shuffles") {
    withDb { db =>
      writeReadPlanStore(db)
      for (f <- Seq(readPlanFilter, ReadFilter(Seq(1L, 2L, 3L)));
           (name, keys, shape, call) <- readForms(db, f)) {
        val oneTask = db.planRead(f, keys, oneTask = Some(true))(shape)
        val distributed = db.planRead(f, keys, oneTask = Some(false))(shape)
        // only the distributed plan shuffles, and it range-partitions
        val onePlan = oneTask.queryExecution.executedPlan.toString
        val distPlan = distributed.queryExecution.executedPlan.toString
        assert(!onePlan.contains("Exchange"), s"$name:\n$onePlan")
        assert(distPlan.contains("rangepartitioning"), s"$name:\n$distPlan")
        val one = oneTask.collect().toSeq
        val dist = distributed.collect().toSeq
        // Row equality treats null == null; the mask leaves no NaN
        assert(one.nonEmpty && one == dist, s"$name: one-task $one vs distributed $dist")
        assert(one.exists(_.isNullAt(one.head.fieldIndex("value"))), s"$name: no masked NaN")
        assert(call().collect().toSeq == one, s"$name: public read differs")
      }
    }
  }

  test("pruned scan: a one-tier, one-month read lists only that partition's files") {
    withDb { db =>
      writeReadPlanStore(db)
      val live = db.store.currentFiles()
      assert(live.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length == 4)
      val f = ReadFilter(Seq(3L), retention = Seq("short"),
        startValid = Some(ts("2024-04-01T00:00:00Z")), endValid = Some(ts("2024-04-02T00:00:00Z")))
      val (scan, bytes) = db.store.scanValuesPruned(f.retention, f.monthRange)
      val want = live.filter(_.startsWith("retention=short/valid_month=202404/"))
      val root = new org.apache.hadoop.fs.Path(db.store.valuesPath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(want.nonEmpty)
      assert(scan.inputFiles.map(_.split("/series_values/").last).sorted.toSeq == want.sorted)
      assert(bytes == want.map(r => fs.getFileStatus(new org.apache.hadoop.fs.Path(root, r)).getLen).sum)
      // an end exactly on the month boundary stays in the earlier month
      assert(ReadFilter(Seq(3L), endValid = Some(ts("2024-04-01T00:00:00Z"))).monthRange ==
        (None, Some("202403")))
      assert(db.store.scanValuesPruned(Seq("long"), (None, None)) match {
        case (empty, 0L) => empty.isEmpty
        case _ => false
      })
    }
  }

  test("write evaluates the caller's plan once, plain and skip-unchanged") {
    withDb { db =>
      val evals = spark.sparkContext.longAccumulator("upstream_evals")
      val tick = udf { (v: Double) => evals.add(1L); v }
      // spark.range, not a local relation: the optimizer would otherwise
      // fold the projection (and the UDF) into the relation on the driver.
      val n = 48L
      def batch = spark.range(0L, n, 1L, 3).select(
        (col("id") % 4).as("series_id"),
        timestamp_seconds(lit(vts.head.getTime / 1000) + expr("id div 4") * 3600)
          .as("valid_time"),
        tick(col("id").cast("double")).as("value"))
      assert(db.write(batch) == WriteResult(n, 0))
      assert(evals.value == n)
      assert(db.write(batch, skipUnchanged = true) == WriteResult(0, n))
      assert(evals.value == 2 * n)
    }
  }

  test("appended files are sorted by knowledge_time, then the sort key, whatever the input order") {
    withDb { db =>
      // Two months, several knowledge times, handed over in reverse key
      // order across several input partitions.
      val start = ts("2024-03-31T12:00:00Z").getTime / 1000
      val input = spark.range(0L, 3 * 24 * 4, 1L, 4).select(
        (col("id") % 3).as("series_id"),
        timestamp_seconds(lit(start) + expr("(id div 3) % 24") * 3600).as("valid_time"),
        timestamp_seconds(lit(start) - expr("id div 72") * 60).as("knowledge_time"),
        col("id").cast("double").as("value"))
        .orderBy(col("series_id").desc, col("valid_time").desc, col("knowledge_time").desc)
      // every live file's rows, read back in file order, are sorted by `order`
      def assertSorted(order: Seq[String]): Unit =
        for (f <- db.store.currentFiles()) {
          val keys = spark.read.parquet(s"${db.store.valuesPath}/$f")
            .select(order.map(c => if (c == "series_id") col(c) else unix_micros(col(c))): _*)
            .collect().map(r => order.indices.map(r.getLong)).toSeq
          import Ordering.Implicits.seqOrdering
          val inOrder = keys == keys.sorted
          assert(keys.length > 1 && inOrder, s"$f is not sorted by $order")
        }
      db.write(input)
      assert(db.store.currentFiles().map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length == 2)
      assertSorted(Seq("knowledge_time", "series_id", "valid_time", "change_time"))
      // compaction rewrites each partition to the full sort key
      db.write(input)
      db.write(input)
      assert(db.compact(maxFiles = 2).length == 2)
      assertSorted(Seq("series_id", "valid_time", "knowledge_time", "change_time"))
    }
  }

  test("null → NaN → null round trip; clean series stays non-null") {
    withDb { db =>
      val mixed = Seq((1L, vts(0), Option(1.0)), (1L, vts(1), Option.empty[Double]))
        .toDF("series_id", "valid_time", "value")
      db.write(mixed)
      val out = db.read(ReadFilter(Seq(1L))).orderBy("valid_time").collect()
      assert(out(0).getDouble(2) == 1.0 && out(1).isNullAt(2))
    }
  }

  test("readRelative daily shorthand matches explicit desugaring") {
    withDb { db =>
      db.write(revision(10), knowledgeTime = Some(ts("2024-02-29T09:00:00Z")))
      db.write(revision(100), knowledgeTime = Some(ts("2024-03-01T02:30:00Z")))
      val f = ReadFilter(Seq(1L), startValid = Some(ts("2024-03-01T00:00:00Z")))
      val daily = db.readRelativeDaily(f, daysAhead = 1, timeOfDay = LocalTime.of(10, 0))
        .as[(Long, java.sql.Timestamp, Double)].collect()
      // cutoff = prev-day 10:00 → only the kt=02-29T09:00 revision qualifies
      assert(daily.map(_._3).toSeq == (0 until 6).map(_ * 10.0))
      val explicit = db.readRelative(f, Duration.ofDays(1),
        Duration.ofHours(10).minus(Duration.ofDays(1)),
        startWindow = Some(ts("2024-02-29T00:00:00Z")))
        .as[(Long, java.sql.Timestamp, Double)].collect()
      assert(daily.toSeq == explicit.toSeq)
    }
  }

  test("run_series: runs listed newest first; collapse dedups re-writes") {
    withDb { db =>
      db.write(revision(1))
      Thread.sleep(5)
      db.write(revision(2))
      val runs = db.readRunSeries(1L)
      assert(runs.length == 2 && runs.head > runs(1)) // uuid7-style ids are time-ordered
      assert(db.readRunSeries(999L).isEmpty)
      // the runs of one multi-run write share one first_seen: they list
      // by ascending run_id, the same on every call, in no Spark job
      Thread.sleep(5)
      val batch = Seq(7L, 3L, 11L, 5L, 9L)
      db.write(batch.zipWithIndex.map { case (r, i) => (1L, vts(i), 1.0 * i, r) }
        .toDF("series_id", "valid_time", "value", "run_id"))
      for (_ <- 1 to 3) assert(db.readRunSeries(1L) == batch.sorted ++ runs)
      val jobs = jobsDuring { db.readRunSeries(1L); () }
      assert(jobs == 0, s"readRunSeries ran $jobs jobs")
    }
  }

  test("insert lanes: both attempted on failure, values-lane error re-raised") {
    // The reference's concurrency contract (timedb/write.py:126-130,
    // pinned by its tests/test_write_concurrency.py:90-95): a failing
    // values insert must not prevent the run_series lane from being
    // attempted, and the values-lane error wins. Sabotage the values
    // table by replacing its directory with a plain file.
    val base = java.nio.file.Files.createTempDirectory("timedb_lanes").toString
    val db = new TimeDb(spark, base)
    db.create()
    val valuesDir = new java.io.File(s"$base/series_values")
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(); ()
    }
    deleteRec(valuesDir)
    java.nio.file.Files.writeString(valuesDir.toPath, "not a directory")

    val err = intercept[Throwable] {
      db.write(Seq((1L, ts("2024-03-01T00:00:00Z"), 1.0)).toDF("series_id", "valid_time", "value"))
    }
    assert(err != null)
    // run_series lane was still attempted and committed its row
    assert(db.store.scanRunSeries().count() == 1)
    db.delete()
  }

  test("time travel: scanValuesAsOf reads the store as of a committed version") {
    withDb { db =>
      db.write(Seq((1L, ts("2024-03-01T00:00:00Z"), 1.0)).toDF("series_id", "valid_time", "value"))
      val afterFirst = db.store.versions().last
      db.write(Seq((2L, ts("2024-03-02T00:00:00Z"), 2.0)).toDF("series_id", "valid_time", "value"))
      // current scan sees both writes; the as-of scan sees only the first
      assert(db.store.scanValues().count() == 2)
      val asOf = db.store.scanValuesAsOf(afterFirst)
      assert(asOf.select("series_id").as[Long].collect().toSeq == Seq(1L))
      // versions are monotonically increasing, one per commit (create + writes)
      val vs = db.store.versions()
      assert(vs == vs.sorted && vs.distinct == vs)
      // read shapes compose with the as-of scan unchanged
      assert(graft.operators.ReadShapes.latest(asOf).count() == 1)
      // unknown versions fail loudly with the available range
      val e = intercept[IllegalArgumentException] {
        db.store.scanValuesAsOf(9999L)
      }
      assert(e.getMessage.contains("available"))
    }
  }

  test("incremental change feed: scanChangesBetween reads only the delta") {
    withDb { db =>
      db.write(Seq((1L, ts("2024-03-01T00:00:00Z"), 1.0)).toDF("series_id", "valid_time", "value"))
      val v1 = db.store.versions().last
      db.write(Seq((2L, ts("2024-03-02T00:00:00Z"), 2.0),
        (3L, ts("2024-03-03T00:00:00Z"), 3.0)).toDF("series_id", "valid_time", "value"))
      val v2 = db.store.versions().last
      // the delta is exactly the second write's rows
      assert(db.store.scanChangesBetween(v1, v2)
        .select("series_id").as[Long].collect().toSeq.sorted == Seq(2L, 3L))
      // an empty interval is an empty (not null, not failing) frame
      assert(db.store.scanChangesBetween(v2, v2).count() == 0)
      // full-history delta from the create-commit = the whole table
      assert(db.store.scanChangesBetween(db.store.versions().head, v2).count() == 3)
      // unknown cursor fails loudly with the available range
      val e = intercept[IllegalArgumentException] {
        db.store.scanChangesBetween(v1, 9999L)
      }
      assert(e.getMessage.contains("available"))
    }
  }

  test("change feed maintains an incremental aggregate equal to full recompute") {
    // The materialized-view contract a 100 TB table needs: a consumer
    // keeps (series_id, n, sum) current by folding ONLY each commit's
    // delta — never rescanning the table — and the maintained state
    // equals the full-recompute truth after every commit.
    withDb { db =>
      var state = Map.empty[Long, (Long, Double)]
      var cursor = db.store.versions().last
      def advance(): Unit = {
        val head = db.store.versions().last
        val delta = db.store.scanChangesBetween(cursor, head)
          .groupBy("series_id")
          .agg(count(lit(1)).as("n"), sum("value").as("s"))
          .as[(Long, Long, Double)].collect()
        delta.foreach { case (sid, n, s) =>
          val (pn, ps) = state.getOrElse(sid, (0L, 0.0))
          state = state.updated(sid, (pn + n, ps + s))
        }
        cursor = head
      }
      db.write(Seq((1L, ts("2024-03-01T00:00:00Z"), 1.0),
        (2L, ts("2024-03-01T01:00:00Z"), 2.0)).toDF("series_id", "valid_time", "value"))
      advance()
      db.write(Seq((1L, ts("2024-03-02T00:00:00Z"), 3.0)).toDF("series_id", "valid_time", "value"))
      advance()
      db.write(Seq((3L, ts("2024-03-03T00:00:00Z"), 5.0)).toDF("series_id", "valid_time", "value"))
      advance()
      val truth = db.store.scanValues()
        .groupBy("series_id").agg(count(lit(1)).as("n"), sum("value").as("s"))
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(state == truth, s"incremental $state vs recompute $truth")
    }
  }

  test("expireRetention drops only expired non-forever partitions") {
    withDb { db =>
      db.write(Seq((1L, ts("2020-01-15T00:00:00Z"), 1.0)).toDF("series_id", "valid_time", "value"),
        retention = Some("short"))
      db.write(Seq((2L, ts("2020-01-15T00:00:00Z"), 2.0)).toDF("series_id", "valid_time", "value"),
        retention = Some("forever"))
      db.write(Seq((3L, ts("2024-02-20T00:00:00Z"), 3.0)).toDF("series_id", "valid_time", "value"),
        retention = Some("short"))
      val dropped = db.expireRetention(Instant.parse("2024-03-01T00:00:00Z"))
      assert(dropped == Seq("retention=short/valid_month=202001"))
      assert(db.read(ReadFilter(Seq(1L))).count() == 0) // expired
      assert(db.read(ReadFilter(Seq(2L))).count() == 1) // forever survives
      assert(db.read(ReadFilter(Seq(3L))).count() == 1) // within TTL
    }
  }
}
