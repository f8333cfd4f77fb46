package graft

import java.time.{Duration, Instant, LocalTime}

import org.apache.spark.sql.functions._

import graft.operators.{UnchangedScope, WriteResult}

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

  test("manifest snapshots: concurrent readers never see a partial month; vacuum reclaims") {
    withDb { db =>
      (1 to 6).foreach { i =>
        db.write(Seq((1L, ts(f"2024-03-01T0$i%01d:00:00Z"), i.toDouble))
          .toDF("series_id", "valid_time", "value"), retention = Some("short"))
      }
      val expectedRows = db.store.scanValues().count()
      val expectedSum = db.store.scanValues().agg(sum("value")).head().getDouble(0)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      @volatile var stop = false
      val reader = new Thread(() => {
        while (!stop) {
          try {
            val agg = db.store.scanValues().agg(count(lit(1)), sum("value")).head()
            if (agg.getLong(0) != expectedRows || agg.getDouble(1) != expectedSum)
              errors.add(s"partial snapshot: rows=${agg.getLong(0)} sum=${agg.getDouble(1)}")
          } catch { case t: Throwable => errors.add(t.toString) }
        }
      })
      reader.start()
      try {
        val compacted = db.store.compactPartitions(maxFiles = 2)
        assert(compacted.nonEmpty)
        Thread.sleep(300) // let the reader also observe the post-commit snapshot
      } finally { stop = true; reader.join() }
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
      try {
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
      } finally spark.sql("DROP TABLE IF EXISTS tdspec_bucketed")
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
      // rebuild commits a new version and keeps exactly one prior dir
      store.createZOrderedMirror("tdspec_z", files = 32)
      val root = new java.io.File(
        s"${db.store.valuesPath.stripSuffix("/series_values")}/zordered/tdspec_z")
      val dirs = root.listFiles().filter(_.isDirectory).map(_.getName).sorted
      assert(dirs.length == 2, s"keep-one grace: ${dirs.toSeq}")
      assert(store.scanZOrdered("tdspec_z").count() == plain.count())
      // crash-path resolution: with the pointer gone (crashed mid
      // pointer-commit), the reader falls back to the highest COMPLETE
      // version; a half-written orphan above it (no _SUCCESS) is never
      // resolved
      val n = plain.count()
      val current = new java.io.File(root, "_current")
      assert(current.delete(), "test setup: pointer must exist")
      val orphan = new java.io.File(root, "v99")
      assert(orphan.mkdir())
      assert(store.scanZOrdered("tdspec_z").count() == n,
        "pointer-less read must resolve the highest _SUCCESS-marked dir")
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
  private def jobsDuring(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      counter.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("write job counts: one pass before the lanes; skip-unchanged within budget") {
    withDb { db =>
      // Warm the store so both writes plan against existing files.
      db.write(revision(1), knowledgeTime = Some(ts("2024-03-01T00:00:00Z")))
      // One observed cache-filling pass, then a shuffle and a file write
      // per insert lane.
      val plain = jobsDuring {
        db.write(revision(2), knowledgeTime = Some(ts("2024-03-01T01:00:00Z"))); ()
      }
      assert(plain <= 5, s"plain write ran $plain jobs")
      val skip = jobsDuring {
        val r = db.write(revision(2).withColumn("value",
          when(col("valid_time") === vts.head, -1.0).otherwise(col("value"))),
          knowledgeTime = Some(ts("2024-03-01T02:00:00Z")), skipUnchanged = true)
        assert(r == WriteResult(1, 5)); ()
      }
      assert(skip <= 14, s"skip-unchanged write ran $skip jobs")
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
    // run_series lane was still attempted and landed its row
    assert(spark.read.parquet(s"$base/run_series").count() == 1)
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
