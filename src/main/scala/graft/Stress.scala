package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale stress drive: N synthetic rows (default 10M) through the real
  * write → store → read path. Generates distributed (spark.range — no
  * driver-side data), writes via the facade (stamping + partitioned
  * append + run_series lane), then times the read shapes over the
  * partitioned store. `sbt "runMain graft.Stress [rows]"`.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 10000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = java.nio.file.Files.createTempDirectory("timedb_stress").toString
    val db = new TimeDb(spark, base)
    db.create()

    def t(s: String) = Timestamp.from(Instant.parse(s))
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[stress] ${(System.nanoTime() - t0) / 1e9}%8.2f s  $name")
      r
    }

    val nSeries = 50000L
    val startUs = t("2024-01-01T00:00:00Z").getTime * 1000L
    // Decompose id = pointIdx * nSeries + series so each series gets
    // pointIdx = 0..(rows/nSeries − 1): two forecast issues (pointIdx/100)
    // × 100 distinct valid hours (pointIdx%100), spread over 2 retention
    // tiers; change_time stays globally unique (audit axis).
    val series = col("id") % nSeries
    val pointIdx = expr(s"id div $nSeries") // Column./ is double division
    val vtSlot = pointIdx % 100 // 100 valid times, 29 h apart ⇒ ~4 months
    val issue = expr(s"(id div $nSeries) div 100") // 0 = 6 h earlier issue, 1 = late
    val batch = spark.range(rows).select(
      series.as("series_id"),
      timestamp_micros(lit(startUs) + vtSlot * (29L * 3600000000L)).as("valid_time"),
      timestamp_micros(lit(startUs) + vtSlot * (29L * 3600000000L)
        - (lit(1) - issue) * 21600000000L).as("knowledge_time"),
      timestamp_micros(lit(startUs) + col("id") * 1000L).as("change_time"),
      (col("id") % 1000).cast("double").as("value"),
      when(series % 4 === 0, "short").otherwise("forever").as("retention"))

    Profiling.enable()
    val res = timed(s"write $rows rows (stamp + partitioned append + run_series)") {
      db.write(batch)
    }
    println(s"[stress] WriteResult: $res")
    Profiling.snapshot().toSeq.sortBy(-_._2._1).foreach { case (phase, (secs, n)) =>
      println(f"[stress]   phase $phase%-28s ${secs}%8.2f s  ($n calls)")
    }
    Profiling.disable(); Profiling.reset()

    val nParts = db.store.scanValues().inputFiles.length
    println(s"[stress] store files: $nParts")

    timed("latest read, 1k-series slice") {
      db.read(ReadFilter((0L until 1000L), retention = Seq("forever"))).count()
    }
    timed("latest read, all 50k series (full argmax)") {
      db.read(ReadFilter((0L until nSeries))).count()
    }
    timed("overlapping read, 1k-series slice") {
      db.read(ReadFilter((0L until 1000L)), includeKnowledgeTime = true).count()
    }
    timed("relative read, 1k-series slice") {
      db.readRelative(ReadFilter((0L until 1000L)),
        java.time.Duration.ofDays(1), java.time.Duration.ofHours(7),
        startWindow = Some(t("2024-01-01T00:00:00Z"))).count()
    }
    timed("time-ranged latest (partition-pruned month)") {
      db.read(ReadFilter((0L until nSeries),
        startValid = Some(t("2024-02-01T00:00:00Z")),
        endValid = Some(t("2024-03-01T00:00:00Z")))).count()
    }

    // Bucketed mirror: one build-time shuffle, then the same full argmax
    // with NO exchange. The apples-to-apples baseline is the identical
    // unfiltered argmax over the plain store (no facade filters), so the
    // delta is attributable to the exchange alone.
    timed("full argmax over plain store (same shape, with exchange)") {
      operators.ReadShapes.latest(db.store.scanValues().drop("valid_month")).count()
    }
    timed("build bucketed mirror (one-time shuffle)") {
      db.store.createBucketedMirror("stress_bucketed", nBuckets = cpus.toInt)
    }
    timed("full argmax read over bucketed mirror (no exchange)") {
      operators.ReadShapes.latest(db.store.scanBucketed("stress_bucketed")).count()
    }

    timed("build z-ordered mirror (64 files on (series_id, valid_time))") {
      db.store.createZOrderedMirror("stress_z", files = 64)
    }
    timed("z-mirror 2-D prune audit (footer-stat proxy)") {
      // files whose [min,max] footer range intersects a ~10% band on
      // EACH axis — the TimeDbSpec pin at 10 M rows. The native layout
      // (sorted series-then-time inside month partitions) cannot prune
      // the time axis below month granularity.
      val m = db.store.scanZOrdered("stress_z") // no checkpoint: input_file_name() must see the files
      def touched(c: String, lo: Any, hi: Any): Long =
        m.groupBy(org.apache.spark.sql.functions.input_file_name())
          .agg(min(c).as("lo"), max(c).as("hi"))
          .filter(col("hi") >= lit(lo) && col("lo") <= lit(hi)).count()
      val total = m.select(org.apache.spark.sql.functions.input_file_name())
        .distinct().count()
      val sBand = touched("series_id", 5000L, 10000L) // 10% of 50k, off-midline
      val tBand = touched("valid_time",
        new java.sql.Timestamp(startUs / 1000 + 8L * 24 * 3600 * 1000),
        new java.sql.Timestamp(startUs / 1000 + 11L * 24 * 3600 * 1000))
      println(s"[stress] z-mirror: series band touches $sBand/$total files, " +
        s"time band touches $tBand/$total")
    }

    // Maintenance under concurrent reads at scale: fragment one month
    // with small appends, then compact + vacuum while a reader loop
    // hammers the store — the snapshot-manifest guarantee (no partial
    // month, no vanished files) exercised on millions of rows, not just
    // the unit-spec's six.
    (1 to 6).foreach { i =>
      db.write(
        spark.range(10000).select(
          (col("id") % 100).as("series_id"),
          timestamp_micros(lit(startUs) + (col("id") % 100) * 3600000000L).as("valid_time"),
          (col("id") + i * 10000).cast("double").as("value")),
        retention = Some("short"))
    }
    val expected = db.store.scanValues().filter(col("retention") === "short").count()
    @volatile var stop = false
    val readerErrors = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread(() => {
      while (!stop) {
        try {
          if (db.store.scanValues().filter(col("retention") === "short").count() != expected)
            readerErrors.incrementAndGet()
        } catch { case _: Throwable => readerErrors.incrementAndGet() }
        ()
      }
    })
    reader.start()
    try {
      timed("compact fragmented month under concurrent reads") {
        db.compact(maxFiles = 4)
      }
      timed("vacuum superseded files (writer-thread, age 0)") {
        db.store.vacuum(minAgeMillis = 0L)
      }
    } finally { stop = true; reader.join() }
    println(s"[stress] concurrent-reader anomalies during maintenance: ${readerErrors.get()}"
      + (if (readerErrors.get() == 0) " (PASS)" else " (FAIL)"))

    db.delete()
    spark.stop()
    if (readerErrors.get() != 0) sys.exit(1)
  }
}
