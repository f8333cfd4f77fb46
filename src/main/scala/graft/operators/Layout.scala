package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: z-order (Morton) clustering, the
  * lakehouse primitive (Delta OPTIMIZE ZORDER, Iceberg sort orders)
  * that makes min/max footer statistics selective on MORE THAN ONE
  * column at once.
  *
  * Why it matters at 100 TB: a scan with a predicate on column y over
  * files sorted by column x reads EVERY file — each file's y-range is
  * the full domain. Interleaving the bits of both dimensions' bucket
  * ids gives a 1-D sort key whose contiguous ranges are small
  * axis-aligned rectangles, so every file is tight in BOTH dimensions
  * and either predicate prunes ~√(selectivity) of the files from the
  * footer stats alone — no index structure, no extra storage, just
  * row order.
  *
  * Everything here is engine-portable arithmetic (fixed-width buckets
  * off the frame's own min/max, integer bit shuffles), so the full
  * address computation is oracle-replayable bit-for-bit.
  */
object Layout {

  /** Morton interleave of two bucket ids (each in [0, 2^bits)): bit i
    * of `bx` lands at position 2i, bit i of `by` at 2i+1 — the
    * [[graft.functions.MortonInterleave]] kernel (magic-number bit
    * spread, O(log bits) shifts per row; also SQL-registered as
    * `morton_interleave`). */
  def interleave(bx: Column, by: Column, bits: Int): Column =
    graft.functions.MortonInterleave(bx, by, bits)

  /** Fixed-width bucket of `v` into [0, 2^bits) between `lo` and `hi`
    * (inclusive domain edges; a degenerate hi == lo collapses to
    * bucket 0). The division is one shared IEEE double op on every
    * engine — the rel_histogram discipline. */
  private def bucket(v: Column, lo: Column, hi: Column, bits: Int): Column = {
    val n = (1L << bits).toDouble
    when(hi === lo, lit(0L)).otherwise(
      least(lit((1L << bits) - 1),
        floor((v - lo) / ((hi - lo) / lit(n))).cast("long")))
  }

  /** Annotate `df` with both bucket ids and the z-address. Bounds come
    * from the frame's own min/max — one tiny aggregate that rides in
    * as a lazy broadcast (no driver action), exactly the lmScores
    * vocab-frame shape. Numeric inputs are cast to double first so
    * decimal/int/timestamp-derived dimensions share one bucket rule. */
  def zAddress(df: DataFrame, xCol: String, yCol: String,
      bits: Int = 12): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val bounds = df.agg(
      min(x).as("__xlo"), max(x).as("__xhi"),
      min(y).as("__ylo"), max(y).as("__yhi"))
    df.crossJoin(broadcast(bounds))
      .withColumn("zx", bucket(x, col("__xlo"), col("__xhi"), bits))
      .withColumn("zy", bucket(y, col("__ylo"), col("__yhi"), bits))
      .withColumn("zaddr", interleave(col("zx"), col("zy"), bits))
      .drop("__xlo", "__xhi", "__ylo", "__yhi")
  }

  /** Write `df` clustered by z-address into ~`files` files: range
    * partition on the address (contiguous z-ranges = axis-aligned
    * tiles), sort within each partition so row groups inherit the
    * locality too. The write-side twin of the footer-stats pruning a
    * reader gets for free. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      files: Int, bits: Int = 12): Unit =
    zOrdered(df, xCol, yCol, files, bits).write.mode("overwrite").parquet(path)

  /** The frame [[writeZOrdered]] writes: `df`'s rows in `files`
    * z-address-range partitions, each sorted by the address, with the
    * address columns dropped again — for writers that bring their own
    * sink (a manifest table stages it). */
  def zOrdered(df: DataFrame, xCol: String, yCol: String,
      files: Int, bits: Int = 12): DataFrame =
    zAddress(df, xCol, yCol, bits)
      .repartitionByRange(files, col("zaddr"))
      .sortWithinPartitions("zaddr")
      .drop("zx", "zy", "zaddr")

  /** Default re-chunk policy for [[rechunkMirror]]: fact-sized tables
    * (≥ 50k rows) split into ~8k-row chunks capped at 32; smaller
    * tables are copied byte-identical (splitting a dimension table
    * buys nothing and costs per-file listing/open overhead). Callers
    * with per-row-expensive columns (text kernels, embeddings)
    * override per table. */
  def defaultChunkPolicy(table: String, rows: Long): Int =
    defaultChunkPolicy(table, rows, cap = 32L)

  /** The same rule with a caller-chosen file cap — Bench's fact-table
    * policy tunes only the cap, so the 50k threshold and 8192-row
    * divisor live in exactly one place. */
  def defaultChunkPolicy(table: String, rows: Long, cap: Long): Int =
    if (rows >= 50000) math.min(cap, rows / 8192).toInt else 1

  /** Ingest-layout mirror: rewrite every `<table>.parquet` under
    * `srcDir` into `dstDir` with `partsFor(table, rows)` row groups,
    * preserving row order (stable id → range partition → sort). Tables
    * the policy leaves at 1 part are copied byte-for-byte.
    *
    * Why this exists: Spark's scan parallelism bottoms out at ROW
    * GROUP granularity — `maxPartitionBytes` can cut a file into
    * splits, but only the split holding a row group's start reads any
    * rows, so a single-row-group file serializes its whole
    * scan→join→agg pipeline onto one task no matter how many cores
    * the session has. Real deployments never see that layout (TB-scale
    * tables arrive as thousands of files × row groups, and this
    * engine's own store — SeriesStore, like the reference's ClickHouse
    * MergeTree ingest, timedb/db.py:60-84 — re-lays data out on
    * write), but flat single-file parquet drops straight into the
    * degenerate case. Re-chunking once at ingest is the layout every
    * scan after it inherits.
    *
    * Order preservation matters so time-clustered sources keep their
    * min/max footer locality (the same property writeZOrdered buys in
    * 2-D). The stable order key is `(file ordinal by NAME,
    * monotonically_increasing_id)`: Spark's scan bin-packs splits by
    * SIZE, not name, so the bare id alone would interleave whole files
    * of a multi-file source in arbitrary order. With the file ordinal
    * leading, order is exact whenever each source file maps to one
    * scan split (single-row-group files — both the driver testdata and
    * this method's own output); a many-row-group file that splits
    * across partitions keeps file-level order with chunk-level
    * approximation inside it. */
  def rechunkMirror(spark: org.apache.spark.sql.SparkSession, srcDir: String,
      dstDir: String,
      partsFor: (String, Long) => Int = defaultChunkPolicy): Unit = {
    // ns-timestamp sources (the events table) read as raw longs — the
    // mirror then stores plain int64 and readers apply the same
    // ns→µs truncation they apply to the source (Tables.events).
    // Session conf is RESTORED on exit: a layout operator must not
    // silently change how the caller's later ns-parquet reads behave.
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val nanosBefore = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, "true")
    try {
    val tables = Option(new java.io.File(srcDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    // Columns read ns-as-long lose their timestamp annotation in the
    // mirror (Spark writes them back as plain INT64), so downstream
    // consumers — the DuckDB anchor's view builder — cannot recover the
    // type from the mirror alone. Record table → [ns columns] in a
    // sidecar so the normalization is TYPE-driven, not guessed from a
    // column being named "ts".
    val nsAsLong = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    tables.foreach { f =>
      val table = f.getName.stripSuffix(".parquet")
      nsTimestampColumns(spark, f).foreach(cols => nsAsLong(table) = cols)
      val src = spark.read.parquet(f.getPath)
      val parts = partsFor(table, src.count())
      val outDir = new java.io.File(dstDir, f.getName)
      if (parts <= 1) {
        outDir.mkdirs()
        val dst = new java.io.File(outDir, "part-00000.parquet").toPath
        if (f.isDirectory) {
          // copy each data file of an already-multi-file table — in
          // NAME order (listFiles order is OS-arbitrary; readers list
          // by name, so a scrambled rename would reorder rows and
          // break this method's order-preservation contract)
          f.listFiles().filter(_.getName.endsWith(".parquet"))
            .sortBy(_.getName).zipWithIndex
            .foreach { case (p, i) =>
              java.nio.file.Files.copy(p.toPath,
                new java.io.File(outDir, f"part-$i%05d.parquet").toPath,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            }
        } else {
          java.nio.file.Files.copy(f.toPath, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        ()
      } else {
        // file ordinal by NAME from the scan's OWN file list
        // (src.inputFiles — full URIs exactly as input_file_name()
        // reports them, nested dirs included), as ONE literal-map
        // lookup per row: a when-chain over N files would cost O(N)
        // per row and blow past codegen's method-size limit on
        // many-file sources. Unmatched paths map to -1; the guard
        // below fails LOUDLY instead of writing a silently misordered
        // mirror (the zMirrorBaseVersion discipline).
        val inputs = src.inputFiles.sorted
        val ordinal: Map[String, Long] =
          inputs.zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap
        val ordCol =
          if (inputs.length <= 1) lit(0L)
          else coalesce(
            element_at(typedLit(ordinal), input_file_name()), lit(-1L))
        val keyed = src.withColumn("__ford", ordCol)
          .withColumn("__rid", monotonically_increasing_id())
        if (inputs.length > 1)
          require(keyed.filter(col("__ford") < 0).isEmpty,
            s"rechunkMirror($table): a scanned row's input_file_name() is " +
              "missing from the scan's inputFiles — cannot preserve order")
        // two-column order key (no bit packing — a partition index
        // rides the high bits of monotonically_increasing_id and
        // would collide with any fixed shift on wide scans)
        keyed
          .repartitionByRange(parts, col("__ford"), col("__rid"))
          .sortWithinPartitions("__ford", "__rid")
          .drop("__ford", "__rid")
          .write.mode("overwrite").parquet(outDir.getPath)
      }
    }
    // Written UNCONDITIONALLY (an empty {} when no source has ns
    // columns): a re-run into an existing mirror dir after the
    // source's ns columns were dropped must not leave a stale sidecar
    // directing consumers to timestamp-convert now-plain int64.
    val sidecarBody = nsAsLong.map { case (t, cols) =>
      graft.JsonUtil.quote(t) + ": [" +
        cols.map(graft.JsonUtil.quote).mkString(", ") + "]"
    }.mkString("{", ", ", "}")
    new java.io.File(dstDir).mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dstDir, "_ns_as_long.json").toPath,
      sidecarBody.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally {
      nanosBefore match {
        case Some(v) => spark.conf.set(nanosKey, v)
        case None => spark.conf.unset(nanosKey)
      }
    }
  }

  /** Driver-side parquet footer read with the open/close and
    * swallow-and-fallback discipline in ONE place (the sidecar writer
    * below and nbClassify's effective-parallelism gate both need a
    * footer fact; two open-read-close copies would drift). None on any
    * read failure — every caller has a safe fallback. */
  private[graft] def withParquetFooter[A](
      spark: org.apache.spark.sql.SparkSession, path: String)(
      f: org.apache.parquet.hadoop.metadata.ParquetMetadata => A): Option[A] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Some(f(reader.getFooter)) finally reader.close()
    } catch { case _: Throwable => None }

  /** Top-level column names annotated TIMESTAMP(NANOS) in a parquet
    * source's footer (one footer read of the first data file — schemas
    * are uniform within a table). None when the source has none. */
  private def nsTimestampColumns(spark: org.apache.spark.sql.SparkSession,
      src: java.io.File): Option[Seq[String]] = {
    val dataFile =
      if (src.isDirectory)
        src.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .headOption
      else Some(src)
    dataFile.flatMap { df =>
      withParquetFooter(spark, df.getPath) { footer =>
        import org.apache.parquet.schema.LogicalTypeAnnotation
        import scala.jdk.CollectionConverters._
        footer.getFileMetaData.getSchema.getFields.asScala
          .collect {
            case f if f.isPrimitive &&
              (f.getLogicalTypeAnnotation match {
                case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
                case _ => false
              }) => f.getName
          }.toSeq
      }.filter(_.nonEmpty)
    }
  }
}
