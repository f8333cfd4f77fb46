package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Physical storage for the two tables, on any Hadoop-compatible
  * filesystem (local dir here; HDFS/S3 on a cluster — all paths go
  * through the Hadoop `FileSystem` API, never `java.io.File`).
  *
  * Layout mirrors the reference's MergeTree physical design
  * (timedb/sql/ch_create_tables.sql:41-42):
  *
  *  - partition dirs `retention=<tier>/valid_month=<yyyyMM>/` — the Spark
  *    analog of `PARTITION BY (retention, toYYYYMM(valid_time))`:
  *    retention-filtered reads prune to one tier, TTL expiry drops whole
  *    directories, and valid_time range predicates prune months.
  *  - rows sorted within each compacted file by
  *    (series_id, valid_time, knowledge_time, change_time) — the analog of
  *    the MergeTree sort key: Parquet row-group min/max stats on
  *    series_id/valid_time let the reader skip row groups, and ZSTD +
  *    dictionary/RLE encodings replace the per-column codecs. An
  *    appended file is sorted by knowledge_time first, then by that key
  *    (see [[appendValues]]).
  *
  * ==Snapshot manifests==
  *
  * `series_values` visibility is gated by a tiny versioned manifest
  * (`_manifests/v<NNNNNNNN>.list`, one relative data-file path per line)
  * — the same commit discipline as a table-format log (Delta/Iceberg),
  * scaled down to what this store needs. Every mutation follows
  * write-ahead ordering:
  *
  *   1. new data files are written under `_staging/<uuid>/` and MOVED
  *      (per-file rename) into their partition directory — invisible to
  *      readers, who only read manifest-listed files;
  *   2. the next manifest version is written to a dot-temp file and
  *      RENAMED into place — the single atomic commit point;
  *   3. superseded files are NOT deleted at commit: in-flight readers
  *      planned against an older manifest keep reading them. [[vacuum]]
  *      reclaims files unreferenced by the retained manifest tail.
  *
  * A crash at any step leaves either the old manifest (uncommitted data
  * files are invisible garbage for [[vacuum]]) or the new one (complete).
  * Readers therefore never observe a partially-compacted or half-expired
  * month — the non-transactional rename-swap window of the previous
  * design is gone. Writers are single-writer-per-table (the reference's
  * deployment shape); the rename-commit fails on a version collision on
  * filesystems with atomic no-overwrite rename (HDFS), which is the
  * cheap guard — multi-writer deployments need a real lock/CAS service.
  *
  * `run_series` stays a plain append-only parquet directory: it is never
  * rewritten, so directory listing is already safe for it.
  */
final class SeriesStore(spark: SparkSession, basePath: String) {

  val valuesPath = s"$basePath/series_values"
  val runSeriesPath = s"$basePath/run_series"

  private def fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def valuesRoot = fs.makeQualified(new Path(valuesPath))
  private def manifestsDir = new Path(valuesRoot, "_manifests")
  private def stagingRoot = new Path(valuesRoot, "_staging")

  /** Columns physically present in the data files: everything except the
    * two partition columns (`retention` lives in the dir name;
    * `valid_month` likewise). */
  private val dataFileSchema: StructType =
    StructType(Schema.seriesValues.filterNot(_.name == "retention"))

  /** Row order of a compacted file: the MergeTree sort key analog. */
  private val SortKey = Seq("series_id", "valid_time", "knowledge_time", "change_time")
  /** Row order of an appended file (see [[appendValues]]). */
  private val AppendOrder = Seq("knowledge_time", "series_id", "valid_time", "change_time")

  private val ManifestName = raw"v(\d{8})\.list".r

  private def manifestVersions(): Seq[(Long, Path)] = {
    if (!fs.exists(manifestsDir)) return Seq.empty
    fs.listStatus(manifestsDir).toSeq.collect {
      case st if st.isFile =>
        st.getPath.getName match {
          case ManifestName(v) => Some(v.toLong -> st.getPath)
          case _ => None
        }
    }.flatten.sortBy(_._1)
  }

  private def readManifest(p: Path): Seq[String] = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    } finally in.close()
  }

  /** Relative paths of the data files in the CURRENT snapshot. */
  def currentFiles(): Seq[String] =
    manifestVersions().lastOption.map { case (_, p) => readManifest(p) }.getOrElse(Seq.empty)

  /** The atomic commit point: write the full file list as the next
    * manifest version (dot-temp + rename). */
  private def commitManifest(files: Seq[String]): Long = {
    fs.mkdirs(manifestsDir)
    val next = manifestVersions().lastOption.map(_._1 + 1L).getOrElse(1L)
    val tmp = new Path(manifestsDir, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(files.sorted.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val target = new Path(manifestsDir, f"v$next%08d.list")
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"manifest commit collision at $target — concurrent writer on single-writer table")
    }
    next
  }

  private def newStagingDir(): Path =
    new Path(stagingRoot, java.util.UUID.randomUUID().toString)

  /** Recursively list real data files (skips `_SUCCESS`, dot-temps). */
  private def dataFiles(dir: Path): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (f.isFile && !n.startsWith(".") && !n.startsWith("_")) out += f
    }
    out.result()
  }

  /** Move every staged data file into its partition directory and return
    * the relative paths. The moves land BEFORE the manifest commit, so
    * readers cannot see them early. Each moved file's mtime is bumped to
    * promote time — rename preserves the WRITE-time mtime, and
    * [[vacuum]]'s age guard must measure from the commit window, not
    * from when a long write job happened to finish the file. */
  private def promoteStaged(staging: Path): Seq[String] = {
    val qStaging = fs.makeQualified(staging)
    dataFiles(qStaging).map { f =>
      val rel = f.getPath.toString.stripPrefix(qStaging.toString + "/")
      val dst = new Path(valuesRoot, rel)
      fs.mkdirs(dst.getParent)
      if (!fs.rename(f.getPath, dst))
        throw new IllegalStateException(s"failed to move staged file to $dst")
      fs.setTimes(dst, System.currentTimeMillis(), -1)
      rel
    }
  }

  /** Idempotent create (timedb/client.py:106-118): an empty snapshot for
    * series_values, an empty (schema-bearing) parquet dir for
    * run_series, so reads before any data arrives see the right
    * schemas. */
  def create(): Unit = {
    if (manifestVersions().isEmpty) commitManifest(Seq.empty)
    if (!fs.exists(new Path(runSeriesPath))) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schema.runSeries)
      empty.write.mode(SaveMode.Append).parquet(runSeriesPath)
    }
  }

  /** Drop both tables (timedb/client.py:119-120). */
  def delete(): Unit = {
    fs.delete(new Path(valuesPath), true)
    fs.delete(new Path(runSeriesPath), true)
    ()
  }

  /** Append a stamped batch to series_values: stage → move → one
    * manifest commit (see class doc).
    *
    * `repartition(retention, valid_month)` routes each physical partition's
    * rows to one task (no small-file explosion when a batch spans many
    * months), and `sortWithinPartitions` orders each file by
    * (knowledge_time, series_id, valid_time, change_time) for row-group
    * skipping. The sort leads with the two partition columns: the planned
    * write requires that ordering, and replaces a sort that does not
    * satisfy it by a `Sort[retention, valid_month]` alone, which leaves
    * each file in arrival order.
    *
    * knowledge_time leads because a batch is usually one run (one
    * knowledge_time), where the order is the sort key's (series_id,
    * valid_time), while a multi-run backfill keeps each run contiguous:
    * its knowledge_time and run_id columns then stay in long runs. For a
    * 118-run batch of 50 series × 48 h the full sort key instead stores
    * 34 % more bytes. Compaction rewrites to the full sort key.
    *
    * Parallel-split/concurrent-lane machinery from
    * the reference (timedb/write.py:81-158) is N/A: Spark writes are
    * already task-parallel.
    */
  def appendValues(stamped: DataFrame): Unit = {
    val staging = newStagingDir()
    stamped
      .withColumn("valid_month", Schema.monthOf(col("valid_time")))
      .repartition(col("retention"), col("valid_month"))
      .sortWithinPartitions((Schema.partitionColumns ++ AppendOrder).map(col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy(Schema.partitionColumns: _*)
      .option("compression", "zstd")
      .parquet(staging.toString)
    try {
      val added = promoteStaged(staging)
      if (added.nonEmpty) commitManifest(currentFiles() ++ added)
    } finally {
      fs.delete(staging, true)
      ()
    }
  }

  def appendRunSeries(rs: DataFrame): Unit =
    rs.write.mode(SaveMode.Append).option("compression", "zstd").parquet(runSeriesPath)

  /** Scan series_values — the CURRENT snapshot's files, with `retention`
    * and `valid_month` recovered from the partition paths (`basePath`
    * keeps Catalyst's partition pruning on both). `valid_month` stays
    * available for manual pruning; readers project it away. */
  def scanValues(): DataFrame =
    scanFileList(currentFiles())

  /** Committed manifest versions, oldest first — the time-travel axis.
    * Every committed write is one version; [[vacuum]] bounds how far
    * back the files themselves survive. */
  def versions(): Seq[Long] = manifestVersions().map(_._1)

  /** Snapshot read AS OF a committed manifest version — time travel
    * over the store's own commit log: the scan plans against exactly
    * the files that manifest listed, so the result is the table as a
    * reader saw it right after that commit, regardless of every later
    * append/compaction/TTL drop. Free by construction (manifests are
    * already immutable versioned file lists); valid as long as
    * [[vacuum]]'s retained-manifest grace window still covers the
    * version. Unknown versions fail loudly with the available range —
    * a silent empty read would look like data loss. */
  def scanValuesAsOf(version: Long): DataFrame = {
    val all = manifestVersions()
    all.find(_._1 == version) match {
      case Some((_, p)) => scanFileList(readManifest(p))
      case None => throw new IllegalArgumentException(
        s"no manifest version $version at $valuesPath — available: " +
          (if (all.isEmpty) "none" else s"${all.head._1}..${all.last._1}"))
    }
  }

  /** Incremental consumption over the commit log: the rows of every
    * file ADDED between two committed versions — the reader side of a
    * Delta/Iceberg-style change feed, free by construction because the
    * manifests already are immutable file lists. A downstream consumer
    * (index maintenance, a streaming mirror, the near-dup epoch index)
    * polls `versions().last`, reads the delta, and advances its cursor:
    * cost is proportional to NEW data, never to table size — the only
    * shape that survives a 100 TB table on a minutes-cadence.
    *
    * File-diff semantics (the append-only contract): a compaction
    * rewrite lists rewritten files as added, so its rows RE-SURFACE in
    * the delta; consumers that must not double-apply pair this with the
    * skip-unchanged digest discipline or cursor past compaction
    * commits. TTL/vacuum drops never re-surface anything (removals are
    * not scanned). Both versions must be committed manifests — unknown
    * versions fail loudly like [[scanValuesAsOf]]. */
  def scanChangesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val all = manifestVersions()
    def filesAt(v: Long): Seq[String] = all.find(_._1 == v) match {
      case Some((_, p)) => readManifest(p)
      case None => throw new IllegalArgumentException(
        s"no manifest version $v at $valuesPath — available: " +
          (if (all.isEmpty) "none" else s"${all.head._1}..${all.last._1}"))
    }
    val from = filesAt(fromVersion).toSet
    scanFileList(filesAt(toVersion).filterNot(from))
  }

  private def scanFileList(files: Seq[String]): DataFrame = {
    val schema = Schema.seriesValues.add("valid_month", StringType)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema)
        .option("basePath", valuesRoot.toString)
        .parquet(files.map(f => s"$valuesRoot/$f"): _*)
  }

  /** Bucketed mirror of series_values for SHUFFLE-FREE series-keyed
    * reads. Spark's bucketed tables expose `HashPartitioning(series_id,
    * n)` to the planner, so every groupBy/window/join clustered on
    * series_id — the latest-read argmax, the change-collapse windows, an
    * equi-join between two mirrors with equal bucket counts — plans
    * with NO exchange: the data is read already laid out for the
    * operation. (The union-based as-of join still shuffles: a union
    * does not preserve its inputs' bucketing.) At 100 TB that converts every repeated read shape from a
    * full-data shuffle into a plain scan; the one-time build cost is a
    * single shuffle. Files are also sorted by (series_id, valid_time),
    * so per-key windows need only a cheap partial sort.
    *
    * The mirror is an EXTERNAL table (data under basePath, metadata in
    * whatever catalog the session has — in-memory works). Each rebuild
    * writes a fresh versioned directory (`bucketed/<name>/v<millis>`)
    * and re-points the catalog entry only after the write completes, so
    * a reader holding the previous mirror's plan keeps its files; prior
    * version dirs are dropped on the NEXT rebuild (keep-one grace),
    * mirroring the manifest vacuum discipline. Rebuild after appends,
    * like any materialized layout. */
  def createBucketedMirror(tableName: String, nBuckets: Int): Unit =
    createBucketedMirrorOf(scanValues().drop("valid_month"), tableName, nBuckets,
      sortCols = Seq("series_id", "valid_time"))

  /** [[createBucketedMirror]] for an ARBITRARY series-keyed frame —
    * derived tables (per-series aggregates, rollups, feature frames)
    * get the same shuffle-free keyed-join layout as the values table.
    * Two mirrors written with EQUAL bucket counts equi-join on
    * `series_id` with zero exchanges (the reference's sort-key
    * co-location, ch_create_tables.sql:42, generalized to any table
    * that shares the key). Same versioned-dir + catalog-swap
    * maintenance as the values mirror. */
  def createBucketedMirrorOf(frame: org.apache.spark.sql.DataFrame,
      tableName: String, nBuckets: Int,
      sortCols: Seq[String]): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(tableName.matches("[A-Za-z0-9_]+"), s"unsafe table name: $tableName")
    require(frame.columns.contains("series_id"),
      s"bucketed mirror $tableName: frame must carry series_id (the bucket key)")
    val tableRoot = new Path(s"$basePath/bucketed/$tableName")
    val versions =
      if (fs.exists(tableRoot))
        fs.listStatus(tableRoot).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName).filter(_.startsWith("v"))
          .flatMap(n => scala.util.Try(n.stripPrefix("v").toLong).toOption)
      else Seq.empty
    val next = (versions.sorted.lastOption.getOrElse(0L)) + 1L
    val path = new Path(tableRoot, s"v$next")
    // The version dir the OUTGOING public table reads from — that is the
    // one in-flight readers may still be scanning, and NOT necessarily
    // the highest version on disk (a crashed rebuild leaves an orphan
    // dir above it). The version parses from the path segment DIRECTLY
    // under tableRoot — an unanchored /v<digits>/ search could match a
    // version-like segment of basePath or the table name itself.
    val qRoot = fs.makeQualified(tableRoot).toString + "/"
    val prevLive: Option[Long] =
      if (spark.catalog.tableExists(tableName))
        spark.table(tableName).inputFiles.headOption
          .filter(_.startsWith(qRoot))
          .flatMap { f =>
            "^v(\\d+)/".r.findFirstMatchIn(f.stripPrefix(qRoot)).map(_.group(1).toLong)
          }
      else None
    frame
      .write
      .format("parquet")
      .mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .option("path", path.toString)
      .bucketBy(nBuckets, "series_id")
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(s"${tableName}__v$next")
    // Swap the public name to the new version. DROP + RENAME is two
    // catalog calls, so a crash between them leaves no base-name table —
    // scanBucketed recovers by resolving the highest __vN entry, which
    // this write just created, so the mirror stays readable through any
    // crash point. Stale versioned entries and dirs older than the one
    // just superseded are then dropped (keep-one grace window).
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    spark.sql(s"ALTER TABLE ${tableName}__v$next RENAME TO $tableName")
    versionedTables(tableName).filter(_._1 < next).foreach { case (_, t) =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    // keep-one grace: retain the previously-live dir; crashed-rebuild
    // orphans and older superseded dirs go. With no resolvable live
    // version (crashed rebuild: readers were on the scanBucketed
    // highest-version fallback), retain the highest old dir instead of
    // deleting the one those readers are mid-scan on.
    val keepV = prevLive.orElse(versions.sorted.lastOption)
    versions.filter(v => !keepV.contains(v)).foreach { v =>
      fs.delete(new Path(tableRoot, s"v$v"), true)
    }
  }

  /** Z-ordered mirror of series_values, clustered on `(series_id,
    * valid_time)` via [[graft.operators.Layout.writeZOrdered]] — the
    * lakehouse layout (Delta OPTIMIZE ZORDER / Iceberg sort order)
    * that makes parquet footer min/max stats selective on BOTH the
    * series and the time axis at once: a band predicate on either
    * dimension prunes ~√selectivity of the files, where the store's
    * native (series_id, valid_time)-sorted files prune on series only.
    * The complement to [[createBucketedMirror]]: buckets buy
    * shuffle-free keyed plans, z-order buys 2-D scan pruning.
    *
    * Same maintenance discipline as the bucketed mirror: each rebuild
    * writes a fresh versioned dir (`zordered/<name>/v<N>`) and commits
    * by dot-temp + rename of a `_current` pointer file — readers
    * holding the previous version's plan keep their files; dirs older
    * than the previously-live version are dropped (keep-one grace).
    * A crash before the pointer commit leaves an orphan dir that
    * [[scanZOrdered]] never resolves and the next rebuild removes. */
  def createZOrderedMirror(name: String, files: Int, bits: Int = 12,
      asOfVersion: Option[Long] = None): Unit = {
    require(files > 0, "files must be positive")
    require(name.matches("[A-Za-z0-9_]+"), s"unsafe mirror name: $name")
    val root = new Path(s"$basePath/zordered/$name")
    val existing: Seq[Long] =
      if (fs.exists(root))
        fs.listStatus(root).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName)
          .flatMap(n => scala.util.Try(n.stripPrefix("v").toLong).toOption)
      else Seq.empty
    val prevLive = zCurrentVersion(root)
    val next = existing.sorted.lastOption.getOrElse(0L) + 1L
    // The mirror records which STORE version it reflects (default: the
    // current head) — the cursor [[scanZOrderedWithTail]] resumes the
    // change feed from, the same contract as any downstream index.
    // The scan goes through scanValuesAsOf(baseVersion) even in the
    // default case: resolving "head" once and reading THAT manifest is
    // atomic, where a separate scanValues() could list a newer commit
    // that landed in between — the marker would then understate the
    // mirror's content and the tail read would duplicate those rows.
    val baseVersion = asOfVersion.getOrElse(versions().last)
    val baseScan = scanValuesAsOf(baseVersion)
    graft.operators.Layout.writeZOrdered(
      baseScan.drop("valid_month"),
      new Path(root, s"v$next").toString,
      xCol = "series_id", yCol = "valid_time", files = files, bits = bits)
    // store-version marker INSIDE the versioned dir: it travels with
    // the dir through the pointer commit and the keep-one grace drop
    val verOut = fs.create(new Path(new Path(root, s"v$next"), "_STORE_VERSION"), true)
    try verOut.write(baseVersion.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally verOut.close()
    // pointer commit: dot-temp + rename INTO the versioned name space
    // is not enough here (the target exists across rebuilds), so write
    // temp, delete, rename — scanZOrdered's highest-version fallback
    // covers the window between delete and rename.
    val cur = new Path(root, "_current")
    val tmp = new Path(root, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(cur)) fs.delete(cur, false)
    if (!fs.rename(tmp, cur))
      throw new IllegalStateException(s"failed to commit z-mirror pointer $cur")
    // keep-one grace: the previously-live dir survives one cycle for
    // in-flight readers; crashed-rebuild orphans and older dirs go.
    existing.filter(v => v != next && !prevLive.contains(v)).foreach { v =>
      fs.delete(new Path(root, s"v$v"), true)
    }
  }

  private def zCurrentVersion(root: Path): Option[Long] = {
    val cur = new Path(root, "_current")
    // open, don't exists-then-open: a rebuild's delete→rename pointer
    // commit can race between the two calls, and a reader landing in
    // that window must take the highest-_SUCCESS fallback, not throw.
    val in = try fs.open(cur) catch {
      case _: java.io.FileNotFoundException => return None
    }
    try scala.util.Try(slurp(in).trim.toLong).toOption
    finally in.close()
  }

  // shared byte-slurp for the small marker/pointer files (three call
  // sites — pointer, store-version marker, and Try-wrapped variants)
  private def slurp(in: java.io.InputStream): String = {
    val bytes = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64)
    var n = in.read(buf)
    while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
    new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The z-ordered mirror as a DataFrame. Resolves the `_current`
    * pointer; when the pointer is missing or mid-commit, falls back to
    * the highest version dir whose write COMPLETED (`_SUCCESS` marker)
    * — an unpointed dir without the marker may be half-written and is
    * never resolved. */
  def scanZOrdered(name: String): DataFrame =
    spark.read.parquet(zResolvedDir(name).toString)

  private def zResolvedDir(name: String): Path = {
    val root = new Path(s"$basePath/zordered/$name")
    zCurrentVersion(root).map(v => new Path(root, s"v$v")).filter(fs.exists(_))
      .orElse {
        if (!fs.exists(root)) None
        else fs.listStatus(root).toSeq.filter(_.isDirectory)
          .map(_.getPath)
          .filter(p => fs.exists(new Path(p, "_SUCCESS")))
          .flatMap(p => scala.util.Try(
            p.getName.stripPrefix("v").toLong).toOption.map(_ -> p))
          .sortBy(_._1).lastOption.map(_._2)
      }
      .getOrElse(throw new IllegalArgumentException(
        s"no z-ordered mirror '$name' at $root — run createZOrderedMirror first"))
  }

  /** The store version the live mirror reflects (`_STORE_VERSION`
    * marker written at build). Mirrors built before the marker existed
    * fail loudly — a silent guess would corrupt the tail read. */
  def zMirrorBaseVersion(name: String): Long = {
    val marker = new Path(zResolvedDir(name), "_STORE_VERSION")
    val in = try fs.open(marker) catch {
      case _: java.io.FileNotFoundException =>
        throw new IllegalStateException(
          s"z-mirror '$name' carries no _STORE_VERSION marker — rebuild it " +
            "(createZOrderedMirror) before tail reads")
    }
    try slurp(in).trim.toLong
    finally in.close()
  }

  /** MERGE-ON-READ over the z-mirror: the clustered mirror files plus
    * the commit-log change feed since the mirror's recorded base
    * version — the current table without a rebuild, the lakehouse
    * base-plus-delta serving pattern (and the reference's ClickHouse
    * parts-plus-unmerged-inserts read model). Periodic
    * [[createZOrderedMirror]] rebuilds play the compaction role:
    * between rebuilds every read costs (clustered scan) + (delta
    * proportional to NEW data since the base).
    *
    * Exactness guard: the file-diff change feed re-surfaces rows when
    * a commit REWRITES files (compaction), which would double them
    * under this union — so if any base-version file is no longer in
    * the current manifest, the read fails loudly asking for a rebuild
    * instead of serving duplicates. TTL/vacuum that DROPPED base files
    * trips the same guard; both are exactly the moments a mirror is
    * stale. */
  def scanZOrderedWithTail(name: String): DataFrame = {
    val base = zMirrorBaseVersion(name)
    // ONE manifest listing serves the head resolve, both file lists,
    // and the delta (a second listing could race a vacuum into a bare
    // NoSuchElementException; this path's whole contract is loud,
    // diagnosable errors)
    val all = manifestVersions()
    if (all.isEmpty)
      throw new IllegalStateException(
        s"z-mirror '$name': the store at $valuesPath has no committed " +
          "manifests (deleted?) — nothing to serve a tail from")
    val baseFiles = all.find(_._1 == base) match {
      case Some((_, p)) => readManifest(p)
      case None => throw new IllegalStateException(
        s"z-mirror '$name' was built at store version $base, which no " +
          "longer has a manifest (vacuumed?) — rebuild the mirror")
    }
    val headFiles = readManifest(all.last._2)
    val headSet = headFiles.toSet
    val rewritten = baseFiles.filterNot(headSet)
    if (rewritten.nonEmpty)
      throw new IllegalStateException(
        s"z-mirror '$name' base version $base has ${rewritten.size} file(s) " +
          "rewritten or dropped since (compaction/TTL) — the file-diff tail " +
          "would duplicate or lose their rows; rebuild the mirror")
    val baseSet = baseFiles.toSet
    val mirror = scanZOrdered(name)
    mirror.unionByName(
      scanFileList(headFiles.filterNot(baseSet))
        .select(mirror.columns.map(col): _*))
  }

  private def versionedTables(tableName: String): Seq[(Long, String)] =
    spark.catalog.listTables().collect().toSeq
      .map(_.name)
      .filter(_.startsWith(s"${tableName}__v"))
      .flatMap { t =>
        scala.util.Try(t.stripPrefix(s"${tableName}__v").toLong).toOption.map(_ -> t)
      }
      .sortBy(_._1)

  /** The bucketed mirror as a DataFrame (bucket partitioning visible to
    * the planner). Falls back to the newest versioned entry when the
    * public name is missing (a rebuild crashed between its DROP and
    * RENAME — the versioned table it wrote is complete). */
  def scanBucketed(tableName: String): DataFrame =
    if (spark.catalog.tableExists(tableName)) spark.table(tableName)
    else versionedTables(tableName).lastOption match {
      case Some((_, t)) => spark.table(t)
      case None => spark.table(tableName) // surface the standard error
    }

  /** run_series with the ReplacingMergeTree(first_seen) + FINAL collapse
    * applied at read time (timedb/client.py:207-212,
    * ch_create_tables.sql:58-65): latest first_seen per (series_id,
    * run_id). */
  def scanRunSeries(): DataFrame =
    spark.read.schema(Schema.runSeries).parquet(runSeriesPath)
      .groupBy("series_id", "run_id")
      .agg(max("first_seen").as("first_seen"))

  private def dirOf(rel: String): String = rel.substring(0, rel.lastIndexOf('/'))

  /** Small-file compaction, the operational complement of streaming
    * ingest (each micro-batch appends at least one file per touched
    * partition — a day of 1-minute batches is 1440 files). Every
    * (retention, valid_month) partition holding more than `maxFiles`
    * live files is rewritten as sort-key-ordered files sized near
    * `targetFileBytes` (ClickHouse's merge analog): range-repartition on
    * the sort key (globally ordered files with tight row-group stats),
    * stage, move in, then swap via ONE manifest commit per partition.
    * Readers racing the swap keep the old file set (still on disk until
    * [[vacuum]]) — no retry needed. Returns the partitions compacted.
    */
  def compactPartitions(maxFiles: Int = 4,
      targetFileBytes: Long = 512L * 1024 * 1024): Seq[String] = {
    val done = Seq.newBuilder[String]
    var live = currentFiles()
    val groups = live.groupBy(dirOf).toSeq.sortBy(_._1)
    for ((dir, rels) <- groups if rels.length > maxFiles) {
      val abs = rels.map(r => new Path(valuesRoot, r))
      val totalBytes = abs.map(p => fs.getFileStatus(p).getLen).sum
      val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
      val staging = newStagingDir()
      spark.read.schema(dataFileSchema).parquet(abs.map(_.toString): _*)
        .repartitionByRange(nOut, SortKey.map(col): _*)
        .sortWithinPartitions(SortKey.map(col): _*)
        .write.option("compression", "zstd").parquet(staging.toString)
      try {
        // staged layout is flat; the files belong to this partition dir
        val added = promoteStagedInto(staging, dir)
        live = live.filterNot(rels.toSet) ++ added
        commitManifest(live)
      } finally {
        fs.delete(staging, true)
        ()
      }
      done += dir
    }
    done.result()
  }

  /** Like [[promoteStaged]] for a flat (non-partitioned) staging dir
    * whose files all belong to partition directory `dir`. */
  private def promoteStagedInto(staging: Path, dir: String): Seq[String] = {
    dataFiles(fs.makeQualified(staging)).map { f =>
      val rel = s"$dir/${f.getPath.getName}"
      val dst = new Path(valuesRoot, rel)
      fs.mkdirs(dst.getParent)
      if (!fs.rename(f.getPath, dst))
        throw new IllegalStateException(s"failed to move staged file to $dst")
      fs.setTimes(dst, System.currentTimeMillis(), -1) // see promoteStaged
      rel
    }
  }

  /** Garbage collection: delete manifests older than the retained tail
    * and any on-disk data file no retained manifest references —
    * superseded compaction inputs, expired months, files from crashed
    * (uncommitted) writes, staging leftovers. Two guards make this safe
    * to schedule:
    *
    *  - `keepManifests >= 2` gives readers planned against the previous
    *    snapshot a grace window (run vacuum on a schedule longer than
    *    your longest query, the table-format VACUUM contract);
    *  - `minAgeMillis` protects an IN-FLIGHT write: files a writer has
    *    staged or promoted but not yet committed are unreferenced, and
    *    deleting them would corrupt the commit that follows — so only
    *    files older than the age floor are eligible (the same file-age
    *    gate table formats use). Pass 0 only from the writer thread
    *    itself (e.g. the ingest loop), where no mutation can be in
    *    flight.
    *
    * Returns deleted relative paths. */
  def vacuum(keepManifests: Int = 2,
      minAgeMillis: Long = 15L * 60 * 1000): Seq[String] = {
    require(keepManifests >= 1, "must keep at least the current manifest")
    val versions = manifestVersions()
    if (versions.isEmpty) return Seq.empty
    val cutoff = System.currentTimeMillis() - minAgeMillis
    val keep = versions.takeRight(keepManifests)
    val liveSet = keep.flatMap { case (_, p) => readManifest(p) }.toSet
    versions.dropRight(keep.length).foreach { case (_, p) => fs.delete(p, false) }
    // A staging dir's own mtime is set at job START; a long write keeps
    // producing files, so age the dir by its NEWEST content — an active
    // writer's staging dir always looks fresh. A child vanishing
    // mid-walk (the writer just promoted or cleaned it) means ACTIVE:
    // treat the dir as fresh rather than failing the maintenance job.
    def newestMtime(st: FileStatus): Long =
      if (!st.isDirectory) st.getModificationTime
      else {
        val children =
          try fs.listStatus(st.getPath).toSeq
          catch { case _: java.io.FileNotFoundException => return Long.MaxValue }
        (st.getModificationTime +: children.map(newestMtime)).max
      }
    if (fs.exists(stagingRoot))
      fs.listStatus(stagingRoot)
        .filter(d => newestMtime(d) <= cutoff)
        .foreach(d => fs.delete(d.getPath, true))
    val deleted = Seq.newBuilder[String]
    for {
      tierDir <- fs.listStatus(valuesRoot).toSeq
      if tierDir.isDirectory && !tierDir.getPath.getName.startsWith("_")
      monthDir <- fs.listStatus(tierDir.getPath).toSeq if monthDir.isDirectory
    } {
      val dir = s"${tierDir.getPath.getName}/${monthDir.getPath.getName}"
      fs.listStatus(monthDir.getPath)
        .filter(f => f.isFile && f.getModificationTime <= cutoff)
        .foreach { f =>
          val rel = s"$dir/${f.getPath.getName}"
          if (!liveSet.contains(rel)) {
            fs.delete(f.getPath, false)
            deleted += rel
          }
        }
      if (fs.listStatus(monthDir.getPath).isEmpty) fs.delete(monthDir.getPath, false)
      if (fs.listStatus(tierDir.getPath).isEmpty) fs.delete(tierDir.getPath, false)
    }
    deleted.result()
  }

  /** TTL expiry (ch_create_tables.sql:43-48): month-granular partition
    * drop, like ClickHouse's TTL-aligned partition delete. A
    * (retention=tier, valid_month=m) partition is dropped once every
    * possible valid_time in month m is past its TTL, i.e.
    * lastDay(m) + ttlDays(tier) < asOf. `forever` never expires.
    * The drop is ONE manifest commit (readers never see a half-expired
    * tier); the physical bytes are reclaimed by [[vacuum]]. Returns the
    * dropped partition directory names.
    */
  def expireRetention(asOf: java.time.Instant): Seq[String] = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMM")
    val live = currentFiles()
    val expired = live.map(dirOf).distinct.filter { dir =>
      val parts = dir.split('/')
      val tier = parts(0).stripPrefix("retention=")
      val month = parts(1).stripPrefix("valid_month=")
      Schema.ttlDays.get(tier).exists { ttl => // 'forever' absent → never expires
        val ym = java.time.YearMonth.parse(month, fmt)
        val monthEnd = ym.atEndOfMonth().plusDays(1)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
        monthEnd.plus(java.time.Duration.ofDays(ttl.toLong)).isBefore(asOf)
      }
    }.sorted
    if (expired.nonEmpty) {
      val gone = expired.toSet
      commitManifest(live.filterNot(f => gone.contains(dirOf(f))))
    }
    expired
  }
}
