package graft.sources

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *    series_id let the reader skip row groups for a read's pushed
  *    `series_id IN (…)`, and ZSTD + dictionary/RLE encodings replace
  *    the per-column codecs. The timestamps are stored as INT96 (Spark's
  *    default), which Spark never pushes into the parquet reader, so no
  *    `valid_time` or `knowledge_time` bound skips a row group: those
  *    bounds filter rows after the scan. An appended file is sorted by
  *    knowledge_time first, then by that key (see [[appendValues]]).
  *
  * ==Commits==
  *
  * Every file set this store writes and reads is a [[ManifestTable]]:
  * `series_values`, `run_series`, each z-ordered mirror
  * (`zordered/<name>`) and each bucketed mirror (`bucketed/<name>`, an
  * [[IndexStore]] bucketed store). Each publishes its files by ONE manifest
  * rename, so a reader never observes a partially-appended,
  * partially-compacted or half-expired table, and a crash at any step
  * leaves the state before or the state after (the table-log commit of
  * Delta Lake, VLDB 2020). This class keeps the layout policy:
  * partitioning, sort orders, compaction grouping, TTL rules and the
  * bucketed mirror.
  */
final class SeriesStore(spark: SparkSession, basePath: String) {

  val valuesPath = s"$basePath/series_values"
  val runSeriesPath = s"$basePath/run_series"

  private val values = new ManifestTable(spark, valuesPath)
  private val runSeries = new ManifestTable(spark, runSeriesPath)
  private def zMirror(name: String) = new ManifestTable(spark, s"$basePath/zordered/$name")

  private def fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Columns physically present in the data files: everything except the
    * two partition columns (`retention` lives in the dir name;
    * `valid_month` likewise). */
  private val dataFileSchema: StructType =
    StructType(Schema.seriesValues.filterNot(_.name == "retention"))

  /** A `series_values` scan's schema: `retention` and `valid_month`
    * come from the partition directories. */
  private val ValuesScan = Schema.seriesValues.add("valid_month", StringType)

  /** Row order of a compacted file: the MergeTree sort key analog. */
  private val SortKey = Seq("series_id", "valid_time", "knowledge_time", "change_time")
  /** Row order of an appended file (see [[appendValues]]). */
  private val AppendOrder = Seq("knowledge_time", "series_id", "valid_time", "change_time")

  /** A manifest entry's partition directory: (tier, month). */
  private val PartitionDir = raw"retention=([^/]*)/valid_month=([^/]*)/[^/]+".r

  /** Relative paths of the data files in the CURRENT snapshot. */
  def currentFiles(): Seq[String] = values.currentFiles()

  /** Idempotent create (timedb/client.py:106-118): the first, empty
    * manifest of each table, so reads before any data arrives see the
    * right schemas. No Spark job runs. A `run_series` directory written
    * before it had manifests keeps its files: they become its first
    * manifest, here or at the first append. */
  def create(): Unit = {
    values.create()
    runSeries.create()
  }

  /** Drop every table the store owns (timedb/client.py:119-120): both
    * tables, the z-ordered mirrors and the bucketed mirrors. The base
    * directory goes too when that leaves it empty; anything else in it
    * stays, and so does the directory. */
  def delete(): Unit = {
    Seq("series_values", "run_series", "zordered", "bucketed")
      .foreach(d => fs.delete(new Path(basePath, d), true))
    val base = new Path(basePath)
    // not recursive: a file that lands in between fails the delete, and
    // the directory stays with it
    if (fs.exists(base) && fs.listStatus(base).isEmpty)
      try { fs.delete(base, false); () } catch { case _: java.io.IOException => () }
    ()
  }

  /** Append a stamped batch to series_values: stage → move → one
    * manifest commit (see class doc).
    *
    * Each file is sorted by (knowledge_time, series_id, valid_time,
    * change_time) for row-group skipping. The sort leads with the two
    * partition columns: the planned write requires that ordering, and
    * replaces a sort that does not satisfy it by a
    * `Sort[retention, valid_month]` alone, which leaves each file in
    * arrival order. Both plans below keep that lead, so the planned
    * write adds no sort of its own in either.
    *
    * A small batch (`oneTask`) is written by ONE task: `coalesce(1)` →
    * the sort → one file per (retention, valid_month) partition, with no
    * shuffle. A larger batch is `repartition(retention, valid_month)`-ed
    * first, which routes each physical partition's rows to one task (no
    * small-file explosion when a batch spans many months) and writes the
    * months in parallel. Each partition's file holds the same rows in the
    * same order either way; the caller picks the plan by batch size.
    *
    * knowledge_time leads because a batch is usually one run (one
    * knowledge_time), where the order is the sort key's (series_id,
    * valid_time), while a multi-run backfill keeps each run contiguous:
    * its knowledge_time and run_id columns then stay in long runs. For a
    * 118-run batch of 50 series × 48 h the full sort key instead stores
    * 34 % more bytes. Compaction rewrites to the full sort key.
    */
  def appendValues(stamped: DataFrame, oneTask: Boolean = false): Unit = {
    val withMonth = stamped.withColumn("valid_month", Schema.monthOf(col("valid_time")))
    val placed =
      if (oneTask) withMonth.coalesce(1)
      else withMonth.repartition(col("retention"), col("valid_month"))
    values.append(placed.sortWithinPartitions((Schema.partitionColumns ++ AppendOrder).map(col): _*)) {
      (w, dir) => w.partitionBy(Schema.partitionColumns: _*).option("compression", "zstd").parquet(dir)
    }
  }

  /** Append run_series rows: stage → move → one manifest commit, like
    * [[appendValues]]. */
  def appendRunSeries(rs: DataFrame): Unit =
    runSeries.append(rs)((w, dir) => w.option("compression", "zstd").parquet(dir))

  /** Scan series_values — the CURRENT snapshot's files, with `retention`
    * and `valid_month` recovered from the partition paths (`basePath`
    * keeps Catalyst's partition pruning on both). `valid_month` stays
    * available for manual pruning; readers project it away. */
  def scanValues(): DataFrame =
    values.scan(currentFiles(), ValuesScan)

  /** [[scanValues]] over only the current snapshot's files whose
    * `retention=…/valid_month=…` directory a read can touch: a tier in
    * `retention` (all tiers when empty) and a month inside the inclusive
    * `monthRange`. The match is on the manifest's relative paths, on the
    * driver, with no Spark job. Returns the scan and the summed lengths
    * of the files it lists, so a read can size its plan from what it
    * will actually open (over the unpruned scan, Catalyst's estimate is
    * the whole snapshot whatever the filters). */
  def scanValuesPruned(retention: Seq[String],
      monthRange: (Option[String], Option[String])): (DataFrame, Long) = {
    val (lo, hi) = monthRange
    val files = currentFiles().filter {
      case PartitionDir(tier, month) =>
        (retention.isEmpty || retention.contains(tier)) &&
          lo.forall(month >= _) && hi.forall(month <= _)
      case _ => true
    }
    val statuses = values.listed(files)
    (values.scanListed(statuses, ValuesScan), statuses.map(_.getLen).sum)
  }

  /** Committed manifest versions, oldest first — the time-travel axis.
    * Every committed write is one version; [[vacuum]] bounds how far
    * back the files themselves survive. */
  def versions(): Seq[Long] = values.versions()

  /** Snapshot read AS OF a committed manifest version — time travel
    * over the store's own commit log: the scan plans against exactly
    * the files that manifest listed, so the result is the table as a
    * reader saw it right after that commit, regardless of every later
    * append/compaction/TTL drop. Free by construction (manifests are
    * already immutable versioned file lists); valid as long as
    * [[vacuum]]'s retained-manifest grace window still covers the
    * version. Unknown versions fail loudly with the available range —
    * a silent empty read would look like data loss. */
  def scanValuesAsOf(version: Long): DataFrame =
    values.scan(values.filesAt(version), ValuesScan)

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
    val from = values.filesAt(fromVersion).toSet
    values.scan(values.filesAt(toVersion).filterNot(from), ValuesScan)
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
    * The mirror is an [[IndexStore]] bucketed store at
    * `bucketed/<name>` with one table: [[scanBucketed]] reads its bucket
    * spec from the store itself, in any session. A rebuild commits ONE
    * manifest that replaces the whole file list, then vacuums keeping
    * two manifests, as the z-ordered mirror does: a reader holding the
    * previous mirror's plan keeps its files for one more rebuild.
    * Rebuild after appends, like any materialized layout. */
  def createBucketedMirror(tableName: String, nBuckets: Int): Unit =
    createBucketedMirrorOf(scanValues().drop("valid_month"), tableName, nBuckets,
      sortCols = Seq("series_id", "valid_time"))

  /** [[createBucketedMirror]] for an ARBITRARY series-keyed frame —
    * derived tables (per-series aggregates, rollups, feature frames)
    * get the same shuffle-free keyed-join layout as the values table.
    * Two mirrors written with EQUAL bucket counts equi-join on
    * `series_id` with zero exchanges (the reference's sort-key
    * co-location, ch_create_tables.sql:42, generalized to any table
    * that shares the key). Each bucket file is sorted by `series_id`,
    * then by the rest of `sortCols`. Same commit and vacuum as the
    * values mirror. */
  def createBucketedMirrorOf(frame: org.apache.spark.sql.DataFrame,
      tableName: String, nBuckets: Int,
      sortCols: Seq[String]): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(tableName.matches("[A-Za-z0-9_]+"), s"unsafe table name: $tableName")
    require(frame.columns.contains("series_id"),
      s"bucketed mirror $tableName: frame must carry series_id (the bucket key)")
    IndexStore.write(bucketedPath(tableName), nBuckets,
      Seq(IndexStore.Table(MirrorTable, frame, Seq("series_id"), sortCols)),
      spark.range(0, 1, 1, 1).select(lit(nBuckets).as("n_buckets")))
  }

  private def bucketedPath(name: String) = s"$basePath/bucketed/$name"
  /** The one table of a bucketed mirror's store. */
  private val MirrorTable = "rows"

  /** Z-ordered mirror of series_values, clustered on `(series_id,
    * valid_time)` via [[graft.operators.Layout.zOrdered]] — the
    * lakehouse layout (Delta OPTIMIZE ZORDER / Iceberg sort order)
    * that makes parquet footer min/max stats selective on BOTH the
    * series and the time axis at once: a band predicate on either
    * dimension prunes ~√selectivity of the files, where the store's
    * native (series_id, valid_time)-sorted files prune on series only.
    * The complement to [[createBucketedMirror]]: buckets buy
    * shuffle-free keyed plans, z-order buys 2-D scan pruning.
    *
    * The mirror is a [[ManifestTable]] at `zordered/<name>`. A rebuild
    * stages the clustered files into `store_v<N>/`, N being the store
    * version they reflect, and commits ONE manifest that replaces the
    * whole file list, so that commit also fixes the base version
    * [[scanZOrderedWithTail]] resumes from. It then vacuums the mirror
    * keeping two manifests: readers holding the previous version's plan
    * keep its files for one more rebuild; older files go. */
  def createZOrderedMirror(name: String, files: Int, bits: Int = 12,
      asOfVersion: Option[Long] = None): Unit = {
    require(files > 0, "files must be positive")
    require(name.matches("[A-Za-z0-9_]+"), s"unsafe mirror name: $name")
    // The base version defaults to the current head. The scan goes
    // through scanValuesAsOf(baseVersion) even then: resolving "head"
    // once and reading THAT manifest is atomic, where a separate
    // scanValues() could list a newer commit that landed in between —
    // the base version would then understate the mirror's content and
    // the tail read would duplicate those rows.
    val baseVersion = asOfVersion.getOrElse(versions().last)
    val baseScan = scanValuesAsOf(baseVersion).drop("valid_month")
    val mirror = zMirror(name)
    val clustered = graft.operators.Layout.zOrdered(baseScan,
      xCol = "series_id", yCol = "valid_time", files = files, bits = bits)
    mirror.commit(mirror.stage(clustered, into = Some(s"store_v$baseVersion"))((w, dir) => w.parquet(dir)))
    mirror.vacuum(keepManifests = 2, minAgeMillis = 0L)
    ()
  }

  /** The z-mirror's current files; a mirror never built fails loudly. */
  private def zMirrorFiles(name: String): Seq[String] = {
    val mirror = zMirror(name)
    val files = mirror.currentFiles()
    if (files.isEmpty && mirror.versions().isEmpty)
      throw new IllegalArgumentException(
        s"no z-ordered mirror '$name' at ${mirror.root} — run createZOrderedMirror first")
    files
  }

  private val MirrorFile = raw"store_v(\d+)/[^/]+".r

  private def baseVersionOf(name: String, files: Seq[String]): Long =
    files.collectFirst { case MirrorFile(v) => v.toLong }.getOrElse(
      throw new IllegalStateException(
        s"z-mirror '$name' lists no store_v<N> file, so no base version — rebuild it"))

  /** The z-ordered mirror as a DataFrame: the files its current
    * manifest lists. */
  def scanZOrdered(name: String): DataFrame =
    zMirror(name).scan(zMirrorFiles(name), Schema.seriesValues)

  /** The store version the mirror reflects, fixed by its commit. */
  def zMirrorBaseVersion(name: String): Long =
    baseVersionOf(name, zMirrorFiles(name))

  /** MERGE-ON-READ over the z-mirror: the clustered mirror files plus
    * the commit-log change feed since the mirror's base version — the
    * current table without a rebuild, the lakehouse base-plus-delta
    * serving pattern (and the reference's ClickHouse parts-plus-unmerged-
    * inserts read model). Periodic [[createZOrderedMirror]] rebuilds
    * play the compaction role: between rebuilds every read costs
    * (clustered scan) + (delta proportional to NEW data since the base).
    *
    * Exactness guard: the file-diff change feed re-surfaces rows when
    * a commit REWRITES files (compaction), which would double them
    * under this union — so if any base-version file is no longer in
    * the current manifest, the read fails loudly asking for a rebuild
    * instead of serving duplicates. TTL/vacuum that DROPPED base files
    * trips the same guard; both are exactly the moments a mirror is
    * stale. The mirror's file list is read once, so its scan and its
    * base version come from the same commit. */
  def scanZOrderedWithTail(name: String): DataFrame = {
    val files = zMirrorFiles(name)
    val base = baseVersionOf(name, files)
    val baseFiles = values.filesAt(base)
    val headFiles = values.currentFiles()
    val headSet = headFiles.toSet
    val rewritten = baseFiles.filterNot(headSet)
    if (rewritten.nonEmpty)
      throw new IllegalStateException(
        s"z-mirror '$name' base version $base has ${rewritten.size} file(s) " +
          "rewritten or dropped since (compaction/TTL) — the file-diff tail " +
          "would duplicate or lose their rows; rebuild the mirror")
    val baseSet = baseFiles.toSet
    val mirror = zMirror(name).scan(files, Schema.seriesValues)
    mirror.unionByName(
      values.scan(headFiles.filterNot(baseSet), ValuesScan)
        .select(mirror.columns.map(col): _*))
  }

  /** The bucketed mirror as a DataFrame (bucket partitioning visible to
    * the planner), from its store's current manifest. A mirror never
    * built fails loudly ([[IndexStore.load]]). */
  def scanBucketed(tableName: String): DataFrame =
    IndexStore.load(spark, bucketedPath(tableName)).tables(MirrorTable)

  /** run_series with the ReplacingMergeTree(first_seen) + FINAL collapse
    * applied at read time (timedb/client.py:207-212,
    * ch_create_tables.sql:58-65): latest first_seen per (series_id,
    * run_id). */
  def scanRunSeries(): DataFrame = scanRunSeries(runSeriesFiles())

  /** [[scanRunSeries]] over `files`, statuses from [[runSeriesFiles]]. */
  def scanRunSeries(files: Seq[FileStatus]): DataFrame =
    runSeries.scanListed(files, Schema.runSeries)
      .groupBy("series_id", "run_id")
      .agg(max("first_seen").as("first_seen"))

  /** The statuses of the current `run_series` files: one listing per
    * directory, no Spark job. */
  def runSeriesFiles(): Seq[FileStatus] = runSeries.listed(runSeries.currentFiles())

  /** [[scanRunSeries]]'s rows of one series, `(run_id, first_seen)`,
    * decoded from `files` on the driver ([[ManifestTable.collectSmall]]:
    * no Spark job, and only the series' rows are held) and collapsed
    * there to the latest first_seen per run. The caller bounds the
    * files' size. */
  def collectRunSeries(files: Seq[FileStatus], seriesId: Long): Seq[(Long, Timestamp)] =
    runSeries.collectSmall(files, Schema.runSeries, _.getLong(0) == seriesId)
      .map(r => (r.getLong(1), r.getTimestamp(2)))
      .groupMapReduce(_._1)(_._2)((a, b) => if (a.after(b)) a else b)
      .toSeq

  private def dirOf(rel: String): String = rel.substring(0, rel.lastIndexOf('/'))

  /** Target size of a compacted file (ClickHouse's merge analog). */
  private val TargetFileBytes = 512L * 1024 * 1024

  /** Small-file compaction, the operational complement of streaming
    * ingest (each micro-batch appends at least one file per touched
    * partition — a day of 1-minute batches is 1440 files). Every
    * (retention, valid_month) partition holding more than `maxFiles`
    * live files is rewritten as sort-key-ordered files sized near
    * [[TargetFileBytes]]: range-repartition on the sort key (globally
    * ordered files with tight row-group stats) and stage, one partition
    * at a time; then ONE manifest commit swaps every rewritten
    * partition's inputs for its outputs, so a compaction is one version
    * on the time-travel axis. The input sizes come from the manifest
    * listing ([[ManifestTable.listed]]). Readers racing the swap keep
    * the old file set (still on disk until [[vacuum]]) — no retry
    * needed. Returns the partitions compacted. */
  def compactPartitions(maxFiles: Int = 4): Seq[String] = {
    val due = currentFiles().groupBy(dirOf).toSeq.sortBy(_._1).filter(_._2.length > maxFiles)
    val inputs = due.flatMap(_._2).toSet
    values.update(inputs) {
      due.flatMap { case (dir, rels) =>
        val statuses = values.listed(rels)
        val nOut = math.max(1L, (statuses.map(_.getLen).sum + TargetFileBytes - 1) / TargetFileBytes).toInt
        // the staged layout is flat; its files belong to this partition dir
        val rewritten = values.scanListed(statuses, ValuesScan)
          .select(dataFileSchema.fieldNames.toSeq.map(col): _*)
          .repartitionByRange(nOut, SortKey.map(col): _*)
          .sortWithinPartitions(SortKey.map(col): _*)
        values.stage(rewritten, into = Some(dir)) { (w, staging) =>
          w.option("compression", "zstd").parquet(staging)
        }
      }
    }
    due.map(_._1)
  }

  /** Garbage collection over every table the store owns — both tables
    * and each z-ordered and bucketed mirror — see [[ManifestTable.vacuum]] for the
    * reader-grace (`keepManifests`) and in-flight-write (`minAgeMillis`)
    * guards. Returns the deleted data files' paths relative to the
    * store's base path. */
  def vacuum(keepManifests: Int = 2,
      minAgeMillis: Long = 15L * 60 * 1000): Seq[String] = {
    val tables = Seq("series_values" -> values, "run_series" -> runSeries) ++
      Seq("zordered", "bucketed").flatMap(d =>
        subdirs(new Path(basePath, d)).map(n => s"$d/$n" -> new ManifestTable(spark, s"$basePath/$d/$n")))
    tables.flatMap { case (dir, t) => t.vacuum(keepManifests, minAgeMillis).map(f => s"$dir/$f") }
  }

  /** Names of the directories directly under `dir`; none when it does
    * not exist. */
  private def subdirs(dir: Path): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.getName)

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
      values.commit(live.filterNot(f => gone.contains(dirOf(f))))
    }
    expired
  }
}
