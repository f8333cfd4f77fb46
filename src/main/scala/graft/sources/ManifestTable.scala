package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, DataFrameWriter, GraftSessionBridge, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.types.{DataType, StructType}

/** A set of immutable data files under `root`, on any Hadoop-compatible
  * filesystem, whose visible contents are the file list of its newest
  * MANIFEST: `_manifests/v<NNNNNNNN>.list`, one root-relative data-file
  * path per line. It is the commit discipline of a table-format log
  * (Delta Lake, VLDB 2020; Iceberg), scaled down to what this store
  * needs, and the one way the stores publish files: [[SeriesStore]]'s
  * `series_values` and `run_series` tables and each z-ordered mirror,
  * each bucketed [[IndexStore]] (the bucketed mirrors among them), and
  * each levelled one (a segmented BM25 store; an IVF or IVFPQ corpus
  * and its `_del` tombstone store; a dedupIngest sink, digest index and
  * its `_bloom` filter chain) are ManifestTables, and every read of one
  * goes through [[scan]].
  * Every mutation follows write-ahead ordering:
  *
  *   1. new data files are written ONCE, each straight into the flat
  *      `_staging/<uuid>/` directory, by [[ManifestCommitProtocol]]
  *      (no `_temporary` attempt tree, no merge renames, no `_SUCCESS`
  *      marker), and MOVED (per-file rename) to the final paths the
  *      protocol reported ([[stage]]) — invisible to readers, who only
  *      read manifest-listed files;
  *   2. the next manifest version is written to a dot-temp file and
  *      RENAMED into place ([[commit]]) — the single atomic commit point;
  *   3. superseded files are NOT deleted at commit: in-flight readers
  *      planned against an older manifest keep reading them. [[vacuum]]
  *      reclaims files unreferenced by the retained manifest tail.
  *
  * A crash at any step leaves either the old manifest (uncommitted data
  * files are invisible garbage for [[vacuum]]) or the new one (complete):
  * readers never observe a partial append, rewrite or drop. Writers are
  * single-writer-per-table (the reference's deployment shape); the
  * rename-commit fails on a version collision on filesystems with atomic
  * no-overwrite rename (HDFS), which is the cheap guard — multi-writer
  * deployments need a real lock/CAS service.
  *
  * Spark picks a write's commit protocol from its session's conf, so
  * [[stage]] runs the write in a writer session of the caller's, made
  * once by cloning it, which names [[ManifestCommitProtocol]]: the
  * frame's analyzed plan is rebound there (its cached fragments still
  * come from the shared cache manager), and the rest of the caller's
  * SQL conf is copied over before each write. The caller's own session
  * conf is never written: other jobs on it keep their protocol.
  */
final class ManifestTable(spark: SparkSession, rootPath: String) {

  private def fs = new Path(rootPath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The qualified root; manifest entries are relative to it. */
  def root: Path = fs.makeQualified(new Path(rootPath))
  private def manifestsDir = new Path(root, "_manifests")
  private def stagingRoot = new Path(root, "_staging")

  private val ManifestName = raw"v(\d{8})\.list".r

  /** The committed manifests, oldest first: ONE listing of `_manifests`
    * (none before the first commit). */
  private def manifestVersions(): Seq[(Long, Path)] = {
    val listed =
      try fs.listStatus(manifestsDir)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    listed.toSeq.collect {
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

  /** Committed manifest versions, oldest first. */
  def versions(): Seq[Long] = manifestVersions().map(_._1)

  /** Relative paths of the data files in the current snapshot; None
    * before the first commit. */
  def current(): Option[Seq[String]] =
    manifestVersions().lastOption.map { case (_, p) => readManifest(p) }

  /** [[current]], with no files before the first commit. */
  def currentFiles(): Seq[String] = current().getOrElse(Seq.empty)

  /** [[current]]; for a table with no manifest yet, the data files a
    * [[create]] would adopt (none when the root does not exist). Writes
    * nothing. */
  def snapshot(): Seq[String] = current().getOrElse(unadopted())

  private def unadopted(): Seq[String] =
    if (fs.exists(root)) dataFiles(root).map(relativeTo(root)) else Seq.empty

  /** The file list of committed version `version`. Unknown versions fail
    * loudly with the available range — a silent empty list would look
    * like data loss. */
  def filesAt(version: Long): Seq[String] = {
    val all = manifestVersions()
    all.find(_._1 == version) match {
      case Some((_, p)) => readManifest(p)
      case None => throw new IllegalArgumentException(
        s"no manifest version $version at $root — available: " +
          (if (all.isEmpty) "none" else s"${all.head._1}..${all.last._1}"))
    }
  }

  /** The atomic commit point: write `files` as the next manifest version
    * (dot-temp + rename) and return that version. */
  def commit(files: Seq[String]): Long =
    commitAs(manifestVersions().lastOption.fold(1L)(_._1 + 1L), files)

  private def commitAs(next: Long, files: Seq[String]): Long = {
    fs.mkdirs(manifestsDir)
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

  /** Idempotent create: with no manifest yet, commit the data files
    * already under the root (none for a new table) as version 1 — which
    * also adopts a directory written before it had manifests. */
  def create(): Unit =
    if (manifestVersions().isEmpty) adopt()

  /** Commit the data files under the root as version 1; returns them. */
  private def adopt(): Seq[String] = {
    val files = unadopted()
    commitAs(1L, files)
    files
  }

  /** Write `frame` into a fresh staging directory — `write` configures
    * the writer (partitioning, options) and names the format with the
    * staging path — and move each file the commit reported to its
    * reported path under the root, below directory `into` when given.
    * Returns the moved files' relative paths; they stay invisible until
    * a [[commit]] lists them. Each moved file's mtime is bumped to move
    * time: rename keeps the WRITE-time mtime, and [[vacuum]]'s age guard
    * must measure from the commit window, not from when a long write job
    * finished the file. */
  def stage(frame: DataFrame, into: Option[String] = None)(
      write: (DataFrameWriter[Row], String) => Unit): Seq[String] = {
    val staging = fs.makeQualified(new Path(stagingRoot, java.util.UUID.randomUUID().toString))
    try {
      write(ManifestTable.inWriterSession(frame).write.mode(SaveMode.Append), staging.toString)
      val moves = ManifestCommitProtocol.committedFiles(staging).map { case (name, path) =>
        val rel = into.fold(path)(d => s"$d/$path")
        new Path(staging, name) -> rel
      }
      moves.map(m => new Path(root, m._2).getParent).distinct.foreach(fs.mkdirs)
      moves.map { case (src, rel) =>
        val dst = new Path(root, rel)
        if (!fs.rename(src, dst))
          throw new IllegalStateException(s"failed to move staged file to $dst")
        fs.setTimes(dst, System.currentTimeMillis(), -1)
        rel
      }
    } finally {
      ManifestCommitProtocol.forget(staging)
      fs.delete(staging, true)
      ()
    }
  }

  /** [[stage]] `frame`, then commit the current files plus the staged
    * ones; see [[update]]. */
  def append(frame: DataFrame)(write: (DataFrameWriter[Row], String) => Unit): Unit =
    update(_ => false)(stage(frame)(write))

  /** One mutation: run `staged` (which [[stage]]s files and returns
    * them), then commit the current files that `drop` does not select
    * plus the staged ones as ONE manifest — none when that changes
    * nothing. A table with no manifest is [[create]]d first, so a
    * directory written before it had manifests keeps its files, and no
    * staged file lands under a root that a later create would adopt. */
  def update(drop: String => Boolean)(staged: => Seq[String]): Unit = {
    // one listing gives the adoption check, the file list and the next version
    val (version, files) = manifestVersions().lastOption match {
      case Some((v, p)) => (v, readManifest(p))
      case None => (1L, adopt())
    }
    val added = staged
    val kept = files.filterNot(drop)
    if (added.nonEmpty || kept.length < files.length) commitAs(version + 1L, kept ++ added)
  }

  /** Statuses of the manifest-listed `files`, from ONE listing of each
    * directory that holds them. A listed file missing from its
    * directory fails loudly. */
  def listed(files: Seq[String]): Seq[FileStatus] =
    files.groupBy(f => new Path(root, f).getParent).toSeq.flatMap { case (dir, rels) =>
      val names = rels.map(f => new Path(f).getName).toSet
      val found = fs.listStatus(dir).filter(st => names.contains(st.getPath.getName))
      if (found.length < names.size)
        throw new java.io.FileNotFoundException(
          s"$dir lacks manifest-listed files: ${(names -- found.map(_.getPath.getName)).mkString(", ")}")
      found.toSeq
    }

  /** One scan over the manifest-listed `files`, typed by `schema`; see
    * [[scanListed]]. */
  def scan(files: Seq[String], schema: StructType, bucketSpec: Option[BucketSpec] = None): DataFrame =
    scanListed(listed(files), schema, bucketSpec)

  /** One scan over the files of `statuses` (from [[listed]]), typed by
    * `schema`. Spark's file index gets each directory holding them as a
    * root path, with exactly these statuses as its files, so it lists
    * nothing itself (handed the files as root paths, it would list them,
    * in a Spark job once there are more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` = 32).
    * `key=value` directories under the root become partition columns, as
    * in a `basePath` read. With `bucketSpec`, the relation is bucketed as
    * a catalog table would be: each file's bucket is the id in its name,
    * which [[ManifestCommitProtocol]] sets to its write split. */
  def scanListed(statuses: Seq[FileStatus], schema: StructType,
      bucketSpec: Option[BucketSpec] = None): DataFrame =
    if (statuses.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      val byDir = statuses.groupBy(_.getPath.getParent).map { case (d, sts) => d -> sts.toArray }
      val cache = new FileStatusCache {
        override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byDir.get(path)
        override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      }
      val index = new InMemoryFileIndex(spark, byDir.keys.toSeq.sortBy(_.toString),
        Map("basePath" -> root.toString), Some(schema), cache)
      val partitionCols = index.partitionSchema.fieldNames.toSet
      // nullable, as a path read types every file-source column
      val dataSchema = GraftSessionBridge.asNullable(StructType(schema.filterNot(f => partitionCols(f.name))))
      spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, dataSchema,
        bucketSpec, new ParquetFileFormat, Map.empty)(spark))
    }

  /** The Spark schema a parquet file was written with, from its footer
    * alone — no schema-inference job. */
  def footerSchema(status: FileStatus): StructType = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(status, spark.sessionState.newHadoopConf()))
    try DataType.fromJson(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType]
    finally reader.close()
  }

  /** The rows of the small parquet files `statuses` (a store's meta
    * row, a series' `run_series` rows) that `keep` selects, decoded on the
    * driver by Spark's own parquet reader — no Spark job. Only kept rows
    * are converted and held, so the driver holds what `keep` selects, not
    * the files' rows; the caller bounds the files' size. */
  def collectSmall(statuses: Seq[FileStatus], schema: StructType,
      keep: InternalRow => Boolean = _ => true): Seq[Row] = {
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
      new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    statuses.flatMap { st =>
      read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath), 0L, st.getLen))
        .filter(keep).map(r => toRow(r).asInstanceOf[Row]).toList
    }
  }

  private def relativeTo(dir: Path)(f: FileStatus): String =
    f.getPath.toString.stripPrefix(dir.toString + "/")

  /** Recursively list the data files under `dir`: every file with no
    * `_`- or dot-named component in its relative path. */
  private def dataFiles(dir: Path): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && !relativeTo(dir)(f).split('/').exists(c => c.startsWith(".") || c.startsWith("_")))
        out += f
    }
    out.result()
  }

  /** Garbage collection: delete manifests older than the retained tail
    * and every other file under the root that no retained manifest
    * lists — superseded rewrite inputs, dropped files, files and
    * manifest temps of crashed (uncommitted) writes, staging leftovers —
    * then the directories that leaves empty. Two guards make this safe
    * to schedule:
    *
    *  - `keepManifests >= 2` gives readers planned against the previous
    *    snapshot a grace window (run vacuum on a schedule longer than
    *    your longest query, the table-format VACUUM contract);
    *  - `minAgeMillis` protects an IN-FLIGHT write: files a writer has
    *    staged or moved but not yet committed are unreferenced, and
    *    deleting them would corrupt the commit that follows — so only
    *    files older than the age floor are eligible (the same file-age
    *    gate table formats use). Pass 0 only from the writer thread
    *    itself (e.g. the ingest loop), where no mutation can be in
    *    flight.
    *
    * Returns the deleted data files' relative paths. */
  def vacuum(keepManifests: Int, minAgeMillis: Long): Seq[String] = {
    require(keepManifests >= 1, "must keep at least the current manifest")
    val versions = manifestVersions()
    if (versions.isEmpty) return Seq.empty
    val cutoff = System.currentTimeMillis() - minAgeMillis
    val keep = versions.takeRight(keepManifests)
    val liveSet = keep.flatMap { case (_, p) => readManifest(p) }.toSet
    versions.dropRight(keep.length).foreach { case (_, p) => fs.delete(p, false) }
    fs.listStatus(manifestsDir)
      .filter(f => f.getPath.getName.startsWith(".tmp-") && f.getModificationTime <= cutoff)
      .foreach(f => fs.delete(f.getPath, false))
    // A staging dir's own mtime is set at job START; a long write keeps
    // producing files, so age the dir by its NEWEST content — an active
    // writer's staging dir always looks fresh. A child vanishing
    // mid-walk (the writer just moved or cleaned it) means ACTIVE:
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
    def sweep(dir: Path, prefix: String): Unit =
      fs.listStatus(dir).foreach { st =>
        val rel = prefix + st.getPath.getName
        if (rel == "_manifests") ()
        else if (st.isDirectory) {
          // `_staging` holds no data files; its dirs were aged above
          if (rel != "_staging") sweep(st.getPath, rel + "/")
          // a writer's freshly made directory is young (and making its
          // staging dir refreshes `_staging`): leave it
          if (st.getModificationTime <= cutoff && fs.listStatus(st.getPath).isEmpty)
            fs.delete(st.getPath, false)
        } else if (!liveSet.contains(rel) && st.getModificationTime <= cutoff) {
          fs.delete(st.getPath, false)
          deleted += rel
        }
      }
    sweep(root, "")
    deleted.result()
  }
}

object ManifestTable {

  private val CommitProtocolKey = "spark.sql.sources.commitProtocolClass"

  // caller session → its writer session, made once
  private val writers = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** `frame` rebound into its session's writer session, whose conf is
    * first brought in line with the caller's (see the class doc). */
  private def inWriterSession(frame: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    val writer = writers.synchronized {
      writers.computeIfAbsent(spark, { s =>
        val w = GraftSessionBridge.cloneSession(s)
        w.conf.set(CommitProtocolKey, classOf[ManifestCommitProtocol].getName)
        w
      })
    }
    GraftSessionBridge.syncConf(spark, writer, keep = CommitProtocolKey)
    GraftSessionBridge.rebind(frame, writer)
  }
}
