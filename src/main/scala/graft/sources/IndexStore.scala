package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Physical storage for the stored indexes — the one module that knows
  * how an index lands on disk. The operator families
  * ([[graft.operators.Dedup]], [[graft.operators.TextAnalysis]],
  * [[graft.operators.Similarity]]) build and serve; they reach the
  * filesystem only through here. Two store forms:
  *
  *  - **Bucketed epoch store** ([[write]] / [[load]]): ONE
  *    [[ManifestTable]] at `<path>` whose tables live in sub-directories
  *    (`<path>/<sub>/`), each either bucketed by its join key — so a
  *    loaded scan exposes `HashPartitioning` to the planner and keyed
  *    joins/aggregates over it plan with no corpus-side exchange — or
  *    plain parquet, plus a one-row `meta` table. One file per bucket:
  *    each bucketed table is routed to write split `pmod(hash(keys), n)`
  *    — the bucket id of Spark's own bucketed writes — so write split i
  *    holds exactly bucket i, and [[ManifestCommitProtocol]] names each
  *    file with its split as its bucket id. The meta row holds the family's build parameters
  *    (its typed `load` reads them by position) and the layout:
  *    `n_buckets` and an appended [[LayoutCol]] column (table → bucket
  *    columns), so [[load]] declares every table's bucket spec from the
  *    store alone — never from a caller guess, since a wrong declared
  *    bucket count silently mis-routes a bucketed join. The layout lives
  *    with the data: no catalog holds it and no session re-declares it.
  *    A rebuild stages every table and commits ONE manifest that
  *    replaces the whole file list, so it is atomic across the store's
  *    tables: a reader sees the old store or the new one.
  *
  *  - **Levelled store** ([[writeLevel]] / [[writeVersion]] /
  *    [[resident]] / [[foldLevel]] / [[levels]] / [[maintain]]): ONE
  *    [[ManifestTable]] at `<path>` holding immutable `<levelCol>=<id>`
  *    leaves (under any leading partition columns — the IVF stores lead
  *    with `cell` — and under a sub-directory per tree when the store
  *    has several, as BM25's `tf`/`df`/`meta`/`del` do). The segmented
  *    BM25 store, the IVF and IVFPQ corpora with their `_del` tombstone
  *    stores, and dedupIngest's sink, digest index and `_bloom` filter
  *    chain (one level per micro-batch id) are levelled stores. A level
  *    write stages its frames and commits the current files minus that
  *    level's plus the staged ones in one manifest, so every tree of a
  *    level publishes at once, and a replayed append — every level is a
  *    pure function of its input — replaces exactly its own level
  *    (exactly-once in the store from an at-least-once trigger); the
  *    store is then vacuumed, keeping the previous manifest. A version
  *    chain keeps one version per level and each [[writeVersion]] drops
  *    all but the version its writer read. Deletes are tombstone
  *    levels (doomed ids), in the store's own `del` tree or in a
  *    sibling store. Fold-forward compaction at level L reads
  *    [[resident]] (rows at levels ≤ L minus ids tombstoned at ≤ L,
  *    picked from the manifests' file lists), the family dedupes, and
  *    [[foldLevel]] commits the merged set as level L with every level
  *    ≤ L dropped, then vacuums keeping the previous manifest: a reader
  *    planned before the compaction keeps its files. Readers scan a
  *    store's manifest through [[levels]] / [[levelsWhere]], list its
  *    levels with [[levelIds]] and decode a small level on the driver
  *    with [[levelRows]]. Writers are single-writer
  *    per store (the [[maintain]] loop runs every mutation on the
  *    stream's own foreachBatch thread), as for every ManifestTable.
  */
object IndexStore {

  /** The meta-row column holding each table's bucket columns (empty
    * for a plain table). */
  private val LayoutCol = "bucket_cols"
  private val MetaSub = "meta"

  /** One table of a bucketed epoch store, with data at `<path>/<sub>`;
    * no `bucketCols` = plain parquet. Each bucket file is sorted by
    * `bucketCols`, then by the rest of `sortCols`. */
  final case class Table(sub: String, frame: DataFrame, bucketCols: Seq[String] = Nil,
      sortCols: Seq[String] = Nil)

  /** A loaded bucketed epoch store: its meta row and each table's scan. */
  final case class Loaded(meta: Row, tables: Map[String, DataFrame])

  /** Write a bucketed epoch store at `path`: stage every table in
    * `tables` and the one-row `meta` frame (which must carry the
    * family's `n_buckets` column) with [[LayoutCol]] appended, each into
    * its own sub-directory, then commit ONE manifest listing exactly
    * those files and vacuum the store (keeping the previous manifest, so
    * a reader planned against the replaced store keeps its files for
    * one more rebuild). Replaces a previous store at `path`. */
  def write(path: String, nBuckets: Int, tables: Seq[Table], meta: DataFrame): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(meta.columns.contains("n_buckets"), "meta must carry n_buckets")
    val store = new ManifestTable(meta.sparkSession, path)
    val metaTable = Table(MetaSub,
      meta.withColumn(LayoutCol, typedLit(tables.map(t => t.sub -> t.bucketCols).toMap)))
    val files = (tables :+ metaTable).flatMap { t =>
      val keys = t.bucketCols
      // routed by the bucket id itself: `repartition(n, keys)` computes
      // the same id, but planning drops it when the frame is already
      // hash-partitioned on `keys` into n, and adaptive execution may
      // then coalesce that upstream shuffle into fewer splits
      val laid = if (keys.isEmpty) t.frame
        else t.frame.repartitionById(nBuckets, pmod(hash(keys.map(col): _*), lit(nBuckets)))
          .sortWithinPartitions((keys ++ t.sortCols.filterNot(keys.contains)).map(col): _*)
      store.stage(laid, into = Some(t.sub))((w, dir) => w.parquet(dir))
    }
    store.commit(files)
    vacuumed(store)
  }

  /** Load a [[write]] store from its current manifest, in any session:
    * the meta row (read on the driver) and every table's scan, each
    * bucketed table with the bucket spec its meta row declares. Runs no
    * Spark job. A directory with no manifest fails loudly: stores are
    * derived data, rebuilt rather than adopted, and a load never writes. */
  def load(spark: SparkSession, path: String): Loaded = {
    val store = new ManifestTable(spark, path)
    val files = store.current().getOrElse(throw new IllegalStateException(
      s"no index store at $path: no manifest lists its files (never built, or built " +
        "before index stores committed through one) — rebuild it with the call that " +
        "writes it (IndexStore.write, a store*IndexBucketed, createBucketedMirror)"))
    val bySub = files.groupBy(_.takeWhile(_ != '/')).map { case (sub, fs) => sub -> store.listed(fs) }
    // a levelled store has no layout row (BM25's `meta` tree holds
    // per-segment stats): read it with `levels`
    val metaFiles = bySub.getOrElse(MetaSub, Nil)
    val meta = metaFiles.headOption.map(f => store.collectSmall(metaFiles, store.footerSchema(f)).head)
      .filter(_.schema.fieldNames.contains(LayoutCol)).getOrElse(throw new IllegalStateException(
        s"$path is not a bucketed index store: no meta row carries its $LayoutCol layout"))
    val nBuckets = meta.getAs[Int]("n_buckets")
    val layout = meta.getMap[String, scala.collection.Seq[String]](meta.fieldIndex(LayoutCol))
    Loaded(meta, layout.toMap.map { case (sub, keys) =>
      val statuses = bySub(sub)
      val spec = if (keys.isEmpty) None else Some(BucketSpec(nBuckets, keys.toSeq, keys.toSeq))
      sub -> store.scanListed(statuses, store.footerSchema(statuses.head), spec)
    })
  }

  /** The scan of tree `sub` (`""`: every file) of the levelled store
    * at `root`: the files of its current manifest — of a store written
    * before it had one, the files its next mutation adopts — with the
    * `key=value` directories below `sub` as partition columns, typed as
    * a path read types them. None when the tree holds no file. Runs no
    * Spark job and writes nothing. */
  def levels(spark: SparkSession, root: String, sub: String = ""): Option[DataFrame] =
    scanLevels(new ManifestTable(spark, root), sub, _ => true)

  /** [[levels]] over the files at the `<levelCol>=N` levels that `keep`
    * selects, picked from the manifest's file list on the driver: no
    * partition filter is planned and no other level's directory is
    * listed. */
  def levelsWhere(spark: SparkSession, root: String, levelCol: String, sub: String = "")(
      keep: Long => Boolean): Option[DataFrame] =
    scanLevels(new ManifestTable(spark, root), sub, levelOf(levelCol, _).exists(keep))

  /** The `<levelCol>=N` levels the levelled store at `root` holds,
    * ascending, from its manifest's file list (of a store written before
    * it had one, from the files its next mutation adopts). Runs no Spark
    * job and writes nothing. */
  def levelIds(spark: SparkSession, root: String, levelCol: String): Seq[Long] =
    new ManifestTable(spark, root).snapshot().flatMap(levelOf(levelCol, _)).distinct.sorted

  /** The rows of level `level` of the levelled store at `root` (without
    * `levelCol`), decoded on the driver: for a small level, such as one
    * serialized sketch. Runs no Spark job. */
  def levelRows(spark: SparkSession, root: String, levelCol: String, level: Long): Seq[Row] = {
    val table = new ManifestTable(spark, root)
    val statuses = table.listed(table.snapshot().filter(levelOf(levelCol, _).contains(level)))
    statuses.headOption.fold(Seq.empty[Row])(st => table.collectSmall(statuses, table.footerSchema(st)))
  }

  /** [[levels]] over the files of tree `sub` that `keep` selects. */
  private def scanLevels(table: ManifestTable, sub: String, keep: String => Boolean)
      : Option[DataFrame] = {
    val files = table.snapshot().filter(f => (sub.isEmpty || f.startsWith(s"$sub/")) && keep(f))
    if (files.isEmpty) None
    else {
      val statuses = table.listed(files)
      Some(table.scanListed(statuses, table.footerSchema(statuses.head)))
    }
  }

  /** The N of the `<levelCol>=N` directory a store file sits in. */
  private def levelOf(levelCol: String, file: String): Option[Long] =
    file.split('/').collectFirst {
      case d if d.startsWith(s"$levelCol=") => d.stripPrefix(s"$levelCol=")
    }.flatMap(_.toLongOption)

  /** Land `trees` — (sub, frame) pairs, `""` for the table's own root;
    * no frame carries `levelCol` — as level `level` of the levelled
    * store at `root`: each frame is staged as
    * `<sub>/<partitionCols>/<levelCol>=<level>/` files, and ONE manifest
    * commits the current files minus those at the levels `drop` selects
    * plus the staged ones. Every tree is a pure function of its input,
    * so a replay that drops its own level rewrites exactly that level.
    * Levels are non-negative (0 is the epoch build). */
  private def commitLevel(root: String, levelCol: String, level: Long, partitionCols: Seq[String],
      trees: Seq[(String, DataFrame)], drop: Long => Boolean): ManifestTable = {
    require(level >= 0, s"$levelCol must be >= 0 (0 is the epoch build)")
    val table = new ManifestTable(trees.head._2.sparkSession, root)
    table.update(f => levelOf(levelCol, f).exists(drop)) {
      trees.flatMap { case (sub, frame) =>
        table.stage(frame.withColumn(levelCol, lit(level)), Some(sub).filter(_.nonEmpty))(
          (w, dir) => w.partitionBy(partitionCols :+ levelCol: _*).parquet(dir))
      }
    }
    table
  }

  /** An append, a tombstone or a replay of either: `trees` land as level
    * `level`, replacing whatever that level held ([[commitLevel]]). The
    * store is then vacuumed on the writer thread, keeping the previous
    * manifest: a replay's superseded files go once a reader planned
    * before it can no longer need them, even in a store never compacted. */
  def writeLevel(root: String, levelCol: String, level: Long, partitionCols: String*)(
      trees: (String, DataFrame)*): Unit =
    vacuumed(commitLevel(root, levelCol, level, partitionCols, trees, _ == level))

  /** Version `level` of a chain kept as a levelled store (one level per
    * version): `frame` lands as level `level` in ONE manifest that drops
    * every other version but `read`, the one its writer read — a replay
    * of `level` reads it again — and the store is vacuumed as
    * [[writeLevel]] does. */
  def writeVersion(root: String, levelCol: String, level: Long, read: Option[Long])(
      frame: DataFrame): Unit =
    vacuumed(commitLevel(root, levelCol, level, Nil, Seq("" -> frame), v => !read.contains(v)))

  private def vacuumed(table: ManifestTable): Unit = {
    table.vacuum(keepManifests = 2, minAgeMillis = 0L)
    ()
  }

  /** The rows a fold-forward compaction at `level` merges: the rows of
    * tree `sub` of the store at `root` at levels ≤ `level` (without
    * `levelCol`), minus the ids in tree `delSub` of the store at
    * `delRoot` (the same store or a sibling) at levels ≤ `level` (one
    * broadcast anti-join) — deliberately INCLUDING `level`, so a replay
    * after a crash re-reads its own committed merge and converges. The
    * levels are picked from the manifests' file lists on the driver.
    * None when the tree holds no such row. */
  def resident(spark: SparkSession, root: String, sub: String, delRoot: String, delSub: String,
      levelCol: String, level: Long, idCol: String): Option[DataFrame] = {
    def upTo(r: String, s: String) = levelsWhere(spark, r, levelCol, s)(_ <= level).map(_.drop(levelCol))
    upTo(root, sub).map(raw => upTo(delRoot, delSub).fold(raw)(del =>
      raw.join(broadcast(del.select(col(idCol)).distinct()), Seq(idCol), "left_anti")))
  }

  /** The commit of a fold-forward compaction at `level`: `trees` (the
    * merged [[resident]] rows and the trigger batch) land as level
    * `level` in ONE manifest that drops every level ≤ `level` of the
    * store at `root` — the superseded levels and, in a store that holds
    * its own tombstones, the applied ones. A sibling tombstone store at
    * `delRoot` then commits its levels ≤ `level` away; a crash between
    * the two leaves tombstones the merge already applied, which screen
    * nothing and go with the next compaction. Both stores are then
    * vacuumed, keeping the previous manifest: a reader planned before
    * the compaction still finds its files. */
  def foldLevel(root: String, delRoot: String, levelCol: String, level: Long,
      partitionCols: String*)(trees: (String, DataFrame)*): Unit = {
    val table = commitLevel(root, levelCol, level, partitionCols, trees, _ <= level)
    val del = new ManifestTable(trees.head._2.sparkSession, delRoot)
    val applied = (f: String) => levelOf(levelCol, f).exists(_ <= level)
    if (delRoot != root && del.snapshot().exists(applied)) del.update(applied)(Nil)
    Seq(table, del).distinctBy(_.root).foreach(vacuumed)
  }

  /** The streaming maintenance loop of a levelled store: micro-batch
    * `b` lands at level `b + 1` (0 stays reserved for the epoch build
    * that seeded the store) — through `compact` on every
    * `compactEvery`-th batch (`compactEvery` > 0), even an EMPTY one (a
    * periodic data cadence could align empties with every trigger),
    * else through `append` when the batch is non-empty. Micro-batches
    * run sequentially on the foreachBatch thread, so the single-writer
    * contract holds by construction; a replayed batch re-runs the
    * same call at the same level. The caller sets trigger/checkpoint
    * options and starts the query. */
  def maintain(stream: DataFrame, compactEvery: Long)(
      compact: (DataFrame, Long) => Unit,
      append: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        compact(batch, batchId + 1L)
      else if (!batch.isEmpty)
        append(batch, batchId + 1L)
    }
}
