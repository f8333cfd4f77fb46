package graft.sources

import org.apache.hadoop.fs.Path
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
  *  - **Levelled store** ([[writeLeaf]] / [[resident]] / [[reap]] /
  *    [[maintain]]): immutable `<levelCol>=<id>` leaves (under any
  *    leading partition columns) written with DYNAMIC partition
  *    overwrite — every leaf is a pure function of its input, so a
  *    replayed append rewrites exactly its original leaves
  *    (exactly-once in the store from an at-least-once trigger).
  *    Deletes are tombstone leaves (doomed ids) in a sibling tree.
  *    Fold-forward compaction at level L reads [[resident]] (rows at
  *    levels ≤ L minus ids tombstoned at ≤ L — deliberately INCLUDING
  *    L, so a replay after a crash re-reads its own committed merge
  *    and converges), the family dedupes and rewrites the merged set
  *    as level L, then [[reap]] drops the superseded levels (< L) and
  *    the applied tombstones (≤ L). Contract: SINGLE WRITER (the
  *    [[maintain]] loop runs every mutation on the stream's own
  *    foreachBatch thread), and concurrent readers must tolerate the
  *    reap window — directory-listing readers can hit a vanished
  *    level mid-scan; putting the levels on a [[ManifestTable]] (as
  *    the bucketed form is) is the upgrade path when readers can't
  *    quiesce.
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
    store.vacuum(keepManifests = 2, minAgeMillis = 0L)
    ()
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
    val metaFiles = bySub(MetaSub)
    val meta = store.collectSmall(metaFiles, store.footerSchema(metaFiles.head)).head
    val nBuckets = meta.getAs[Int]("n_buckets")
    val layout = meta.getMap[String, scala.collection.Seq[String]](meta.fieldIndex(LayoutCol))
    Loaded(meta, layout.toMap.map { case (sub, keys) =>
      val statuses = bySub(sub)
      val spec = if (keys.isEmpty) None else Some(BucketSpec(nBuckets, keys.toSeq, keys.toSeq))
      sub -> store.scanListed(statuses, store.footerSchema(statuses.head), spec)
    })
  }

  /** One `<levelCol>=<level>` leaf of the tree at `root`, under
    * `partitionCols` when given (the IVF stores lead with `cell`),
    * written under dynamic partition overwrite. `df` carries no
    * `levelCol`; levels are non-negative (0 is the epoch build). */
  def writeLeaf(df: DataFrame, root: String, levelCol: String, level: Long,
      partitionCols: String*): Unit = {
    require(level >= 0, s"$levelCol must be >= 0 (0 is the epoch build)")
    df.withColumn(levelCol, lit(level))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols :+ levelCol: _*)
      .parquet(root)
  }

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** The rows a fold-forward compaction at `level` merges: rows of the
    * tree at `root` at levels ≤ `level` (without `levelCol`), minus the
    * ids tombstoned in `tombstoneRoot` at levels ≤ `level` (one
    * broadcast anti-join). None when the tree does not exist yet. */
  def resident(spark: SparkSession, root: String, tombstoneRoot: String,
      levelCol: String, level: Long, idCol: String): Option[DataFrame] = {
    val fs = fsOf(spark, root)
    if (!fs.exists(new Path(root))) None
    else {
      val raw = spark.read.parquet(root).filter(col(levelCol) <= level).drop(levelCol)
      Some(if (fs.exists(new Path(tombstoneRoot)))
        raw.join(broadcast(spark.read.parquet(tombstoneRoot)
          .filter(col(levelCol) <= level).select(col(idCol)).distinct()),
          Seq(idCol), "left_anti")
      else raw)
    }
  }

  /** After a fold-forward rewrite at `level` has committed: delete every
    * `<levelCol>=N` directory, at any depth, with N < `level` under
    * `roots` (superseded levels) and N ≤ `level` under `tombstoneRoot`
    * (applied tombstones). A crash mid-reap just leaves fewer levels
    * for the replay to fold. */
  def reap(spark: SparkSession, roots: Seq[String], tombstoneRoot: String,
      levelCol: String, level: Long): Unit = {
    val fs = fsOf(spark, tombstoneRoot)
    val prefix = s"$levelCol="
    def walk(dir: Path, drop: Long => Boolean): Unit =
      if (fs.exists(dir)) fs.listStatus(dir).filter(_.isDirectory).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith(prefix)) walk(st.getPath, drop)
        else if (n.stripPrefix(prefix).toLongOption.exists(drop)) fs.delete(st.getPath, true)
      }
    roots.foreach(r => walk(new Path(r), _ < level))
    walk(new Path(tombstoneRoot), _ <= level)
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
