package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Physical storage for the stored indexes — the one module that knows
  * how an index lands on disk. The operator families
  * ([[graft.operators.Dedup]], [[graft.operators.TextAnalysis]],
  * [[graft.operators.Similarity]]) build and serve; they reach the
  * filesystem and the catalog only through here. Two store forms:
  *
  *  - **Bucketed epoch store** ([[write]] / [[register]]): catalog
  *    tables `<prefix>_<sub>` over `<path>/<sub>`, each either written
  *    `bucketBy`+`sortBy` its join key — so a loaded scan exposes
  *    `HashPartitioning` to the planner and keyed joins/aggregates
  *    over it plan with no corpus-side exchange — or plain parquet,
  *    plus a one-row `<prefix>_meta` table. One file per bucket: each
  *    bucketed table is repartitioned on its bucket key with the
  *    bucket count before the write (`bucketBy`'s routing is the same
  *    murmur3-pmod), so every write task holds exactly one bucket and
  *    the reader keeps the file-level sort (multi-file buckets forfeit
  *    `sortBy`'s outputOrdering). The meta row holds the family's
  *    build parameters (its typed `load` reads them by position) and
  *    the layout: `n_buckets` and an appended [[LayoutCol]] column
  *    (table → bucket columns), so [[register]] re-declares every
  *    table from the store alone — never from a caller guess, since a
  *    wrong declared bucket count silently mis-routes a bucketed join.
  *    The catalog entry is METADATA only: under Spark's default
  *    in-memory catalog it dies with the session while the files and
  *    their layout persist, and a new session re-attaches with
  *    [[register]] (a persistent metastore makes that call a no-op).
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
  *    [[SeriesStore]]'s tables are) is the upgrade path when readers
  *    can't quiesce.
  */
object IndexStore {

  /** The meta-row column holding each table's bucket columns (empty
    * for a plain table). */
  private val LayoutCol = "bucket_cols"

  /** One table of a bucketed epoch store: data at `<path>/<sub>`,
    * catalog name `<prefix>_<sub>`; no `bucketCols` = plain parquet. */
  final case class Table(sub: String, frame: DataFrame, bucketCols: Seq[String] = Nil)

  private def requireSafe(tablePrefix: String): Unit =
    require(tablePrefix.matches("[A-Za-z0-9_]+"), s"unsafe table prefix: $tablePrefix")

  /** Write a bucketed epoch store: every table in `tables`, then the
    * one-row `meta` frame (which must carry the family's `n_buckets`
    * column) with [[LayoutCol]] appended. Overwrites a previous store
    * at the same prefix and path. */
  def write(tablePrefix: String, path: String, nBuckets: Int,
      tables: Seq[Table], meta: DataFrame): Unit = {
    requireSafe(tablePrefix)
    require(nBuckets > 0, "nBuckets must be positive")
    require(meta.columns.contains("n_buckets"), "meta must carry n_buckets")
    def save(t: Table): Unit = {
      val keyed = if (t.bucketCols.isEmpty) t.frame
        else t.frame.repartition(nBuckets, t.bucketCols.map(col): _*)
      val w = keyed.write.mode(SaveMode.Overwrite).format("parquet")
        .option("path", s"$path/${t.sub}")
      (t.bucketCols match {
        case Seq() => w
        case c +: cs => w.bucketBy(nBuckets, c, cs: _*).sortBy(c, cs: _*)
      }).saveAsTable(s"${tablePrefix}_${t.sub}")
    }
    tables.foreach(save)
    save(Table("meta",
      meta.withColumn(LayoutCol, typedLit(tables.map(t => t.sub -> t.bucketCols).toMap))))
  }

  /** Re-attach a [[write]] store made by a PRIOR session: declares each
    * catalog table over the existing files (schemas inferred from the
    * parquet, bucket spec from the store's own meta row). Idempotent —
    * tables that already exist are left alone, so calling it in the
    * writing session is a no-op. */
  def register(spark: SparkSession, tablePrefix: String, path: String): Unit = {
    requireSafe(tablePrefix)
    val meta = spark.read.parquet(s"$path/meta").head()
    require(meta.schema.fieldNames.contains(LayoutCol),
      s"$path/meta has no $LayoutCol column (written before it existed): rebuild the store")
    val nBuckets = meta.getAs[Int]("n_buckets")
    val layout = meta.getMap[String, scala.collection.Seq[String]](meta.fieldIndex(LayoutCol))
    (layout.toSeq :+ ("meta" -> Nil)).foreach { case (sub, bucketCols) =>
      val name = s"${tablePrefix}_$sub"
      if (!spark.catalog.tableExists(name)) {
        val ddlCols = spark.read.parquet(s"$path/$sub").schema.fields
          .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
        val keys = bucketCols.map(c => s"`$c`").mkString(", ")
        val cluster = if (bucketCols.isEmpty) ""
          else s" CLUSTERED BY ($keys) SORTED BY ($keys) INTO $nBuckets BUCKETS"
        spark.sql(s"CREATE TABLE $name ($ddlCols) USING parquet$cluster LOCATION '$path/$sub'")
      }
    }
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
