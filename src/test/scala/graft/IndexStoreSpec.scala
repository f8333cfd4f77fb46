package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{BucketingUtils, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.{IndexStore, ManifestTable}

/** On-disk layout pins for the six stored indexes (the bucketed ppjoin,
  * LSH near-dup and BM25 epoch stores; the levelled BM25 segment, IVF
  * and IVFPQ stores): directory trees, partition-directory names, each
  * loaded table's bucket spec, one file per bucket with every row in
  * its file's bucket, and the meta row's columns. A store written by
  * one version of the code must stay readable by the next, so any
  * change here is a format change. */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  /** The meta row's layout column, appended after the family's own. */
  private val layoutCols = Seq("bucket_cols")

  /** The directories of a store beside its tables' or trees': every
    * write ends with a vacuum, which removes the emptied `_staging`. */
  private val storeDirs = Seq("_manifests")

  /** The directories holding the files the current manifest of the
    * store at `root` lists. */
  private def listedDirs(root: String): Seq[String] =
    new ManifestTable(spark, root).currentFiles().map(f => f.take(f.lastIndexOf('/'))).distinct.sorted

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  /** Copy trees `subs` of the levelled store at `from` to `to` in the
    * on-disk form levelled stores had before they committed through a
    * manifest: a plain `partitionBy` parquet write per tree, with no
    * `_manifests`. Loaded scans of the copy must type like its path
    * reads, partition columns included. */
  private def premanifest(from: String, to: String, subs: Seq[String], partitionCols: String*): Unit =
    subs.foreach { sub =>
      val dst = if (sub.isEmpty) to else s"$to/$sub"
      IndexStore.levels(spark, from, sub).get.write.partitionBy(partitionCols: _*).parquet(dst)
      assert(!new java.io.File(to, "_manifests").exists)
      assert(IndexStore.levels(spark, to, sub).get.schema == spark.read.parquet(dst).schema)
      assert(IndexStore.levels(spark, to, sub).get.schema == IndexStore.levels(spark, from, sub).get.schema)
    }

  /** Every directory under `root`, relative and sorted. */
  private def dirs(root: String): Seq[String] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala
      .filter(p => p != base && java.nio.file.Files.isDirectory(p))
      .map(p => base.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  /** The bucket spec of a loaded scan, from its relation: no catalog
    * holds one. */
  private def bucketSpec(scan: DataFrame): Option[(Int, Seq[String], Seq[String])] =
    scan.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.bucketSpec
    }.get.map(b => (b.numBuckets, b.bucketColumnNames, b.sortColumnNames))

  /** The loaded bucketed `scan` holds one file per bucket, and every row
    * sits in the file of its bucket: `pmod(hash(keys), n)`, the routing
    * of Spark's bucketed writes, equals the id in its file's name. */
  private def assertOneFilePerBucket(scan: DataFrame): Unit = {
    val Some((n, keys, _)) = bucketSpec(scan)
    val ids = scan.inputFiles.toSeq.map(f => BucketingUtils.getBucketId(new Path(f).getName))
    assert(ids.nonEmpty && ids.forall(_.nonEmpty) && ids.distinct.size == ids.size,
      s"expected one file per bucket, got bucket ids $ids")
    val misrouted = scan.select(pmod(hash(keys.map(col): _*), lit(n)).as("b"),
        input_file_name().as("f")).collect()
      .filterNot(r => BucketingUtils.getBucketId(new Path(r.getString(1)).getName).contains(r.getInt(0)))
    assert(misrouted.length == 0, s"rows outside their file's bucket: ${misrouted.take(3).toSeq}")
  }

  private def docs = {
    val rnd = new scala.util.Random(5)
    (0 until 40).map { i =>
      (i.toLong, (0 until 6 + rnd.nextInt(6)).map(_ => s"w${rnd.nextInt(20)}").mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def emb = {
    val rnd = new scala.util.Random(9)
    (0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat()), i % 3))
      .toDF("vec_id", "embedding", "label")
  }

  private def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString

  test("bucketed ppjoin store: df/sets bucketed by their join keys, postings and meta plain") {
    val root = tmp("layout_ppjoin")
    Dedup.storePpJoinIndexBucketed(
      Dedup.ppJoinIndex(docs, n = 1, threshold = 0.5), root, nBuckets = 4)
    assert(dirs(root) == storeDirs ++ Seq("df", "meta", "postings", "sets"))
    val store = IndexStore.load(spark, root)
    assert(store.tables.keySet == Set("df", "sets", "postings"))
    assert(bucketSpec(store.tables("df")) == Some((4, Seq("sh"), Seq("sh"))))
    assert(bucketSpec(store.tables("sets")) == Some((4, Seq("doc_id"), Seq("doc_id"))))
    assert(bucketSpec(store.tables("postings")).isEmpty)
    Seq("df", "sets").foreach(t => assertOneFilePerBucket(store.tables(t)))
    assert(store.meta.schema.fieldNames.toSeq ==
      Seq("n", "threshold", "id_col", "n_buckets") ++ layoutCols)
  }

  test("bucketed LSH near-dup store: postings bucketed by (band, band_key)") {
    val root = tmp("layout_neardup")
    Dedup.storeNearDupIndexBucketed(
      Dedup.nearDupIndex(docs, n = 2, numHashes = 8, bands = 4),
      n = 2, numHashes = 8, bands = 4, maxBucket = Dedup.DefaultMaxBucket,
      path = root, nBuckets = 4)
    assert(dirs(root) == storeDirs ++ Seq("meta", "postings"))
    val store = IndexStore.load(spark, root)
    assert(store.tables.keySet == Set("postings"))
    assert(bucketSpec(store.tables("postings")) ==
      Some((4, Seq("band", "band_key"), Seq("band", "band_key"))))
    assertOneFilePerBucket(store.tables("postings"))
    assert(store.meta.schema.fieldNames.toSeq ==
      Seq("n", "num_hashes", "bands", "max_bucket", "n_buckets", "id_col") ++ layoutCols)
  }

  test("bucketed BM25 store: tf bucketed by doc id, stats and meta plain") {
    val root = tmp("layout_bm25")
    TextAnalysis.storeBm25IndexBucketed(TextAnalysis.bm25Index(docs), root, nBuckets = 4)
    assert(dirs(root) == storeDirs ++ Seq("meta", "stats", "tf"))
    val store = IndexStore.load(spark, root)
    assert(store.tables.keySet == Set("tf", "stats"))
    assert(bucketSpec(store.tables("tf")) == Some((4, Seq("doc_id"), Seq("doc_id"))))
    assert(bucketSpec(store.tables("stats")).isEmpty)
    assertOneFilePerBucket(store.tables("tf"))
    assert(store.meta.schema.fieldNames.toSeq == Seq("id_col", "n_buckets") ++ layoutCols)
  }

  test("loading a directory with no manifest fails with the rebuild message") {
    // a store written before bucketed stores committed through a manifest:
    // plain table directories and a meta table, no _manifests
    val root = tmp("layout_premanifest")
    docs.write.parquet(s"$root/tf")
    Seq(("doc_id", 4)).toDF("id_col", "n_buckets").write.parquet(s"$root/meta")
    val e = intercept[IllegalStateException](IndexStore.load(spark, root))
    assert(e.getMessage.contains("rebuild it"), e.getMessage)
    // a load never writes: the directory is as it was
    assert(dirs(root) == Seq("meta", "tf"))
  }

  test("segmented BM25 store: segment=<id> leaves per tree, tombstones under del") {
    val path = s"${tmp("layout_bm25_seg")}/segs"
    TextAnalysis.bm25AppendSegment(docs.filter(col("doc_id") < 20), path, segmentId = 0L)
    TextAnalysis.bm25AppendSegment(docs.filter(col("doc_id") >= 20), path, segmentId = 1L)
    TextAnalysis.bm25DeleteDocs(spark, path, Seq(3L, 30L), segmentId = 2L)
    val leaves = Seq("del/segment=2", "df/segment=0", "df/segment=1", "df/segment=2",
      "meta/segment=0", "meta/segment=1", "meta/segment=2", "tf/segment=0", "tf/segment=1")
    assert(dirs(path) == storeDirs ++ Seq("del", "del/segment=2",
      "df", "df/segment=0", "df/segment=1", "df/segment=2",
      "meta", "meta/segment=0", "meta/segment=1", "meta/segment=2",
      "tf", "tf/segment=0", "tf/segment=1"))
    assert(listedDirs(path) == leaves)
    // the per-segment stats tree is no bucketed store's layout row
    assert(IndexStore.levels(spark, path, "meta").get.columns.toSeq == Seq("n", "sum_dl", "segment"))
    val e = intercept[IllegalStateException](IndexStore.load(spark, path))
    assert(e.getMessage.contains("not a bucketed index store"), e.getMessage)
    // a store written before levelled stores had manifests is adopted,
    // tombstones included, by its next mutation
    val old = s"${tmp("layout_bm25_premanifest")}/segs"
    premanifest(path, old, Seq("tf", "df", "meta", "del"), "segment")
    def trees(p: String) = { val (tf, df, meta, del) = TextAnalysis.loadBm25Segments(spark, p)
      Seq(tf, df, meta, del.get).map(t => rows(t.filter(col("segment") < 5))) }
    TextAnalysis.bm25AppendSegment(Seq((200L, "w1 w9")).toDF("doc_id", "text"), old, segmentId = 5L)
    assert(new ManifestTable(spark, old).versions() == Seq(1L, 2L))
    assert(trees(old) == trees(path))
    val before = dirs(path)
    TextAnalysis.bm25CompactSegments(
      Seq((100L, "w1 w2 w3")).toDF("doc_id", "text"), path, segmentId = 3L)
    val compacted = Seq("df/segment=3", "meta/segment=3", "tf/segment=3")
    // the vacuum keeps the previous manifest's files for readers planned
    // against it
    assert(dirs(path) == (before ++ compacted).sorted)
    assert(listedDirs(path) == compacted)
  }

  /** The (cell, batch_id) leaves the rows of the store at `path` say it
    * holds, as directory paths. */
  private def cellLeaves(path: String): Seq[String] =
    IndexStore.levels(spark, path).get.select("cell", "batch_id").distinct().collect()
      .map(r => s"cell=${r.get(0)}/batch_id=${r.get(1)}").toSeq.sorted

  private def withCells(leaves: Seq[String]): Seq[String] =
    (leaves ++ leaves.map(_.takeWhile(_ != '/'))).distinct.sorted

  test("IVF store: cell=<c>/batch_id=<b> leaves, tombstones in the sibling _del tree") {
    val root = tmp("layout_ivf")
    val path = s"$root/corpus"
    val resident = emb.filter(col("vec_id") < 45)
    val cent = Similarity.cellCentroids(resident)
    Similarity.ivfAppend(resident, cent, path, batchId = 0L)
    Similarity.ivfAppend(emb.filter(col("vec_id") >= 45), cent, path, batchId = 1L)
    Similarity.ivfDelete(spark, path, Seq(2L, 50L), batchId = 2L)
    val appended = cellLeaves(path)
    assert(appended.map(_.dropWhile(_ != '/')).toSet == Set("/batch_id=0", "/batch_id=1"))
    val stores = Seq("corpus", "corpus_del").flatMap(t => t +: storeDirs.map(d => s"$t/$d"))
    assert(dirs(root) == (stores ++ Seq("corpus_del/batch_id=2") ++
      withCells(appended).map(d => s"corpus/$d")).sorted)
    assert(listedDirs(path) == appended && listedDirs(s"${path}_del") == Seq("batch_id=2"))
    // a corpus and tombstone store written before levelled stores had
    // manifests are each adopted, every row intact, by their next mutation
    val old = s"${tmp("layout_ivf_premanifest")}/corpus"
    premanifest(path, old, Seq(""), "cell", "batch_id")
    premanifest(s"${path}_del", s"${old}_del", Seq(""), "batch_id")
    def corpusRows(p: String) = rows(IndexStore.levels(spark, p).get.filter(col("batch_id") < 5))
    Similarity.ivfAppend(emb.filter(col("vec_id") === 58L), cent, old, batchId = 5L)
    Similarity.ivfDelete(spark, old, Seq(4L), batchId = 6L)
    assert(corpusRows(old) == corpusRows(path))
    assert(rows(IndexStore.levels(spark, s"${old}_del").get.filter(col("batch_id") < 5)) ==
      rows(IndexStore.levels(spark, s"${path}_del").get))
    assert(Seq(old, s"${old}_del").forall(new ManifestTable(spark, _).versions() == Seq(1L, 2L)))
    val before = dirs(root)
    Similarity.ivfCompact(emb.filter(col("vec_id") === 59L), cent, path, batchId = 3L)
    val compacted = cellLeaves(path)
    assert(compacted.forall(_.endsWith("/batch_id=3")) && compacted.nonEmpty)
    // the vacuum keeps the previous manifests' files for readers planned
    // against them
    assert(dirs(root) == (before ++
      withCells(compacted).map(d => s"corpus/$d")).distinct.sorted)
    assert(listedDirs(path) == compacted && listedDirs(s"${path}_del").isEmpty)
  }

  test("IVFPQ code store: the IVF leaf layout over code rows") {
    val root = tmp("layout_ivfpq")
    val path = s"$root/codes"
    val resident = emb.filter(col("vec_id") < 45)
    val cent = Similarity.cellCentroids(resident)
    val pq = Similarity.pqTrain(resident, m = 2, k = 3, iters = 2, dim = 8)
    Similarity.ivfPqAppend(resident, cent, pq, path, batchId = 0L, m = 2, dim = 8)
    Similarity.ivfPqAppend(emb.filter(col("vec_id") >= 45), cent, pq, path,
      batchId = 1L, m = 2, dim = 8)
    assert(IndexStore.levels(spark, path).get.columns.toSeq == Seq("vec_id", "codes", "cell", "batch_id"))
    val appended = cellLeaves(path)
    assert(appended.map(_.dropWhile(_ != '/')).toSet == Set("/batch_id=0", "/batch_id=1"))
    assert(dirs(root) == (Seq("codes") ++ storeDirs.map(d => s"codes/$d") ++
      withCells(appended).map(d => s"codes/$d")).sorted)
    assert(listedDirs(path) == appended)
    premanifest(path, s"${tmp("layout_ivfpq_premanifest")}/codes", Seq(""), "cell", "batch_id")
    Similarity.ivfPqCompact(emb.filter(col("vec_id") === 59L), cent, pq, path,
      batchId = 2L, m = 2, dim = 8)
    val compacted = cellLeaves(path)
    assert(compacted.forall(_.endsWith("/batch_id=2")) && compacted.nonEmpty)
    assert(dirs(root) == (Seq("codes", "codes/_manifests") ++
      withCells(appended ++ compacted).map(d => s"codes/$d")).sorted)
    assert(listedDirs(path) == compacted)
  }
}
