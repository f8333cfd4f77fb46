package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** On-disk layout pins for the six stored indexes (the bucketed ppjoin,
  * LSH near-dup and BM25 epoch stores; the levelled BM25 segment, IVF
  * and IVFPQ stores): directory trees, partition-directory names,
  * each catalog table's bucket spec, one file per bucket, and the meta
  * row's columns. A store written by one version of the code must
  * stay readable by the next, so any change here is a format change. */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  /** The meta row's layout column, appended after the family's own. */
  private val layoutCols = Seq("bucket_cols")

  /** Every directory under `root`, relative and sorted. */
  private def dirs(root: String): Seq[String] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala
      .filter(p => p != base && java.nio.file.Files.isDirectory(p))
      .map(p => base.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  private def bucketSpec(table: String): Option[(Int, Seq[String], Seq[String])] =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).bucketSpec
      .map(b => (b.numBuckets, b.bucketColumnNames, b.sortColumnNames))

  /** Bucket ids of the data files in `dir`; one file per bucket means
    * no id repeats. */
  private def assertOneFilePerBucket(dir: String): Unit = {
    val ids = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).toSeq.map(BucketingUtils.getBucketId)
    assert(ids.nonEmpty && ids.forall(_.nonEmpty) && ids.distinct.size == ids.size,
      s"$dir: expected one file per bucket, got bucket ids $ids")
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
      Dedup.ppJoinIndex(docs, n = 1, threshold = 0.5), "layout_ppjoin", root, nBuckets = 4)
    assert(dirs(root) == Seq("df", "meta", "postings", "sets"))
    assert(bucketSpec("layout_ppjoin_df") == Some((4, Seq("sh"), Seq("sh"))))
    assert(bucketSpec("layout_ppjoin_sets") == Some((4, Seq("doc_id"), Seq("doc_id"))))
    assert(bucketSpec("layout_ppjoin_postings").isEmpty)
    assert(bucketSpec("layout_ppjoin_meta").isEmpty)
    Seq("df", "sets").foreach(t => assertOneFilePerBucket(s"$root/$t"))
    assert(spark.read.parquet(s"$root/meta").columns.toSeq ==
      Seq("n", "threshold", "id_col", "n_buckets") ++ layoutCols)
  }

  test("bucketed LSH near-dup store: postings bucketed by (band, band_key)") {
    val root = tmp("layout_neardup")
    Dedup.storeNearDupIndexBucketed(
      Dedup.nearDupIndex(docs, n = 2, numHashes = 8, bands = 4),
      n = 2, numHashes = 8, bands = 4, maxBucket = Dedup.DefaultMaxBucket,
      tablePrefix = "layout_neardup", path = root, nBuckets = 4)
    assert(dirs(root) == Seq("meta", "postings"))
    assert(bucketSpec("layout_neardup_postings") ==
      Some((4, Seq("band", "band_key"), Seq("band", "band_key"))))
    assert(bucketSpec("layout_neardup_meta").isEmpty)
    assertOneFilePerBucket(s"$root/postings")
    assert(spark.read.parquet(s"$root/meta").columns.toSeq ==
      Seq("n", "num_hashes", "bands", "max_bucket", "n_buckets", "id_col") ++ layoutCols)
  }

  test("bucketed BM25 store: tf bucketed by doc id, stats and meta plain") {
    val root = tmp("layout_bm25")
    TextAnalysis.storeBm25IndexBucketed(
      TextAnalysis.bm25Index(docs), "layout_bm25", root, nBuckets = 4)
    assert(dirs(root) == Seq("meta", "stats", "tf"))
    assert(bucketSpec("layout_bm25_tf") == Some((4, Seq("doc_id"), Seq("doc_id"))))
    assert(bucketSpec("layout_bm25_stats").isEmpty)
    assert(bucketSpec("layout_bm25_meta").isEmpty)
    assertOneFilePerBucket(s"$root/tf")
    assert(spark.read.parquet(s"$root/meta").columns.toSeq ==
      Seq("id_col", "n_buckets") ++ layoutCols)
  }

  test("segmented BM25 store: segment=<id> leaves per tree, tombstones under del") {
    val path = s"${tmp("layout_bm25_seg")}/segs"
    TextAnalysis.bm25AppendSegment(docs.filter(col("doc_id") < 20), path, segmentId = 0L)
    TextAnalysis.bm25AppendSegment(docs.filter(col("doc_id") >= 20), path, segmentId = 1L)
    TextAnalysis.bm25DeleteDocs(spark, path, Seq(3L, 30L), segmentId = 2L)
    assert(dirs(path) == Seq("del", "del/segment=2",
      "df", "df/segment=0", "df/segment=1", "df/segment=2",
      "meta", "meta/segment=0", "meta/segment=1", "meta/segment=2",
      "tf", "tf/segment=0", "tf/segment=1"))
    TextAnalysis.bm25CompactSegments(
      Seq((100L, "w1 w2 w3")).toDF("doc_id", "text"), path, segmentId = 3L)
    assert(dirs(path) == Seq("del", "df", "df/segment=3", "meta", "meta/segment=3",
      "tf", "tf/segment=3"))
  }

  /** The (cell, batch_id) leaves the rows of the store at `path` say it
    * holds, as directory paths. */
  private def cellLeaves(path: String): Seq[String] =
    spark.read.parquet(path).select("cell", "batch_id").distinct().collect()
      .map(r => s"cell=${r.get(0)}/batch_id=${r.get(1)}").toSeq

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
    assert(dirs(root) == (Seq("corpus", "corpus_del", "corpus_del/batch_id=2") ++
      withCells(appended).map(d => s"corpus/$d")).sorted)
    Similarity.ivfCompact(emb.filter(col("vec_id") === 59L), cent, path, batchId = 3L)
    val compacted = cellLeaves(path)
    assert(compacted.forall(_.endsWith("/batch_id=3")) && compacted.nonEmpty)
    assert(dirs(root) == (Seq("corpus", "corpus_del") ++
      withCells(compacted).map(d => s"corpus/$d")).sorted)
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
    assert(spark.read.parquet(path).columns.toSeq == Seq("vec_id", "codes", "cell", "batch_id"))
    val appended = cellLeaves(path)
    assert(appended.map(_.dropWhile(_ != '/')).toSet == Set("/batch_id=0", "/batch_id=1"))
    assert(dirs(root) == (Seq("codes") ++ withCells(appended).map(d => s"codes/$d")).sorted)
    Similarity.ivfPqCompact(emb.filter(col("vec_id") === 59L), cent, pq, path,
      batchId = 2L, m = 2, dim = 8)
    val compacted = cellLeaves(path)
    assert(compacted.forall(_.endsWith("/batch_id=2")) && compacted.nonEmpty)
    assert(dirs(root) == (Seq("codes") ++ withCells(compacted).map(d => s"codes/$d")).sorted)
  }
}
