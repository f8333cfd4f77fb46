package graft

import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.operators.{Similarity, TextAnalysis, WritePipeline}
import graft.sources.{IndexStore, ManifestTable, SeriesStore}
import graft.streaming.StreamingIngest

/** Crash-point matrix for every mutation of the series store, of a
  * bucketed [[IndexStore]] (here under the store's `bucketed/`) and of
  * the levelled ones: a segmented BM25 store, an IVF corpus with its
  * tombstone store, and a dedupIngest sink, digest index and Bloom chain
  * (under `levelled/`). Each
  * mutation first runs clean on [[CrashFs]] to count its creates,
  * renames and deletes (n); then, for every k in 1..n, a copy of the
  * same starting store runs it with the k-th of those calls (and every
  * later one) failing. A fresh [[SeriesStore]] on the crashed copy must
  * answer with exactly the state before or the state after — for a
  * mutation that commits several stores one after another, each store
  * its own state before or after, in commit order; where it does not
  * answer "after", re-running the mutation reaches "after"; and then
  * `vacuum(minAgeMillis = 0)` of every table leaves no file that no
  * retained manifest lists. */
class SeriesStoreCrashSpec extends SparkSpec {
  import spark.implicits._

  CrashFs.register(spark)

  private val kt0 = ts("2024-03-01T00:00:00Z")

  /** `n` hours of series 1 and 2 from `start`. */
  private def rows(start: String, n: Int): DataFrame = {
    val t0 = Instant.parse(start)
    (for (sid <- Seq(1L, 2L); h <- 0 until n)
      yield (sid, Timestamp.from(t0.plusSeconds(3600L * h)), sid * 100.0 + h))
      .toDF("series_id", "valid_time", "value")
  }

  /** [[rows]] stamped for `series_values` at knowledge_time `kt`. */
  private def batch(start: String, n: Int, kt: Timestamp): DataFrame =
    WritePipeline.stamp(rows(start, n), Some("short"), Some(kt), now = kt, runId = 1L)

  private def runs(runId: Long): DataFrame =
    Seq((1L, runId, kt0), (2L, runId, kt0)).toDF("series_id", "run_id", "first_seen")

  /** A two-table bucketed store: `a` bucketed by `k`, `b` plain. */
  private def pairStore(s: SeriesStore, v: Int): Unit =
    IndexStore.write(s.valuesPath.stripSuffix("series_values") + "bucketed/pair", 2, Seq(
        IndexStore.Table("a", (0 until 6).map(k => (k.toLong, k * v)).toDF("k", "x"), Seq("k")),
        IndexStore.Table("b", Seq((v, "b")).toDF("v", "tag"))),
      Seq((v, 2)).toDF("v", "n_buckets"))

  /** Root of the levelled store `name` beside the series store `s`. */
  private def levelled(s: SeriesStore, name: String): String =
    s.valuesPath.stripSuffix("series_values") + s"levelled/$name"

  private def docs(ids: Long*): DataFrame =
    ids.map(i => (i, s"w${i % 3} w${i % 5} w$i")).toDF("doc_id", "text")

  private def vectors(ids: Long*): DataFrame =
    ids.map(i => (i, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11).toFloat), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")

  /** The levelled stores a dedupIngest micro-batch commits, in order. */
  private val dedupStores = Seq("dedup_out", "dedup_index", "dedup_index_bloom")

  /** One incremental-Bloom dedupIngest micro-batch of `docs` into the
    * stores beside `s`. */
  private def dedupBatch(s: SeriesStore, batchId: Long, docs: (Long, String)*): Unit =
    StreamingIngest.dedupBatch(docs.toDF("doc_id", "text"), batchId, levelled(s, "dedup_out"),
      levelled(s, "dedup_index"), "doc_id", "text", Some(1000L), incrementalBloom = true)

  private lazy val centroids = Similarity.cellCentroids(vectors(0L until 12L: _*)).localCheckpoint()

  /** An IVF corpus of vectors 0..11 in two levels, with vectors 2 and 7
    * tombstoned at level 2. */
  private def ivfStore(s: SeriesStore): Unit = {
    val path = levelled(s, "corpus")
    Similarity.ivfAppend(vectors(0L until 6L: _*), centroids, path, batchId = 0L)
    Similarity.ivfAppend(vectors(6L until 12L: _*), centroids, path, batchId = 1L)
    Similarity.ivfDelete(spark, path, Seq(2L, 7L), batchId = 2L)
  }

  /** Everything a reader of the store at `dir` can see, as sorted strings:
    * each levelled tree through [[IndexStore.levels]], the IVF corpus
    * through its tombstones as its serve sees it (a crash between the
    * corpus commit and the tombstone store's leaves tombstones that the
    * merge already applied). */
  private def state(dir: JPath): Seq[String] = {
    val store = new SeriesStore(spark, CrashFs.uri(dir.toString))
    def rows(tag: String, df: DataFrame) =
      df.collect().map(r => s"$tag ${r.mkString(",")}").sorted.toSeq
    def levels(name: String, sub: String = "") =
      IndexStore.levels(spark, CrashFs.uri(dir.resolve(s"levelled/$name").toString), sub)
    val bucketed = dir.resolve("bucketed")
    val stores =
      if (!Files.isDirectory(bucketed)) Nil
      else Files.list(bucketed).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    rows("values", store.scanValues().drop("valid_month")) ++
      rows("runs", store.scanRunSeries()) ++
      (try rows("zmirror", store.scanZOrdered("z"))
       catch { case e: IllegalArgumentException
         if e.getMessage.contains("run createZOrderedMirror first") => Seq("zmirror none") }) ++
      stores.flatMap { name =>
        val loaded = IndexStore.load(spark, CrashFs.uri(bucketed.resolve(name).toString))
        loaded.tables.toSeq.sortBy(_._1).flatMap { case (t, df) => rows(s"$name/$t", df) } :+
          s"$name/meta ${loaded.meta.mkString(",")}"
      } ++
      Seq("tf", "df", "meta", "del").flatMap(t => levels("bm25", t).toSeq.flatMap(rows(s"bm25/$t", _))) ++
      levels("corpus").toSeq.flatMap(c => rows("corpus", levels("corpus_del").fold(c)(d =>
        c.join(d.select("vec_id"), Seq("vec_id"), "left_anti")))) ++
      dedupStores.flatMap(t =>
        levels(t).toSeq.flatMap(df => rows(t, df.selectExpr("to_json(struct(*))"))))
  }

  /** `got` is the state `before` or `after`, or, for a mutation that
    * commits the levelled stores `order` one after another, each of them
    * is at its state after up to some point of `order` and at its state
    * before from there on, with everything else unchanged. */
  private def consistent(got: Seq[String], before: Seq[String], after: Seq[String],
      order: Seq[String]): Boolean = {
    def of(state: Seq[String], t: String) = state.filter(_.startsWith(s"$t "))
    val others = (state: Seq[String]) => state.filterNot(l => order.exists(t => l.startsWith(s"$t ")))
    got == before || got == after || (others(got) == others(before) &&
      (0 to order.length).exists { i =>
        val (done, pending) = order.splitAt(i)
        done.forall(t => of(got, t) == of(after, t)) && pending.forall(t => of(got, t) == of(before, t))
      })
  }

  /** Local files under `dir` that no retained manifest of their table
    * lists (the manifests themselves excepted). */
  private def unlisted(dir: JPath): Seq[String] = {
    def files(d: JPath): Seq[JPath] =
      if (!Files.isDirectory(d)) Seq.empty
      else {
        val walk = Files.walk(d)
        try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally walk.close()
      }
    val tables = Seq(dir.resolve("series_values"), dir.resolve("run_series")) ++
      Seq("zordered", "bucketed", "levelled").map(dir.resolve).filter(Files.isDirectory(_))
        .flatMap(d => Files.list(d).iterator().asScala.toSeq)
    val listed = tables.flatMap { t =>
      val manifests = files(t.resolve("_manifests"))
        .filter(_.getFileName.toString.matches("v\\d{8}\\.list"))
      manifests ++ manifests.flatMap(m => Files.readAllLines(m).asScala.filter(_.nonEmpty).map(t.resolve))
    }.toSet
    files(dir).filterNot(listed).map(p => dir.relativize(p).toString)
  }

  private def copyTree(from: JPath, to: JPath): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
  }

  /** Wait until no task is running: the tasks of a job that failed on an
    * injected crash may still be writing when the action returns. */
  private def quiesce(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def running = {
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.statusTracker.getExecutorInfos.exists(_.numRunningTasks() > 0)
    }
    while (running && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Run the matrix for one mutation, which commits the levelled stores
    * `order` one after another when given; returns n. */
  private def matrix(name: String, order: Seq[String] = Nil)(setup: SeriesStore => Unit)(
      mutate: SeriesStore => Unit): Long = {
    val template = Files.createTempDirectory(s"crash_${name}_")
    val uriOf = (d: JPath) => CrashFs.uri(d.toString)
    CrashFs.reset()
    val seed = new SeriesStore(spark, uriOf(template))
    seed.create()
    setup(seed)
    val before = state(template)

    val clean = Files.createTempDirectory(s"crash_${name}_clean_")
    copyTree(template, clean)
    CrashFs.reset()
    mutate(new SeriesStore(spark, uriOf(clean)))
    val n = CrashFs.mutationCount
    val after = state(clean)
    assert(n > 0, s"$name: a clean run made no create/rename/delete")

    for (k <- 1L to n) {
      val dir = Files.createTempDirectory(s"crash_${name}_k${k}_")
      copyTree(template, dir)
      CrashFs.arm(k)
      try mutate(new SeriesStore(spark, uriOf(dir))) catch { case _: Exception => () }
      quiesce()
      CrashFs.disarm()
      val got = state(dir)
      assert(consistent(got, before, after, order),
        s"$name crashed at call $k of $n answers neither the state before nor after:\n" +
          got.mkString("\n"))
      if (got != after) {
        mutate(new SeriesStore(spark, uriOf(dir)))
        assert(state(dir) == after, s"$name crashed at call $k: re-run did not reach after")
      }
      new SeriesStore(spark, uriOf(dir)).vacuum(minAgeMillis = 0L)
      val levelledDir = dir.resolve("levelled")
      if (Files.isDirectory(levelledDir)) Files.list(levelledDir).iterator().asScala.foreach(t =>
        new ManifestTable(spark, uriOf(t)).vacuum(keepManifests = 2, minAgeMillis = 0L))
      assert(unlisted(dir).isEmpty, s"$name crashed at call $k: vacuum left ${unlisted(dir)}")
      assert(state(dir) == after)
      FsUtil.deleteRecursively(dir.toFile)
    }
    Seq(template, clean).foreach(d => FsUtil.deleteRecursively(d.toFile))
    n
  }

  test("crash matrix: series_values append") {
    val n = matrix("append")(_.appendValues(batch("2024-03-01T00:00:00Z", 3, kt0)))(
      _.appendValues(batch("2024-03-01T03:00:00Z", 3, ts("2024-03-01T01:00:00Z"))))
    info(s"$n crash points")
  }

  test("crash matrix: compaction") {
    val n = matrix("compact") { s =>
      (0 until 3).foreach(i =>
        s.appendValues(batch(f"2024-03-01T0$i:00:00Z", 2, ts(f"2024-03-01T0$i:30:00Z"))))
    }(s => assert(s.compactPartitions(maxFiles = 2).nonEmpty))
    info(s"$n crash points")
  }

  test("crash matrix: TTL expiry") {
    val n = matrix("expire") { s =>
      s.appendValues(batch("2020-01-15T00:00:00Z", 2, kt0))
      s.appendValues(batch("2024-02-20T00:00:00Z", 2, kt0))
    }(s => assert(s.expireRetention(Instant.parse("2024-03-01T00:00:00Z")).nonEmpty))
    info(s"$n crash points")
  }

  test("crash matrix: vacuum") {
    val n = matrix("vacuum") { s =>
      (0 until 3).foreach(i =>
        s.appendValues(batch(f"2024-03-01T0$i:00:00Z", 2, ts(f"2024-03-01T0$i:30:00Z"))))
      s.appendRunSeries(runs(1L))
      s.appendRunSeries(runs(2L))
      s.compactPartitions(maxFiles = 2)
    }(_.vacuum(keepManifests = 1, minAgeMillis = 0L))
    info(s"$n crash points")
  }

  test("crash matrix: run_series append") {
    val n = matrix("runs")(_.appendRunSeries(runs(1L)))(_.appendRunSeries(runs(2L)))
    info(s"$n crash points")
  }

  test("crash matrix: z-mirror rebuild") {
    val n = matrix("zmirror") { s =>
      s.appendValues(batch("2024-03-01T00:00:00Z", 3, kt0))
      s.createZOrderedMirror("z", files = 2)
      s.appendValues(batch("2024-03-01T03:00:00Z", 3, ts("2024-03-01T01:00:00Z")))
    }(_.createZOrderedMirror("z", files = 2))
    info(s"$n crash points")
  }

  test("crash matrix: bucketed-mirror rebuild") {
    val n = matrix("bkmirror") { s =>
      s.appendValues(batch("2024-03-01T00:00:00Z", 3, kt0))
      s.createBucketedMirror("b", nBuckets = 2)
      s.appendValues(batch("2024-03-01T03:00:00Z", 3, ts("2024-03-01T01:00:00Z")))
    }(_.createBucketedMirror("b", nBuckets = 2))
    info(s"$n crash points")
  }

  test("crash matrix: IndexStore.write of a two-table store") {
    val n = matrix("indexstore")(pairStore(_, 1))(pairStore(_, 2))
    info(s"$n crash points")
  }

  test("crash matrix: BM25 segment append") {
    val n = matrix("bm25append")(s =>
      TextAnalysis.bm25AppendSegment(docs(0L, 1L, 2L), levelled(s, "bm25"), segmentId = 0L))(s =>
      TextAnalysis.bm25AppendSegment(docs(3L, 4L), levelled(s, "bm25"), segmentId = 1L))
    info(s"$n crash points")
  }

  test("crash matrix: BM25 delete") {
    val n = matrix("bm25delete") { s =>
      TextAnalysis.bm25AppendSegment(docs(0L, 1L, 2L), levelled(s, "bm25"), segmentId = 0L)
      TextAnalysis.bm25AppendSegment(docs(3L, 4L), levelled(s, "bm25"), segmentId = 1L)
    }(s => TextAnalysis.bm25DeleteDocs(spark, levelled(s, "bm25"), Seq(1L, 4L), segmentId = 2L))
    info(s"$n crash points")
  }

  test("crash matrix: BM25 compaction applying a tombstone at its own segment") {
    val n = matrix("bm25compact") { s =>
      TextAnalysis.bm25AppendSegment(docs(0L, 1L, 2L), levelled(s, "bm25"), segmentId = 0L)
      TextAnalysis.bm25AppendSegment(docs(3L, 4L), levelled(s, "bm25"), segmentId = 1L)
      TextAnalysis.bm25DeleteDocs(spark, levelled(s, "bm25"), Seq(1L, 4L), segmentId = 2L)
    }(s => TextAnalysis.bm25CompactSegments(docs(5L), levelled(s, "bm25"), segmentId = 2L))
    info(s"$n crash points")
  }

  test("crash matrix: IVF compaction applying a tombstone") {
    val n = matrix("ivfcompact")(ivfStore)(s =>
      Similarity.ivfCompact(vectors(12L, 13L), centroids, levelled(s, "corpus"), batchId = 3L))
    info(s"$n crash points")
  }

  test("crash matrix: dedupIngest micro-batch (incremental Bloom)") {
    val n = matrix("dedup", dedupStores) { s =>
      dedupBatch(s, 0L, (1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta"))
      dedupBatch(s, 1L, (4L, "gamma delta"), (5L, "epsilon zeta"))
    }(dedupBatch(_, 2L, (6L, "alpha beta"), (7L, "eta theta"), (8L, "iota kappa")))
    info(s"$n crash points")
  }

  test("a TimeDb.write makes a pinned set of filesystem calls") {
    val local = Files.createTempDirectory("crash_write_")
    val db = new TimeDb(spark, CrashFs.uri(local.toString))
    db.create()
    db.write(rows("2024-03-01T00:00:00Z", 3), retention = Some("short"), knowledgeTime = Some(kt0))
    CrashFs.reset()
    db.write(rows("2024-03-01T03:00:00Z", 3), retention = Some("short"),
      knowledgeTime = Some(ts("2024-03-01T01:00:00Z")))
    // per lane: one data file created in the flat staging dir and
    // renamed into place, and one manifest created and renamed; no
    // attempt tree, merge rename or _SUCCESS marker; one listing of
    // `_manifests` per lane gives the file list and the next version
    assert(CrashFs.counts == Map("create" -> 4L, "delete" -> 2L, "exists" -> 4L,
      "getFileStatus" -> 8L, "listStatus" -> 2L, "mkdirs" -> 8L, "open" -> 2L, "rename" -> 4L))
    FsUtil.deleteRecursively(local.toFile)
  }

  test("a TimeDb.read makes a pinned set of filesystem calls") {
    val local = Files.createTempDirectory("crash_read_")
    val db = new TimeDb(spark, CrashFs.uri(local.toString))
    db.create()
    db.write(rows("2024-03-01T00:00:00Z", 3), retention = Some("short"), knowledgeTime = Some(kt0))
    db.write(rows("2024-04-01T00:00:00Z", 3), retention = Some("short"),
      knowledgeTime = Some(ts("2024-03-02T00:00:00Z")))
    val filter = ReadFilter(Seq(1L), startValid = Some(ts("2024-03-01T00:00:00Z")),
      endValid = Some(ts("2024-03-02T00:00:00Z")))
    db.read(filter).collect() // warm
    CrashFs.reset()
    assert(db.read(filter).collect().length == 3)
    // the manifest listing and read, one listing of the pruned file's
    // directory for the file index, and the parquet footer and row read
    assert(CrashFs.counts == Map("getFileStatus" -> 8L, "listStatus" -> 2L, "open" -> 2L))
    FsUtil.deleteRecursively(local.toFile)
  }
}
