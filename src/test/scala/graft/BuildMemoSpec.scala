package graft

import org.apache.spark.sql.SaveMode

/** The registry's memoized index and store builds follow their data
  * directory: after [[SparkEntry.invalidateBuildMemos]], a query over a
  * rewritten directory answers from the new contents. */
class BuildMemoSpec extends SparkSpec {
  import spark.implicits._

  private def docs(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until 40).map { i =>
      (i.toLong, (0 until 6 + rnd.nextInt(6)).map(_ => s"w${rnd.nextInt(20)}").mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def writeDocs(dir: String, seed: Int): Unit =
    docs(seed).write.mode(SaveMode.Overwrite).parquet(Tables.path(dir, "documents"))

  test("invalidateBuildMemos: the stored BM25 indexes serve a rewritten data dir's new contents") {
    val names = Seq("x_text_bm25_stored", "x_text_bm25_incremental", "x_text_bm25_deleted")
    def serve(dir: String) = names.map(n => n -> SparkEntry.queries(n)(spark, dir).collect().toSeq)
    val dir = java.nio.file.Files.createTempDirectory("memo_rewritten").toString
    val fresh = java.nio.file.Files.createTempDirectory("memo_fresh").toString
    try {
      writeDocs(dir, seed = 5)
      val old = serve(dir)
      writeDocs(dir, seed = 6)
      Tables.invalidate()
      SparkEntry.invalidateBuildMemos()
      writeDocs(fresh, seed = 6)
      val want = serve(fresh)
      for (((n, got), (_, exp)) <- serve(dir).zip(want)) {
        if (got != exp) fail(s"$n serves the directory's previous contents")
        if (got == old.toMap.apply(n)) fail(s"$n: the two corpora must answer differently")
      }
    } finally Seq(dir, fresh).foreach(d => FsUtil.deleteRecursively(new java.io.File(d)))
  }
}
