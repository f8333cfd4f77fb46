package graft

import org.apache.spark.sql.functions._

/** Isolated scale-up A/B: the r11-style adjudication harness for
  * `scale_up_ratio_10x` outliers, as its own fresh-JVM main instead of
  * a hand-run experiment. Builds the SAME 10× sharded tables as the
  * bench's scale_up section (id-shifted events; documents with
  * DISJOINT per-shard token spaces, so signature/posting structures
  * grow linearly by construction), ingests both dirs through the same
  * mirror layout, prewarms the per-dir index builds, then times each
  * query interleaved 1×,10×,1×,10× over `SPARK_GRAFT_AB_ROUNDS`
  * (default 9) rounds with per-(query, dir) minima — both sides in ONE
  * session under the volume-sized shuffle conf, so the ratio compares
  * volumes, not epochs or layouts.
  *
  * Also prints the shard skew check for the documents family: per-doc
  * token-count stats and the max per-token document frequency at both
  * scales. Disjoint token shards must leave per-doc stats and max df
  * IDENTICAL (each shard is a bijective token rename of the base
  * corpus) while doc count grows 10× — posting lists get more LISTS,
  * never deeper ones, which is the linear-workload premise the ratio
  * rests on.
  *
  * Usage: SPARK_GRAFT_AB=q1,q2 sbt "runMain graft.ScaleUpAb [sfdir]"
  * The queries must read only the scaled tables
  * ([[ScaleUpTables.tables]]); any other name fails before timing.
  * Never writes artifact files — evidence goes to BASELINE.md by hand;
  * its temp dirs are removed on every exit.
  */
object ScaleUpAb {
  def main(args: Array[String]): Unit = {
    val sfDir = AbBench.sfDirArg(args)
    val names = AbBench.abNames()
    val rounds = AbBench.abRounds(9)
    // volume-sized shuffles on BOTH sides, like the bench's section
    val spark = AbBench.session(AbBench.cpus)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val pid = ProcessHandle.current().pid()
    val tmp = sys.props("java.io.tmpdir")
    val upDir = new java.io.File(tmp, s"graft_scaleupab_${pid}").getPath
    val m1 = new java.io.File(tmp, s"graft_scaleupab_m1_$pid").getPath
    val m10 = new java.io.File(tmp, s"graft_scaleupab_m10_$pid").getPath
    try run(spark, sfDir, names, rounds, upDir, m1, m10)
    finally {
      Seq(upDir, m1, m10).foreach(p => FsUtil.deleteRecursively(new java.io.File(p)))
      spark.stop()
    }
  }

  private def run(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      names: Seq[String], rounds: Int, upDir: String, m1: String, m10: String): Unit = {
    // 10× build: the ONE shared construction (see ScaleUpTables) — this
    // harness adjudicates bench ratios, so it must build the bench's
    // workload
    ScaleUpTables.build10x(spark, sfDir, upDir)
    Tables.invalidate()
    SparkEntry.invalidateBuildMemos()

    // same ingest layout on both sides
    graft.operators.Layout.rechunkMirror(spark, sfDir, m1, Bench.chunkPolicy)
    graft.operators.Layout.rechunkMirror(spark, upDir, m10, Bench.chunkPolicy)
    // every named query must resolve against the 10× mirror before any
    // timing: it holds only the tables build10x scales
    for (n <- names) {
      try SparkEntry.queries(n)(spark, m10).queryExecution.assertAnalyzed()
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"query $n does not resolve against the 10x mirror, which holds only the " +
            s"${ScaleUpTables.tables.mkString(", ")} tables: ${e.getMessage}", e)
      }
    }

    // shard skew check (documents family)
    def docStats(dir: String): (Long, Double, Long, Long) = {
      val t = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val perDoc = t.groupBy("doc_id").count()
        .agg(count(lit(1)), avg("count"), max("count")).head()
      val maxDf = t.groupBy("tok").agg(countDistinct("doc_id").as("df"))
        .agg(max("df")).head().getLong(0)
      (perDoc.getLong(0), perDoc.getDouble(1), perDoc.getLong(2), maxDf)
    }
    val (n1, a1, x1, df1) = docStats(m1)
    val (n10, a10, x10, df10) = docStats(m10)
    println(f"skew-check 1x : docs $n1%d avg_tokens $a1%.2f max_tokens $x1%d max_token_df $df1%d")
    println(f"skew-check 10x: docs $n10%d avg_tokens $a10%.2f max_tokens $x10%d max_token_df $df10%d")
    println(s"skew-check verdict: " +
      (if (n10 == 10 * n1 && a10 == a1 && x10 == x1 && df10 == df1) "LINEAR BY CONSTRUCTION"
       else "DISTRIBUTIONS DIFFER — investigate before reading the ratio"))

    // per-dir index builds OUTSIDE the timed region (bench attribution)
    SparkEntry.prewarmBuilds(spark, m1)
    SparkEntry.prewarmBuilds(spark, m10)

    // both sides interleaved per round: 1×, 10×, 1×, 10×, …
    val samples = AbBench.interleave(for (n <- names; d <- Seq(m1, m10)) yield (n, d),
      rounds) { case (n, d) => SparkEntry.queries(n)(spark, d).count() }
    for (n <- names) {
      val t1 = samples((n, m1)).head
      val t10 = samples((n, m10)).head
      println(f"$n%-32s t1x $t1%.3f  t10x $t10%.3f  ratio ${t10 / t1}%.2f  (min-of-$rounds interleaved)")
    }
  }
}
