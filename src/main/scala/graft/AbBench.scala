package graft

import org.apache.spark.sql.SparkSession

/** Dev harness for epoch-immune plan A/Bs: time an arbitrary list of
  * registry queries INTERLEAVED in one session (A,B,A,B,… rounds), so
  * both variants inherit the same host weather — cross-epoch A/Bs on
  * this box routinely differ 1.5× on zero code change, which is noise
  * the alternation cancels. Same session profile as [[Bench]] (shuffle
  * partitions, AQE off, scan-split sizing, re-chunked mirror).
  *
  * Also the one home of the pieces its siblings share: the
  * bench-profile session ([[session]]), the `SPARK_GRAFT_AB` query
  * list and `SPARK_GRAFT_AB_ROUNDS` count, and the interleaved timing
  * loop ([[interleave]]) — [[ScaleUpAb]] and [[JobDecomp]] call them.
  *
  * Usage: SPARK_GRAFT_AB=q1,q2[,q3…] [SPARK_GRAFT_AB_ROUNDS=7]
  *        sbt "runMain graft.AbBench [sfdir]"
  * Prints per-query min/median over the rounds. Never writes artifact
  * files — this is a dev loop, not an evidence producer.
  */
object AbBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sfDirArg(args)
    val names = abNames()
    val rounds = abRounds(7)
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"))

    val dst = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_ab_mirror_${ProcessHandle.current().pid()}")
    graft.operators.Layout.rechunkMirror(spark, sfDir, dst.getPath, Bench.chunkPolicy)
    val dir = dst.getPath

    val samples = interleave(names, rounds)(n => SparkEntry.queries(n)(spark, dir).count())
    for (n <- names) {
      val s = samples(n)
      println(f"$n%-36s min ${s.head}%.3f  med ${s(s.size / 2)}%.3f  runs ${s.size}")
    }
    FsUtil.deleteRecursively(dst)
    spark.stop()
  }

  private[graft] def sfDirArg(args: Array[String]): String =
    if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The registry query names in `SPARK_GRAFT_AB` (comma-separated). */
  private[graft] def abNames(): Seq[String] = {
    val names = sys.env.getOrElse("SPARK_GRAFT_AB", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, "set SPARK_GRAFT_AB=q1,q2,...")
    names
  }

  private[graft] def abRounds(default: Int): Int =
    sys.env.getOrElse("SPARK_GRAFT_AB_ROUNDS", default.toString).toInt

  private[graft] def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors()).toString)

  /** The bench-profile session: `local[SPARK_GRAFT_CPUS]`, AQE
    * (`SPARK_GRAFT_AQE`, default off) and scan-split sizing
    * (`SPARK_GRAFT_MPB`) as in [[Bench]], UTC, no UI. The shuffle
    * partition count is the caller's. */
  private[graft] def session(shufflePartitions: String,
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MPB", "4194304"))
      .config("spark.sql.files.openCostInBytes", "1048576")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Times `run` on every key, interleaved: one untimed warm pass
    * (codegen, first-touch listings), then `rounds` rounds over all
    * keys in order. Returns each key's wall samples in seconds,
    * sorted ascending — `head` is the min, `s(s.size / 2)` the median. */
  private[graft] def interleave[K](keys: Seq[K], rounds: Int)(run: K => Unit)
      : Map[K, IndexedSeq[Double]] = {
    def once(k: K): Double = {
      val t0 = System.nanoTime()
      run(k)
      (System.nanoTime() - t0) / 1e9
    }
    keys.foreach(once)
    val samples = keys.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    for (_ <- 1 to rounds; k <- keys) samples(k) += once(k)
    samples.map { case (k, s) => k -> s.sorted.toIndexedSeq }
  }
}
