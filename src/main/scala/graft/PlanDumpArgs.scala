package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic sibling of [[PlanDump]]: print the formatted physical
  * plan of each query named on the command line (first arg = data
  * dir). Used to produce the committed `plans/r18/<query>_{before,
  * after}.txt` evidence files — run it at the code state whose plans
  * you are claiming (`git worktree` for a historical "before").
  * `sbt "runMain graft.PlanDumpArgs <sfdir> <query> [query ...]"`. */
object PlanDumpArgs {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names) {
      println(s"\n===== $name =====")
      // same control-character escaping as PlanDump: keep the dump
      // diffable text even when a plan string carries NUL sentinels
      println(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
        .flatMap(c => if (c < ' ' && c != '\n' && c != '\t') f"\\u${c.toInt}%04x" else c.toString))
    }
    spark.stop()
  }
}
