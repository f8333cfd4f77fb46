package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Curation.{keepTopQuantile, keepTopQuantileApprox}

/** Retired formulations of product operators, kept as the
  * value-equality references that PropertiesSpec pins the current
  * plans against. */
object Witnesses {

  /** [[graft.operators.TextAnalysis]]'s tokenizer. */
  private def toks(textCol: Column): Column =
    filter(split(textCol, " "), t => t =!= "")

  /** The pre-r18 [[graft.operators.TextAnalysis.classTfIdf]]
    * formulation — the ng term as an IN-PLAN 1-row broadcast (distinct
    * → agg → crossJoin) running a second documents scan. */
  def classTfIdfUnfolded(docs: DataFrame, groupCol: String,
      topK: Int = 10, textCol: String = "text"): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val terms = docs.filter(col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("group"),
        explode(toks(col(textCol))).as("token"))
    val tf = terms.groupBy(col("group"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("groups_with",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("token"))))
    val ng = docs.filter(col(groupCol).isNotNull)
      .select(col(groupCol)).distinct().agg(count(lit(1)).as("__ng"))
    val scored = tf
      .crossJoin(broadcast(ng))
      .withColumn("ctfidf",
        round(col("tf") * (log((col("__ng") + 1.0) / (col("groups_with") + 1.0)) + 1.0), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group"))
      .orderBy(col("ctfidf").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("group"), col("token"), col("tf"), col("groups_with"),
        col("ctfidf"), col("rank"))
  }

  /** The pre-r18 three-leg formulation of
    * [[graft.operators.Curation.quantileGateAudit]] — totals,
    * `keepTopQuantile`, and `keepTopQuantileApprox` each re-aggregating
    * the input, joined per stratum. */
  def quantileGateAuditSplit(df: DataFrame,
      stratumCol: String, scoreCol: String, tieCol: String, q: Double,
      accuracy: Int, boundFactor: Double = 5.0): DataFrame = {
    val approxN = keepTopQuantileApprox(df, stratumCol, scoreCol, q, accuracy)
      .groupBy(stratumCol).agg(count(lit(1)).as("__n_approx"))
    val exactN = keepTopQuantile(df, stratumCol, scoreCol, tieCol, q)
      .groupBy(stratumCol).agg(count(lit(1)).as("n_exact"))
    val totals = df.groupBy(stratumCol).agg(count(lit(1)).as("n_rows"))
    totals.join(exactN, stratumCol).join(approxN, stratumCol)
      .select(col(stratumCol), col("n_rows"), col("n_exact"),
        (abs(col("__n_approx") - col("n_exact"))
          <= greatest(ceil(col("n_rows") * lit(boundFactor) / lit(accuracy)),
            lit(2L))).as("within_bound"))
  }
}
