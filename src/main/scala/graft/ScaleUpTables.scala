package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, max, regexp_replace}

/** The ONE 10× scale-up table construction, shared by the bench's
  * `scale_up` section and the [[ScaleUpAb]] adjudication harness — the
  * two must measure the same workload by construction (they diverged
  * only cosmetically before r18, but a shard-rule fix landing in one
  * and not the other would silently invalidate every isolated
  * adjudication of a bench ratio).
  *
  * - **events**: ten id-shifted shards (user_id/event_id offsets) —
  *   per-user event distributions identical, 10× the users.
  * - **documents**: ten id-shifted shards whose tokens carry a
  *   per-shard prefix, so shingle/signature spaces are DISJOINT across
  *   shards — ten verbatim copies would put 10× the docs in each LSH
  *   bucket and grow the pair space 100×, a quadratic workload
  *   masquerading as a 10× one. Per-shard similarity structure is
  *   untouched (a bijective token rename preserves every shingle-set
  *   relation).
  * - **embeddings** (r18): ten id-shifted shards, vectors and labels
  *   unchanged — with a FIXED centroid count more corpus means DEEPER
  *   cells, which is exactly how an IVF index grows at scale, so
  *   probed-cell scoring work is linear by construction (the vector
  *   analog of the disjoint token spaces: linear workload, no
  *   densification artifact).
  */
object ScaleUpTables {
  /** The tables [[build10x]] writes; a 10× dir holds nothing else. */
  val tables: Seq[String] = Seq("events", "documents", "embeddings")

  def build10x(spark: SparkSession, sfDir: String, upDir: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = spark.read.parquet(s"$sfDir/events.parquet")
    val bounds = base.agg(max("user_id"), max("event_id")).head()
    if (bounds.isNullAt(0) || bounds.isNullAt(1))
      throw new IllegalStateException("events table is empty — nothing to scale up")
    val uOff = bounds.getAs[Number](0).longValue() + 1L
    val eOff = bounds.getAs[Number](1).longValue() + 1L
    (0 until 10).map(i => base
        .withColumn("user_id", col("user_id") + lit(i * uOff))
        .withColumn("event_id", col("event_id") + lit(i * eOff)))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(s"$upDir/events.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dBound = docs.agg(max("doc_id")).head()
    if (dBound.isNullAt(0))
      throw new IllegalStateException("documents table is empty — nothing to scale up")
    val dOff = dBound.getAs[Number](0).longValue() + 1L
    (0 until 10).map(i => docs
        .withColumn("doc_id", col("doc_id") + lit(i * dOff))
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"s${i}x$$1")))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(s"$upDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vBound = emb.agg(max("vec_id")).head()
    if (vBound.isNullAt(0))
      throw new IllegalStateException("embeddings table is empty — nothing to scale up")
    val vOff = vBound.getAs[Number](0).longValue() + 1L
    (0 until 10).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * vOff)))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(s"$upDir/embeddings.parquet")
  }
}
