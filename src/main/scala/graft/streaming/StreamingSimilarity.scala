package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Similarity
import graft.sources.IndexStore

/** Online ANN serving: a stream of query vectors probed against the
  * epoch's IVF index — the retrieval half of a nearest-neighbor
  * feature service / RAG lookup, as a Structured Streaming stage.
  *
  * The index frames (cell-assigned corpus + trained centroids) are
  * BATCH tables: the build-once/serve-many contract of the stored
  * index family ([[graft.operators.Similarity.ivfProbeTopK]]'s
  * scaladoc), refreshed per ingest epoch, not per query. Serving is
  * STATELESS — each micro-batch's answer is a pure function of that
  * batch's query rows alone — so the right streaming form is batch
  * semantics per micro-batch via foreachBatch, NOT an incremental
  * stateful operator: the per-query top-k is a rank window (which
  * streaming's incremental model forbids mid-plan), and there is no
  * cross-batch state to carry. Every micro-batch's output is
  * bit-identical to `ivfProbeTopK` on the same query rows
  * (spec-pinned across batch slicings).
  *
  * At 100 TB the probe plan inside each micro-batch is the batch
  * operator's own: centroids and the (query × nprobe) probe list ride
  * ONE broadcast, the corpus streams in place, and the only shuffle
  * is the per-query top-k over probed cells — per-batch cost is
  * `nprobe · |cell|` per query, independent of corpus size.
  */
object StreamingSimilarity {

  /** Wire a query stream (idCol, vecCol rows) to IVF serving; `sink`
    * receives each micro-batch's ivfProbeTopK-shaped result
    * (query_id, cand_id, cell, score, rank) with the micro-batch id.
    * The caller sets trigger/checkpoint options and starts the query. */
  def serveIvf(queryStream: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    queryStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.operators.Similarity.ivfProbeTopK(
        corpus, batch, centroids, k, nprobe, idCol, vecCol, cellCol), batchId)
    }

  /** Streaming IVF index MAINTENANCE — the ingest half that pairs with
    * [[serveIvf]]: each micro-batch of NEW vectors is assigned against
    * the FROZEN centroid frame (no retrain — a broadcast-kernel
    * projection, zero shuffles) and appended into the cell-partitioned
    * stored corpus through [[graft.operators.Similarity.ivfAppend]],
    * stamped `batch_id = micro-batch id + 1` (0 stays reserved for the
    * epoch build that seeded the store). State lives in the STORE (the
    * [[StreamingIngest.dedupIngest]] discipline): nothing rides the
    * streaming state store, restarts resume from the source
    * checkpoint, and a replayed micro-batch regenerates exactly its
    * original (cell, batch_id) rows, whose level commit replaces the
    * first landing — idempotent appends from an at-least-once trigger, so
    * the served index never double-counts a vector
    * (StreamingSpec-pinned with a checkpoint-restart proof).
    *
    * `compactEvery` > 0 folds small-file maintenance into the ingest
    * loop ([[graft.sources.IndexStore.maintain]]): every N
    * micro-batches the trigger batch lands through
    * [[graft.operators.Similarity.ivfCompact]] instead of the plain
    * append, folding every older level into its own — the store
    * collapses back to one level per cell, capping the
    * one-dir-per-batch listing growth a day of 1-minute batches would
    * otherwise accumulate. */
  def ingestIvf(vectorStream: DataFrame, centroids: DataFrame,
      corpusPath: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      compactEvery: Long = 0L): DataStreamWriter[Row] =
    IndexStore.maintain(vectorStream, compactEvery)(
      Similarity.ivfCompact(_, centroids, corpusPath, _, idCol, vecCol),
      Similarity.ivfAppend(_, centroids, corpusPath, _, idCol, vecCol))

  /** [[ingestIvf]] for the ENCODED-AT-REST code store
    * ([[graft.operators.Similarity.ivfPqStoreRows]]' layout): each
    * micro-batch is assigned against the frozen coarse codebook AND
    * PQ-encoded against the frozen fine codebooks before landing —
    * what a micro-batch writes is code bytes, never floats, and
    * [[graft.operators.Similarity.ivfPqTopKFromCodes]] serves the
    * growing store unchanged. Identical replay/restart contract and
    * `compactEvery` discipline as the raw face (both assignment and
    * encoding are deterministic, so replays rewrite their own
    * level). */
  def ingestIvfPq(vectorStream: DataFrame, centroids: DataFrame,
      pq: DataFrame, corpusPath: String, m: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      compactEvery: Long = 0L): DataStreamWriter[Row] =
    IndexStore.maintain(vectorStream, compactEvery)(
      Similarity.ivfPqCompact(_, centroids, pq, corpusPath, _, m, dim, idCol, vecCol),
      Similarity.ivfPqAppend(_, centroids, pq, corpusPath, _, m, dim, idCol, vecCol))
}
