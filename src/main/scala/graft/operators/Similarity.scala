package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.functions.Portable
import graft.sources.IndexStore

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.12 X3).
  *
  * Scale design: the query set is assumed catalog-sized (it is
  * broadcast); the corpus side streams. Brute force is the exactness
  * baseline; `ivfTopK` is the 100 TB path — it prunes the corpus to the
  * probed coarse cells before any distance math, so compute scales with
  * `k · |cell|`, not `|corpus|`.
  */
object Similarity {

  /** Brute-force cosine top-k (the baseline): broadcast the query
    * vectors, score every (query, corpus) pair, keep the top `k` per
    * query by (score desc, id asc). Scores are rounded before ranking so
    * the ordering is reproducible across engines (float-sum last-ulp
    * differences can't flip ranks). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score", round(Portable.cosine(col("qv"), col("cv")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("score"), col("rank"))
  }

  /** IVF-style top-k (the scale path): corpus is pre-bucketed by a coarse
    * quantizer cell (`cellCol` — here the testdata `label`; in a real
    * pipeline, argmin over trained centroids). Each query probes only its
    * own cell, so the scored pair space shrinks by the cell count. Same
    * output contract as [[bruteForceTopK]] restricted to the probed cell.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding", cellCol: String = "label"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"), col(cellCol).as("cell"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"), col(cellCol).as("cell"))
    val scored = c.join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score", round(Portable.cosine(col("qv"), col("cv")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("cell"), col("query_id"), col("cand_id"), col("score"), col("rank"))
  }

  /** [[cellCentroids]]' flat output re-shaped to one broadcastable row
    * per cell: (cell, centroid) with the centroid an ordered FLOAT
    * vector. Float storage matches the corpus dtype — a real IVF index
    * quantizes its centroids to the vector dtype — and lets centroid
    * scoring run through the same codegen'd [[Portable.cosine]] /
    * FloatVectorDot loop as vector-vector scoring: a per-row
    * left-to-right double fold, deterministic across partitionings and
    * reproducible by the oracle's sequential list_inner_product. */
  def centroidVectors(centroids: DataFrame): DataFrame =
    centroids
      .groupBy(col("cell"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, mean_v))), s -> s.mean_v)")
        .as("c"))
      .select(col("cell"), col("c").cast("array<float>").as("centroid"))

  /** Per-(vector, cell) cosine against every trained centroid — the
    * shared scoring step of corpus assignment and query probing. A
    * crossJoin against the broadcast centroid set: no shuffle, no row
    * explosion beyond the inherent |vectors|·|cells| score space.
    * `+ 0.0` normalizes IEEE −0.0 so downstream ordering is
    * engine-portable. */
  private def centroidScores(vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    vectors.select(col(idCol), col(vecCol).as("__v"))
      .crossJoin(broadcast(centroidVectors(centroids)))
      .withColumn("cscore", round(Portable.cosine(col("__v"), col("centroid")), 4) + lit(0.0))

  /** IVF index BUILD: assign every corpus vector to its nearest trained
    * centroid (argmax cosine; ties to the smallest cell, zero-norm
    * vectors get the smallest cell with a null score). This is what
    * replaces a pre-existing partition label at 100 TB — raw embeddings
    * have no labels.
    *
    * The centroid set is catalog-sized, so it is collected once and
    * shipped inside a [[graft.functions.NearestCentroid]] expression:
    * the whole assignment is scan → project — no |cells|-way row
    * expansion, no aggregate, NO shuffle (compute is the inherent
    * n·cells·dim multiply-adds). Re-run after [[cellCentroids]]
    * retraining to rebuild the index (drift). Building the plan
    * materializes the centroid frame (one catalog-sized job). */
  /** The [[graft.functions.NearestCentroid]] struct column for a
    * collected centroid frame — shared by [[assignCells]] (which keeps
    * id + cell + score) and [[kmeansTrain]] (which keeps the embedding
    * itself next to the cell, avoiding a corpus self-join per
    * iteration). Building it materializes the centroid frame (one
    * catalog-sized job). */
  private def nearestCentroidCol(centroids: DataFrame, vecCol: Column): Column = {
    val cv = centroidVectors(centroids)
    val cellType = cv.schema("cell").dataType
    val rows = cv.collect().toSeq
      .map(r => (r.get(0), r.getSeq[Float](1)))
    graft.functions.NearestCentroid(vecCol, cellType, rows)
  }

  def assignCells(vectors: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol),
      nearestCentroidCol(centroids, col(vecCol)).as("m"))
      .select(col(idCol), col("m.cell").as("cell"), col("m.cscore").as("cscore"))

  /** Multi-probe IVF search — the full index path: each query is
    * assigned to its `nprobe` nearest TRAINED centroids (the
    * [[cellCentroids]] output) by cosine, then scores only those cells'
    * vectors (the corpus side carrying [[assignCells]] output as
    * `cellCol`). Recall grows with `nprobe` while compute stays
    * `nprobe · |cell|` per query instead of `|corpus|`. Centroids and
    * probe lists are catalog-sized broadcasts; the corpus side streams —
    * the one shuffle is the per-query top-k window.
    *
    * Probe scoring runs through the same [[centroidScores]] as corpus
    * assignment, so a query's own cell is always its rank-1 probe;
    * scores round to 4 before ranking, cells tie-break ascending.
    */
  def ivfProbeTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding", cellCol: String = "label"): DataFrame = {
    require(k > 0 && nprobe > 0, "k and nprobe must be positive")
    val scored = ivfScoredProbe(corpus,
      ivfProbeQProbe(queries, centroids, nprobe, idCol, vecCol), idCol, vecCol, cellCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cell"), col("score"), col("rank"))
  }

  /** [[ivfProbeTopK]] over a CELL-PARTITIONED stored corpus — the
    * serve shape that makes IVF actually sublinear at rest: the plain
    * probe streams the WHOLE corpus against the broadcast probe frame
    * (the join drops non-probed cells, but only after reading them),
    * which at 100 TB reads fifty times the bytes a 2-of-100-cell probe
    * needs. Here the probe cells are collected first — queries ×
    * nprobe values, the same catalog-sized driver bound as the probe
    * frame itself — and pushed as a STATIC `cell IN (...)` partition
    * filter, so a corpus written `partitionBy(cell)` prunes to the
    * probed directories at file-listing time (PlanSpec-pinned;
    * deterministic, unlike relying on runtime DPP). Restricting the
    * scan to probed cells is a no-op on VALUES by construction — the
    * cell equi-join discards every other cell anyway — so the output
    * is identical to [[ivfProbeTopK]] row-for-row.
    *
    * Like the operators with collected model state, the call is
    * EAGER (the probe-cell collect runs at build time). */
  /** Tombstone screen shared by the pruned serves — the
    * [[graft.operators.TextAnalysis.bm25SegmentedTopK]] del
    * discipline on the vector side (r18 optimization round, bounded
    * in r19): fully-collected lists (`delIds = Some(ids)`, at most
    * `delPushdownMax` of them by [[collectProbeAndDelBounded]]'s
    * construction) push as a NOT-IN filter — zero join, zero
    * broadcast-exchange job, and the predicate reaches the parquet
    * scan's PushedFilters beside the static cell filter. A del tree
    * the bounded fold refused to collect (`delIds = None`) anti-joins
    * DISTRIBUTED from the tree itself — the shape that holds for
    * arbitrarily large tombstone sets, and the reason the large
    * branch must not rebuild a local relation from driver-side ids:
    * above the bound the driver never holds them. Null ids (contract
    * violations — ids are non-null by store construction) are dropped
    * explicitly; an equi-anti-join never matches them, so values are
    * unchanged. */
  private def tombstoneScreen(df: DataFrame, delOpt: Option[DataFrame],
      delIds: Option[Seq[Any]], idCol: String): DataFrame = delIds match {
    case Some(ids) if ids.isEmpty => df
    case Some(ids) => df.filter(!col(idCol).isInCollection(ids))
    case None => df.join(
      delOpt.get.select(col(idCol))
        .where(col(idCol).isNotNull).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Natural order of collected tombstone ids: non-null values of one
    * id type (the fold casts them to `delIdType`), so the boxed class's
    * own `compareTo` orders them; a non-comparable type keeps collect
    * order (the sort is stable). */
  private val TombstoneIdOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = a match {
      case c: Comparable[_] => c.asInstanceOf[Comparable[Any]].compareTo(b)
      case _ => 0
    }
  }

  /** ONE action collects BOTH query-bounded driver frames the pruned
    * serves need — the probe/LUT rows and the tombstone id list. The
    * two subtrees are independent (the probe chain never reads the del
    * tree and vice versa), so a tagged union folds the second collect
    * into the first: probe rows carry `__del` null, del rows pad the
    * probe columns null and carry the id, and the driver splits on
    * `__del` nullness. Each saved action is a whole Spark job, and
    * jobs × scheduler-floor is the serve's wall lower bound — the
    * x_ann_deleted term the r18 epoch table watches.
    *
    * BOUNDED (r19): the driver's exposure is gated BEFORE any
    * collect by the del tree's own storage statistics
    * (`optimizedPlan.stats.sizeInBytes` — file-index metadata, no
    * Spark job): a tree over `max(256 KiB, 64 B × (maxDel + 1))`
    * never rides the fold at all — the fold returns `None` and the
    * caller keeps a genuinely distributed anti-join, so a
    * delete-heavy window between compactions cannot OOM the driver.
    * Under the gate the union keeps the r18 plan shape EXACTLY (an
    * in-plan distinct+limit was measured in r19 and rejected — see
    * the fold body); the collected ids dedup driver-side and a list
    * that still exceeds `maxDel` (too many ids for a sane NOT-IN
    * literal) also returns `None`. Del ids are null-filtered
    * in-plan (a null id would otherwise masquerade as an all-null
    * probe row — the tag column is its nullness) and CAST to
    * `delIdType`, the id type of the frame the caller will screen, so
    * collected values compare against that frame's rows by
    * construction rather than by luck of matching JVM types. Shared
    * with [[graft.operators.TextAnalysis.bm25SegmentedTopK]]. */
  private[graft] def collectProbeAndDelBounded(probe0: DataFrame,
      delOpt: Option[DataFrame], idCol: String,
      delIdType: org.apache.spark.sql.types.DataType, maxDel: Int)
      : (Array[org.apache.spark.sql.Row], Option[Seq[Any]]) = {
    val cutoffBytes = BigInt(math.max(262144L, 64L * (maxDel.toLong + 1L)))
    val foldable = delOpt.filter(
      _.queryExecution.optimizedPlan.stats.sizeInBytes <= cutoffBytes)
    (delOpt, foldable) match {
      case (None, _) => (probe0.collect(), Some(Seq.empty[Any]))
      case (Some(_), None) => (probe0.collect(), None)
      case (_, Some(del)) =>
        val pf = probe0.schema.fields
        // An in-plan `distinct().limit(maxDel + 1)` on this branch was
        // IMPLEMENTED AND REJECTED in r19: under AQE its exchanges
        // materialize as an extra scheduled job (the job-fold PlanSpec
        // pin caught it — 6 jobs vs 5), spending exactly the driver
        // action the fold exists to save. The driver bound is instead
        // the stats gate above (≤ cutoffBytes of PARQUET ever enters
        // the union — worst-case delta-packed encodings decompress to
        // tens of MB of rows, not the unbounded r18 exposure) with
        // `spark.driver.maxResultSize` as the loud backstop; a list
        // that exceeds maxDel after the driver-side dedup still
        // refuses the pushdown below.
        val d0 = del.select(col(idCol).cast(delIdType).as(idCol))
          .where(col(idCol).isNotNull)
        val tagged = probe0.withColumn("__del", lit(null).cast(delIdType))
          .unionByName(d0.select(
            pf.map(f => lit(null).cast(f.dataType).as(f.name)) :+
              col(idCol).as("__del"): _*))
        val rows = tagged.collect()
        val (d, p) = rows.partition(r => !r.isNullAt(pf.length))
        val probeRows =
          p.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1)))
        // sorted, so the pushed NOT-IN literal (and the plan text) is
        // the same whatever order the collect returned the ids in
        val ids = d.map(_.get(pf.length)).distinct.toSeq
          .sorted(TombstoneIdOrdering)
        if (ids.length > maxDel) (probeRows, None)
        else (probeRows, Some(ids))
    }
  }

  // delPushdownMax default 4096 was measured ONCE, on this serve over
  // the bench's 10× IVF vector store (interleaved min/med, r19; the
  // numbers and the one-shot harness's description are in
  // OPTIMIZATION_r19.md §4): NOT-IN pushdown beat the distributed
  // anti-join at 1k and 4k del ids and lost at 16k, so the crossover
  // sits in (4k, 16k) on that store, and 4096 is the largest measured
  // winner. Other stores, corpus sizes and hosts were not measured.
  def ivfProbeTopKPruned(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label",
      delOpt: Option[DataFrame] = None,
      delPushdownMax: Int = 4096): DataFrame = {
    require(k > 0 && nprobe > 0, "k and nprobe must be positive")
    // ONE collect serves both needs — the static cell filter and the
    // broadcast probe frame (rebuilt as a local relation, so the
    // probe chain never evaluates twice and the plan carries no
    // checkpoint): queries × nprobe rows, the contract that makes
    // the frame broadcastable makes it collectable
    val probeQ0 = ivfProbeQProbe(queries, centroids, nprobe, idCol, vecCol)
    val (probeRows, delIds) = collectProbeAndDelBounded(
      probeQ0, delOpt, idCol, corpus.schema(idCol).dataType, delPushdownMax)
    val cells = probeRows.map(_.get(1)).distinct.toSeq
    val probeQ = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probeQ0.schema)
    // delOpt is the [[ivfDelete]] tombstone tree: deleted ids ride the
    // probe collect ([[collectProbeAndDelBounded]] — one action, not
    // two, never more than delPushdownMax + 1 ids driver-side) and
    // screen out AFTER the static cell prune via [[tombstoneScreen]] —
    // small lists push as a NOT-IN scan filter beside the cell filter,
    // large ones broadcast anti-join over only the probed cells' rows
    val probedCells = corpus.filter(col(cellCol).isInCollection(cells))
    val live = tombstoneScreen(probedCells, delOpt, delIds, idCol)
    val scored = ivfScoredProbe(live, probeQ, idCol, vecCol, cellCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cell"), col("score"), col("rank"))
  }

  /** Serve stage 1 of [[ivfProbeTopK]] and [[ivfProbeTopKPruned]]:
    * the fused (query_id, cell, qv) probe frame — each query's `nprobe`
    * nearest trained centroids joined back to its vector. Probe list
    * and query vector fuse into ONE broadcast frame before the corpus
    * join (the ivfPqTopK probeLut pattern): queries × nprobe rows —
    * broadcast-sized by construction — and shipping it once removes a
    * whole broadcast build plus the second probe-side join from the
    * hot path. Query-bounded: its wall must be volume-FLAT at 10×. */
  private[graft] def ivfProbeQProbe(queries: DataFrame, centroids: DataFrame,
      nprobe: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cscore").desc_nulls_last, col("cell").asc)
    // r19 (the ivfPqTopKFromCodes probe/LUT fusion on the float side):
    // centroidScores keeps the query vector (`__v`) beside each scored
    // cell, so the probe frame projects it directly — the second
    // queries scan and the probes⋈q join (one whole broadcast-exchange
    // job in the collected probe plan) are gone; values are the same
    // column from the same scan.
    centroidScores(queries, centroids, idCol, vecCol)
      .withColumnRenamed(idCol, "query_id")
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("cell"), col("__v").as("qv"))
  }

  /** Serve stage 2 of [[ivfProbeTopK]] and [[ivfProbeTopKPruned]]:
    * probed cells' vectors scored against the broadcast probe frame —
    * everything up to (but excluding) the per-query top-k window. The
    * corpus side STREAMS
    * against the pinned broadcast (the hint, not the planner's size
    * estimate, decides — so corpus growth can never flip this join to
    * a corpus shuffle); its wall is the volume-bound term: linear in
    * probed-cell depth. */
  private[graft] def ivfScoredProbe(corpus: DataFrame, probeQ: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame = {
    val c = corpus.select(col(cellCol).as("cell"), col(idCol).as("cand_id"), col(vecCol).as("cv"))
    c.join(broadcast(probeQ), "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score", round(Portable.cosine(col("qv"), col("cv")), 4))
  }

  /** IVF index MAINTENANCE: assign a batch of NEW vectors to the FIXED
    * trained centroids and append it into a cell-partitioned stored
    * corpus — the epoch-append lifecycle the dedup index families
    * already carry (bucketed ppjoin store, LSH/Hamming epoch indexes),
    * now on the vector side. Standard IVF maintenance does NOT retrain
    * on append: assignment against the frozen codebook is a broadcast-
    * kernel projection (the [[kmeansTrain]] in-row shape — scan →
    * project, ZERO shuffles; no self-join back to the batch), and
    * re-centering is a deliberate occasional rebuild when drift
    * accumulates, not a per-batch cost.
    *
    * Layout contract: the store root holds `cell=<c>/batch_id=<b>/`
    * parquet — seed the store by writing the epoch build itself
    * through this function (`batchId = 0`). `cell` stays the FIRST
    * partition level, so the pruned serve path
    * ([[ivfProbeTopKPruned]]) pushes its static probed-cell filter to
    * file listing exactly as over the single-level layout: an append
    * is new files under existing cell directories — zero rewrite of
    * resident data, no layout migration, invisible to the serve plan.
    *
    * Replay safety (the streaming face's contract): rows land under
    * DYNAMIC partition overwrite keyed by (cell, batch_id). Cell
    * assignment is deterministic (4dp-rounded cosine, ascending-cell
    * tie-break), so a replayed batch regenerates EXACTLY its original
    * (cell, batch_id) leaves and overwrites them in place —
    * exactly-once store state from an at-least-once trigger, the
    * [[graft.streaming.StreamingIngest.dedupIngest]] partition
    * discipline. */
  def ivfAppend(batch: DataFrame, centroids: DataFrame, corpusPath: String,
      batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    writeLevel(batch.withColumn("cell",
      nearestCentroidCol(centroids, col(vecCol)).getField("cell")),
      corpusPath, batchId)

  /** Small-file COMPACTION for the maintained IVF store — the
    * file-count answer to [[ivfAppend]]'s one-dir-per-(cell, batch)
    * growth (a year of hourly appends is ~9k levels per cell; scan
    * listing degrades long before data volume does). Fold-forward
    * semantics: assign `batch` exactly as [[ivfAppend]] would, UNION
    * it with every resident row at `batch_id <= batchId`, dedupe by
    * `idCol`, rewrite the merged set under THIS batch's level
    * (dynamic overwrite), then delete the now-folded older levels —
    * so a compaction trigger costs one corpus rewrite and the store
    * collapses back to one level per cell.
    *
    * Crash convergence (the merged read deliberately INCLUDES
    * `batch_id = batchId`; rows are bit-identical across levels
    * because assignment is deterministic, and the dedupe keeps one)
    * and the single-writer contract are the levelled store's
    * ([[graft.sources.IndexStore]]); run it from the ingest loop's own
    * foreachBatch thread ([[graft.streaming.StreamingSimilarity
    * .ingestIvf]]'s `compactEvery` does). */
  def ivfCompact(batch: DataFrame, centroids: DataFrame, corpusPath: String,
      batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    foldForward(batch.withColumn("cell",
      nearestCentroidCol(centroids, col(vecCol)).getField("cell")),
      corpusPath, batchId, idCol)

  /** [[ivfAppend]] for the ENCODED-AT-REST code store
    * ([[ivfPqStoreRows]]' layout): the batch is assigned against the
    * frozen coarse codebook AND PQ-encoded against the frozen fine
    * codebooks in ONE projection, then appended
    * `partitionBy(cell, batch_id)` — the compressed maintenance
    * shape: what lands on disk per batch is code bytes, never floats.
    * Same replay contract as [[ivfAppend]] (assignment and encoding
    * are both deterministic, so dynamic partition overwrite makes a
    * replayed batch rewrite exactly its original leaves), and
    * [[ivfPqTopKFromCodes]] serves the two-level layout unchanged
    * (its static cell filter prunes the first partition level). */
  def ivfPqAppend(batch: DataFrame, centroids: DataFrame, pq: DataFrame,
      corpusPath: String, batchId: Long, m: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    writeLevel(preparedCodeRows(batch, centroids, pq, m, dim, idCol, vecCol),
      corpusPath, batchId)

  /** [[ivfCompact]] for the ENCODED-AT-REST code store: identical
    * fold-forward semantics and crash-convergence argument, with the
    * trigger batch encoded (not stored raw) before the merge —
    * resident levels are already codes, so compaction never touches a
    * float vector. */
  def ivfPqCompact(batch: DataFrame, centroids: DataFrame, pq: DataFrame,
      corpusPath: String, batchId: Long, m: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    foldForward(preparedCodeRows(batch, centroids, pq, m, dim, idCol, vecCol),
      corpusPath, batchId, idCol)

  /** The trigger batch in the code store's row shape — coarse cell +
    * PQ codes in one broadcast-kernel projection (zero shuffles). */
  private def preparedCodeRows(batch: DataFrame, centroids: DataFrame,
      pq: DataFrame, m: Int, dim: Int, idCol: String, vecCol: String): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim ($dim) must divide evenly into m ($m)")
    val books = collectBooks(pq, m)
    batch.select(
      nearestCentroidCol(centroids, col(vecCol)).getField("cell").as("cell"),
      col(idCol),
      pqCodesCol(books, dim / m, col(vecCol)).as("codes"))
  }

  /** The maintained store's tombstone tree — a sibling of the corpus
    * path, so the corpus read never sees it and the serves that
    * ignore deletes are untouched. */
  private def deletePath(corpusPath: String): String =
    corpusPath.stripSuffix("/") + "_del"

  /** DELETE-BY-ID for a maintained IVF/IVFPQ store — the vector-side
    * [[graft.operators.TextAnalysis.bm25DeleteDocs]], simpler because
    * the serve has no corpus-global statistics to adjust (the coarse
    * codebook is frozen): the tombstone is just the doomed id list,
    * landed as one immutable `batch_id=<id>` leaf in the sibling
    * `<corpusPath>_del` tree under dynamic partition overwrite (a
    * replay rewrites exactly its leaf). A delete costs O(ids) — no
    * store read, no rewrite. Query-time application is one broadcast
    * anti-join ([[ivfProbeTopKPruned]]'s `delOpt`); physical removal
    * happens at the next [[ivfCompact]]/[[ivfPqCompact]] merge, which
    * filters the del set out of the fold and drops the applied
    * tombstone leaves. Same single-writer / append-only-id contract
    * as the other maintenance faces. */
  def ivfDelete(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String, ids: Seq[Long], batchId: Long,
      idCol: String = "vec_id"): Unit = {
    require(ids.nonEmpty, "ids must be non-empty")
    IndexStore.writeLeaf(
      spark.createDataset(ids)(org.apache.spark.sql.Encoders.scalaLong).toDF(idCol),
      deletePath(corpusPath), "batch_id", batchId)
  }

  /** One store level under the replay contract: a `batch_id` leaf under
    * the `cell` partition level — shared by the appends and the
    * fold-forward rewrite. `prepared` carries a `cell` column beside
    * the data columns and no `batch_id`. */
  private def writeLevel(prepared: DataFrame, corpusPath: String, batchId: Long): Unit =
    IndexStore.writeLeaf(prepared, corpusPath, "batch_id", batchId, "cell")

  /** Shared fold-forward core of [[ivfCompact]] / [[ivfPqCompact]]:
    * merge the trigger batch with the [[graft.sources.IndexStore
    * .resident]] rows (tombstones at `batch_id <= batchId` applied
    * PHYSICALLY — the del set anti-joins them out of the fold), dedupe
    * by id, rewrite as this level, then reap the superseded levels and
    * the applied tombstone leaves (a crash in between just means the
    * replay — or the serve's `delOpt` — applies an
    * already-physically-absent del set again: a no-op). */
  private def foldForward(prepared: DataFrame, corpusPath: String,
      batchId: Long, idCol: String): Unit = {
    val spark = prepared.sparkSession
    val merged = IndexStore.resident(spark, corpusPath, deletePath(corpusPath),
        "batch_id", batchId, idCol)
      .fold(prepared)(r => prepared.unionByName(r).dropDuplicates(idCol))
    writeLevel(merged, corpusPath, batchId)
    IndexStore.reap(spark, Seq(corpusPath), deletePath(corpusPath), "batch_id", batchId)
  }

  /** Per-cell centroids — the training step an IVF index needs: mean of
    * the embedding vectors per coarse cell, computed dimension-wise via
    * posexplode + one aggregate (no driver-side vectors). Output is the
    * flat (cell, dim, mean) form, engine-portable and directly joinable
    * for assignment.
    *
    * The mean goes through a DECIMAL sum (order-independent), then ONE
    * double division — a plain double `avg` accumulates in
    * partition-dependent order, and a last-ulp flip at a rounding
    * boundary of `mean_v` would ripple into every downstream probe-set
    * decision. Same discipline as [[ivfProbeTopK]]'s assignment. */
  def cellCentroids(emb: DataFrame,
      vecCol: String = "embedding", cellCol: String = "label"): DataFrame =
    emb
      .select(col(cellCol).as("cell"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(
        round(sum(col("v").cast("double").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("mean_v"),
        count(lit(1)).as("n_vectors"))

  /** Lloyd-iteration KMeans trainer — the unsupervised counterpart of
    * [[cellCentroids]] for the 100 TB reality that raw embeddings have
    * no labels: seed with the `k` lowest-id vectors (deterministic — no
    * rand() init, so runs, retries, and engines agree), then repeat
    * `iters` rounds of assign ([[assignCells]]: collected centroid
    * set shipped inside the NearestCentroid kernel, scan → project, no
    * shuffle) and re-center ([[cellCentroids]]: DECIMAL-summed means
    * rounded to 6dp). The rounding makes every iteration's centroid
    * frame bit-identical across engines, so the FULL iteration chain is
    * oracle-checkable — same discipline as the IVF scoring path.
    *
    * Per iteration: one catalog-sized centroid collect plus one
    * dimension-wise aggregate over the corpus — the standard
    * distributed-KMeans shape. Cells that lose every member vanish
    * (k shrinks) rather than being re-seeded, deterministically. */
  /** Spark's exact arithmetic, replicated value-for-value on the
    * driver so the trainer accumulator paths are bit-identical to
    * [[cellCentroids]]' aggregate: cast(double as decimal(28,12)) is a
    * Double.toString-canonical BigDecimal HALF_UP-rounded to scale 12;
    * round(x, 6) the same at scale 6. Exact decimal addition is
    * order-independent, so merged sums match the engine's for any
    * partitioning. */
  private def dec12(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(12, java.math.RoundingMode.HALF_UP)
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  def kmeansTrain(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    // Seeds: the k lowest-id vectors, cell = rank. Quantization (6dp
    // double round, then float — identical to what centroidVectors
    // does to every later iteration's means) runs IN-ENGINE so the
    // seed bytes match the oracle's replay; the driver only indexes k
    // collected rows. One TakeOrdered job replaces the old window +
    // posexplode + reshape-aggregate chain.
    val seedRows = emb.orderBy(col(idCol)).limit(k)
      .select(transform(col(vecCol),
        v => round(v.cast("double"), 6).cast("float")).as("c"))
      .collect()
    require(seedRows.nonEmpty,
      "kmeansTrain: corpus is empty — training needs at least one vector")
    var centroidPairs: Seq[(Any, Seq[Float])] = seedRows.toSeq.zipWithIndex
      .map { case (r, i) => (Int.box(i): Any, r.getSeq[Float](0)) }
    // Degenerate-seed guard (on the rows already collected — no extra
    // job): if every seed is zero-norm, cosine can score nothing and
    // every iteration collapses onto cell 0's null-score fallback.
    // Fail here with the cause, not inside the kernel's geometry.
    require(centroidPairs.exists(_._2.exists(_ != 0.0f)),
      s"kmeansTrain: all $k seed vectors (the lowest-$idCol rows) are " +
        "zero-norm — cosine assignment is undefined on an all-zero seed set")
    def assigned(pairs: Seq[(Any, Seq[Float])]): DataFrame =
      // ONE projection carries the embedding and its nearest cell —
      // no corpus self-join against a separate assignment frame; the
      // iteration is scan → project → dimension-wise aggregate.
      emb.select(col(vecCol),
        graft.functions.NearestCentroid(col(vecCol), IntegerType, pairs)
          .getField("cell").as("cell"))
    // Iterations 1..iters-1 re-center in ONE shuffle-free job each —
    // the same gradient-barrier shape as MLlib's trainers and this
    // repo's BPE winner pick: every partition folds its rows into a
    // cell → (per-dim DECIMAL sums, per-dim counts) accumulator
    // (k·dim state, catalog-sized), and the driver merges the
    // per-partition maps as results arrive. The old formulation paid a
    // posexplode (corpus×dim rows) + hash-aggregate exchange + AQE
    // re-plan per iteration for the same k·dim numbers. Means take the
    // identical decimal→double division and 6dp round as
    // [[cellCentroids]], then the same float narrowing as
    // [[centroidVectors]], so the trained chain stays engine-portable
    // bit-for-bit. Cells that lose every member are absent from the
    // merged map — they vanish, exactly as the aggregate drops empty
    // groups. The FINAL iteration's aggregate is returned lazily as
    // the real [[cellCentroids]] frame — its evaluation is the
    // caller's own action, not a trainer barrier.
    (1 until iters).foreach { _ =>
      val merged = assigned(centroidPairs)
        .select(col("cell"), col(vecCol))
        .rdd.mapPartitions { rows =>
          val m = scala.collection.mutable.HashMap
            .empty[Int, (scala.collection.mutable.ArrayBuffer[java.math.BigDecimal],
                         scala.collection.mutable.ArrayBuffer[Long])]
          rows.foreach { r =>
            val v = r.getSeq[Float](1)
            val (sums, counts) = m.getOrElseUpdate(r.getInt(0),
              (scala.collection.mutable.ArrayBuffer.empty[java.math.BigDecimal],
               scala.collection.mutable.ArrayBuffer.empty[Long]))
            var d = 0
            while (d < v.length) {
              if (d >= sums.length) { sums += java.math.BigDecimal.ZERO; counts += 0L }
              sums(d) = sums(d).add(dec12(v(d).toDouble))
              counts(d) += 1L
              d += 1
            }
          }
          Iterator.single(m)
        }
        .fold(scala.collection.mutable.HashMap.empty) { (a, b) =>
          b.foreach { case (cell, (bs, bc)) =>
            a.get(cell) match {
              case None => a.update(cell, (bs, bc))
              case Some((as, ac)) =>
                var d = 0
                while (d < bs.length) {
                  if (d >= as.length) { as += java.math.BigDecimal.ZERO; ac += 0L }
                  as(d) = as(d).add(bs(d))
                  ac(d) += bc(d)
                  d += 1
                }
            }
          }
          a
        }
      centroidPairs = merged.toSeq.map { case (cell, (sums, counts)) =>
        (Int.box(cell): Any,
          sums.indices.map(d => round6(sums(d).doubleValue() / counts(d)).toFloat).toSeq)
      }
    }
    cellCentroids(assigned(centroidPairs), vecCol, cellCol = "cell")
  }

  /** Recall of an ANN result against the exact ground truth — the
    * evaluation loop every approximate index needs to tune
    * nprobe/centroid count. Per query: the fraction of the true top-k
    * the approximate search retrieved (`truth_k` from the exact frame,
    * so queries with fewer than k true neighbors divide by what
    * exists). Both inputs are per-query top-k frames (rows keyed
    * (query, cand)); the join is equi-keyed and the ground-truth side
    * at tuning time is a sampled query set — catalog-sized. */
  def recallAtK(approx: DataFrame, exact: DataFrame,
      queryCol: String = "query_id", candCol: String = "cand_id"): DataFrame =
    exact.select(col(queryCol), col(candCol))
      .join(approx.select(col(queryCol), col(candCol)).withColumn("__hit", lit(1)),
        Seq(queryCol, candCol), "left")
      .groupBy(col(queryCol))
      .agg(count(lit(1)).as("truth_k"), count(col("__hit")).as("hits"))
      .withColumn("recall", round(col("hits").cast("double") / col("truth_k"), 4))

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two rankings —
    * the standard score-free merge for HYBRID retrieval (dense ANN +
    * lexical BM25): `rrf(q, c) = Σ_lists 1 / (kRrf + rank)`, which
    * needs no score calibration between legs and rewards agreement.
    *
    * Inputs are (queryCol, candCol, rankCol) frames (extra columns
    * ignored); a candidate absent from one leg simply contributes 0
    * from it (FULL outer join). Output: (query, cand, rank_a, rank_b,
    * rrf, rank) — per-query top `k` by fused score, candidate id
    * breaking ties. Determinism: each leg's term is one IEEE double
    * division of small ints — identical on every engine — and the 8dp
    * round keeps the repr stable.
    *
    * Scale shape: both legs are already top-k-per-query frames (tiny
    * relative to the corpora they came from), so the fusion join and
    * the final WindowGroupLimit are queries×k-sized — fusion cost never
    * scales with the corpus.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, kRrf: Int = 60,
      queryCol: String = "query_id", candCol: String = "cand_id",
      rankCol: String = "rank"): DataFrame = {
    require(k >= 1 && kRrf >= 0, "k must be >= 1 and kRrf >= 0")
    val fa = a.select(col(queryCol), col(candCol), col(rankCol).as("rank_a"))
    val fb = b.select(col(queryCol), col(candCol), col(rankCol).as("rank_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryCol)).orderBy(col("rrf").desc, col(candCol).asc)
    fa.join(fb, Seq(queryCol, candCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rank_b")), lit(0.0)), 8))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryCol), col(candCol), col("rank_a"), col("rank_b"),
        col("rrf"), col("rank"))
  }

  /** NDCG@k of an approximate ranking against the exact one — the
    * rank-AWARE quality eval [[recallAtK]] can't express (recall treats
    * a hit at rank 1 and rank k alike; NDCG discounts by position).
    * Binary relevance: a candidate is relevant iff it appears in the
    * exact top-k. `ndcg = DCG / IDCG`, `DCG = Σ rel_i / log2(i + 1)`
    * over the approx ranking's first k positions, `IDCG` the same sum
    * over the exact ranking (by construction the ideal ordering).
    *
    * Determinism: each discount term rounds to 8dp before an exact
    * DECIMAL sum (the lm-score libm discipline — log2 of small ints may
    * differ by ulps across engines, the round absorbs it); the final
    * ratio is one double division rounded to 6dp.
    */
  def ndcgAtK(approx: DataFrame, exact: DataFrame, k: Int,
      queryCol: String = "query_id", candCol: String = "cand_id",
      rankCol: String = "rank"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def discount(r: Column): Column =
      round(lit(1.0) / log2(r + lit(1.0)), 8).cast("decimal(18,10)")
    val rel = exact.filter(col(rankCol) <= k)
      .select(col(queryCol), col(candCol), lit(1).as("__rel"))
    val dcg = approx.filter(col(rankCol) <= k)
      .join(rel, Seq(queryCol, candCol), "left")
      .groupBy(col(queryCol))
      .agg(sum(when(col("__rel").isNotNull, discount(col(rankCol)))
        .otherwise(lit(0).cast("decimal(18,10)"))).as("__dcg"))
    val idcg = exact.filter(col(rankCol) <= k)
      .groupBy(col(queryCol))
      .agg(sum(discount(col(rankCol))).as("__idcg"), count(lit(1)).as("truth_k"))
    idcg.join(dcg, Seq(queryCol), "left")
      .select(col(queryCol), col("truth_k"),
        round(coalesce(col("__dcg"), lit(0).cast("decimal(18,10)")).cast("double")
          / col("__idcg").cast("double"), 6).as("ndcg"))
  }

  /** Random-hyperplane LSH bucketing: sign-bit sketch of the embedding
    * against `numPlanes` pseudo-random hyperplanes derived from a
    * portable per-(plane, dim) hash, so the same buckets are computable
    * in plain SQL. Docs sharing a bucket are ANN candidates. */
  def lshBuckets(emb: DataFrame, numPlanes: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(numPlanes >= 1 && numPlanes <= 62, "numPlanes must be 1..62 (bucket bits in a positive Long)")
    require(dim >= 1, "dim must be positive; every embedding must have >= dim elements")
    // plane p, dim d weight ∈ {-1, +1}: parity of a portable hash of "p:d".
    val bucketBits = (0 until numPlanes).map { p =>
      val dot = (0 until dim).map { d =>
        val sign = if (Portable.md5Parity(s"$p:$d")) 1.0 else -1.0
        element_at(col(vecCol), d + 1).cast("double") * lit(sign)
      }.reduce(_ + _)
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce(_ + _)
    emb.select(col(idCol), bucketBits.as("bucket"))
  }

  /** Brute-force cosine top-k over int8-QUANTIZED vectors — the search
    * face of [[quantizeInt8]]: with symmetric quantization the scales
    * cancel out of the cosine
    * (`cos ≈ Σqᵃᵢqᵇᵢ / √(Σqᵃᵢ² · Σqᵇᵢ²)`), so candidate scoring is
    * PURE INTEGER arithmetic over 4× less data than the float path —
    * the reason an embedding store quantizes at 100 TB. Bounds: 64-dim
    * int8 self-dots ≤ ~10⁶, products ≤ ~10¹², comfortably inside a
    * LONG. Same output contract and determinism discipline as
    * [[bruteForceTopK]] (scores rounded before ranking, id tie-break);
    * zero vectors score null and are dropped.
    *
    * Both inputs are [[quantizeInt8]] outputs (`idCol`, `qvec`). */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id"): DataFrame = {
    // integer dots through the ByteVectorDot kernel: one compiled loop
    // per pair instead of the interpreted zip_with/aggregate fold —
    // integer addition is associative, so values are bit-identical
    def selfDot(v: Column): Column = graft.functions.ByteVectorDot(v, v)
    val q = queries.select(col(idCol).as("query_id"), col("qvec").as("qa"),
      selfDot(col("qvec")).as("na"))
    val c = corpus.select(col(idCol).as("cand_id"), col("qvec").as("qb"),
      selfDot(col("qvec")).as("nb"))
    val dot = graft.functions.ByteVectorDot(col("qa"), col("qb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score",
        round(when(col("na") === 0 || col("nb") === 0, lit(null))
          .otherwise(dot.cast("double") / sqrt((col("na") * col("nb")).cast("double"))), 4))
      .filter(col("score").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("score"), col("rank"))
  }

  /** Symmetric per-vector int8 quantization — the 4× storage/bandwidth
    * cut an embedding store takes at 100 TB (float32 → int8 + one
    * float scale per vector; recall loss for cosine top-k is typically
    * negligible at 8 bits).
    *
    * `scale = round(max|vᵢ|/127, 6)` — rounded so the factor both
    * engines (and any reader of the stored column) use is EXACTLY the
    * stored value, not a higher-precision intermediate;
    * `qᵢ = clamp(⌊vᵢ/scale + 0.5⌋, ±127)` — an explicit floor-based
    * round-half-up, unambiguous across engines where `round()`
    * tie-break conventions differ (the clamp absorbs the ≤1-ulp
    * overshoot the scale rounding can introduce). An all-zero vector
    * quantizes to zeros with scale 0. `max_err` reports the per-vector
    * reconstruction bound max|vᵢ − qᵢ·scale| (≤ scale/2 + rounding).
    *
    * Pure per-row projection — ZERO shuffle, embarrassingly parallel.
    * Output: (idCol, scale, qvec array<tinyint>, max_err). */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val scale = round(array_max(transform(v, x => abs(x))) / lit(127.0), 6)
    def quant(x: Column, s: Column): Column =
      greatest(lit(-127L), least(lit(127L), floor(x / s + lit(0.5))))
    emb.select(col(idCol), col(vecCol))
      .withColumn("scale", scale)
      .withColumn("qvec",
        when(col("scale") === 0, transform(v, _ => lit(0).cast("byte")))
          .otherwise(transform(v, x => quant(x, col("scale")).cast("byte"))))
      .withColumn("max_err",
        when(col("scale") === 0, lit(0.0))
          .otherwise(round(array_max(transform(v,
            x => abs(x - quant(x, col("scale")).cast("double") * col("scale")))), 6)))
      .drop(vecCol)
  }

  // -------------------------------------------------------------------
  // Product quantization (PQ): the memory-bound ANN path past int8.
  // Each vector splits into `m` contiguous subvectors; each subspace
  // gets its own small codebook (spherical Lloyd iterations, cosine
  // assignment — the same trainer discipline as [[kmeansTrain]]), and a
  // vector stores only its m code ids: dim×4 bytes → m bytes + shared
  // codebooks. Search is ADC (asymmetric distance computation): the
  // query stays full-precision, each (query, codebook entry) partial
  // dot is precomputed once into a lookup table, and scoring a corpus
  // row is m table lookups + an exact DECIMAL sum — no per-pair float
  // math at all. At 100 TB this is what makes exhaustive re-ranking
  // affordable: the corpus side streams as (id, m codes), the LUT is
  // queries × m × k rows (catalog-sized, broadcast).
  // -------------------------------------------------------------------

  /** PQ codebook training — [[kmeansTrain]] run jointly over all `m`
    * subspaces: ONE projection computes every subspace's nearest-cell
    * assignment (m NearestCentroid kernels over array slices), and ONE
    * shuffle-free job per Lloyd iteration folds rows into per-
    * (subspace, cell, dim) DECIMAL-sum accumulators merged on the
    * driver — iteration cost does not grow with m. Seeds are the `k`
    * lowest-id vectors' 6dp-rounded slices (deterministic; same
    * quantization as every later iteration's means, so the whole chain
    * is bit-identical across engines and the oracle replays it).
    * Cells that lose every member vanish per subspace, exactly like
    * the aggregate dropping empty groups.
    *
    * Output: (subspace, cell, dim, mean_v, n_vectors) with `dim` the
    * WITHIN-subspace index — the [[cellCentroids]] contract per
    * subspace. */
  def pqTrain(emb: DataFrame, m: Int, k: Int, iters: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1, "m must be >= 1")
    require(dim % m == 0, s"dim ($dim) must divide evenly into m ($m) subspaces")
    require(k >= 1, "k must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    val subDim = dim / m
    val seedRows = emb.orderBy(col(idCol)).limit(k)
      .select(transform(col(vecCol),
        v => round(v.cast("double"), 6).cast("float")).as("c"))
      .collect()
    require(seedRows.nonEmpty,
      "pqTrain: corpus is empty — training needs at least one vector")
    // Same degenerate-seed guard as kmeansTrain, but per SUBSPACE: a
    // subspace whose every seed slice is zero-norm trains on nothing
    // (all-null cosine), and the caller should hear which slice broke
    // rather than get a codebook of zeros back.
    locally {
      val subDimG = dim / m
      val deadSubspaces = (0 until m).filter { s =>
        seedRows.forall(r =>
          r.getSeq[Float](0).slice(s * subDimG, (s + 1) * subDimG)
            .forall(_ == 0.0f))
      }
      require(deadSubspaces.isEmpty,
        s"pqTrain: subspace(s) ${deadSubspaces.mkString(",")} have all-zero " +
          s"seed slices across the $k lowest-$idCol vectors — cosine " +
          "assignment is undefined on an all-zero seed set")
    }
    // per-element round commutes with slicing, so slicing the rounded
    // full vector equals rounding the slice (what the oracle replays)
    var books: Array[Seq[(Any, Seq[Float])]] = Array.tabulate(m) { s =>
      seedRows.toSeq.zipWithIndex.map { case (r, i) =>
        (Int.box(i): Any, r.getSeq[Float](0).slice(s * subDim, (s + 1) * subDim))
      }
    }
    def assignedAll(bs: Array[Seq[(Any, Seq[Float])]]): DataFrame =
      emb.select(col(vecCol) +: (0 until m).map { s =>
        graft.functions.NearestCentroid(
          slice(col(vecCol), s * subDim + 1, subDim), IntegerType, bs(s))
          .getField("cell").as(s"cell_$s")
      }: _*)
    (1 until iters).foreach { _ =>
      val merged = assignedAll(books)
        .rdd.mapPartitions { rows =>
          val acc = scala.collection.mutable.HashMap
            .empty[(Int, Int), (Array[java.math.BigDecimal], Array[Long])]
          rows.foreach { r =>
            val v = r.getSeq[Float](0)
            var s = 0
            while (s < m) {
              val (sums, counts) = acc.getOrElseUpdate((s, r.getInt(1 + s)), {
                val z = Array.fill(subDim)(java.math.BigDecimal.ZERO)
                (z, new Array[Long](subDim))
              })
              val base = s * subDim
              // a short final slice (ragged vector) contributes only
              // the dims it has — same as cellCentroids on the slice
              val lim = math.max(0, math.min(subDim, v.length - base))
              var d = 0
              while (d < lim) {
                sums(d) = sums(d).add(dec12(v(base + d).toDouble))
                counts(d) += 1L
                d += 1
              }
              s += 1
            }
          }
          Iterator.single(acc)
        }
        .fold(scala.collection.mutable.HashMap.empty) { (a, b) =>
          b.foreach { case (key, (bs, bc)) =>
            a.get(key) match {
              case None => a.update(key, (bs, bc))
              case Some((as, ac)) =>
                var d = 0
                while (d < bs.length) {
                  as(d) = as(d).add(bs(d)); ac(d) += bc(d); d += 1
                }
            }
          }
          a
        }
      books = Array.tabulate(m) { s =>
        merged.collect { case ((`s`, cell), (sums, counts)) =>
          (Int.box(cell): Any,
            sums.indices.collect { case d if counts(d) > 0 =>
              round6(sums(d).doubleValue() / counts(d)).toFloat }.toSeq)
        }.toSeq
      }
    }
    // the returned frame is the engine-evaluated aggregate (per
    // subspace), so the declared training output is oracle-checkable
    (0 until m).map { s =>
      val a = emb.select(
        slice(col(vecCol), s * subDim + 1, subDim).as("__sub"),
        graft.functions.NearestCentroid(
          slice(col(vecCol), s * subDim + 1, subDim), IntegerType, books(s))
          .getField("cell").as("cell"))
      cellCentroids(a, vecCol = "__sub", cellCol = "cell")
        .select(lit(s).as("subspace"), col("cell"), col("dim"),
          col("mean_v"), col("n_vectors"))
    }.reduce(_ unionByName _)
  }

  /** [[pqTrain]]'s flat output as one row per (subspace, cell) with the
    * ordered FLOAT codebook vector — the PQ face of
    * [[centroidVectors]]. */
  def pqCentroidVectors(pq: DataFrame): DataFrame =
    pq.groupBy(col("subspace"), col("cell"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, mean_v))), s -> s.mean_v)")
        .as("c"))
      .select(col("subspace"), col("cell"), col("c").cast("array<float>").as("centroid"))

  /** PQ encoding: each vector's m nearest-codebook-cell ids, smallest
    * vectors the corpus actually stores. A pure projection (m
    * NearestCentroid kernels over slices) — ZERO shuffle,
    * embarrassingly parallel, the same scale shape as [[quantizeInt8]].
    * Output: (idCol, codes array<int>), codes(s) = subspace s's cell. */
  /** The m-code array column for a vector column — m NearestCentroid
    * kernels over slices, shared by [[pqEncode]] and [[ivfPqTopK]]. */
  private def pqCodesCol(books: Seq[Seq[(Any, Seq[Float])]], subDim: Int,
      vec: Column): Column =
    array(books.indices.map { s =>
      graft.functions.NearestCentroid(
        slice(vec, s * subDim + 1, subDim), IntegerType, books(s))
        .getField("cell")
    }: _*)

  def pqEncode(emb: DataFrame, books: Seq[Seq[(Any, Seq[Float])]], dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = books.size
    require(m >= 1 && dim % m == 0, "books must evenly partition dim")
    emb.select(col(idCol), pqCodesCol(books, dim / m, col(vecCol)).as("codes"))
  }

  /** ADC top-k over PQ codes — the search face of [[pqTrain]]: the
    * full-precision QUERY side precomputes its partial dot against
    * every codebook entry ONCE (the LUT: an m × cells table per query,
    * 6dp-rounded, built in-engine from codebook LITERALS so it
    * codegens with the query projection), and each corpus row's
    * approximate inner product is its m codes' LUT entries summed
    * EXACTLY by the fused [[graft.functions.CodeLutSum]] kernel —
    * micro-unit LONG accumulation, bit-identical to the oracle's
    * DECIMAL sum; final score rounds to 4dp like every score in this
    * family. The corpus streams as (id, m codes) through ONE broadcast
    * cross against the LUT-carrying queries — m compiled lookups per
    * pair, NO row explosion and NO aggregate (the formulation a LUT
    * join + per-pair sum would pay m× the rows for); the only shuffle
    * is the top-k window. Ranking: score desc, cand_id asc; self-pairs
    * excluded.
    *
    * `pq` is the [[pqTrain]] output frame; its codebook is collected
    * here (catalog-sized). */
  /** The collected per-subspace codebook of a [[pqTrain]] frame
    * (catalog-sized driver barrier, shared by the PQ consumers). */
  private def collectBooks(pq: DataFrame, m: Int): Seq[Seq[(Any, Seq[Float])]] = {
    val rows = pqCentroidVectors(pq).collect()
    (0 until m).map { s =>
      rows.toSeq.filter(_.getInt(0) == s)
        .map(r => (r.get(1), r.getSeq[Float](2)))
    }
  }

  /** Dense per-subspace LUT rows indexed BY CELL ID (0.0 fills for
    * vanished cells — codes never reference them, the fill is never
    * read); entries are the 6dp partial dots of the query vector's
    * slice against each codebook centroid, computed inside the query
    * projection from codebook LITERALS so the whole table codegens. */
  private def pqLutCol(books: Seq[Seq[(Any, Seq[Float])]], subDim: Int,
      qv: Column): Column =
    array(books.indices.map { s =>
      val bm = books(s).map { case (cell, vec) => cell.asInstanceOf[Int] -> vec }.toMap
      if (bm.isEmpty) typedlit(Seq.empty[Double])
      else array((0 to bm.keys.max).map { c =>
        bm.get(c) match {
          case Some(vec) => round(graft.functions.FloatVectorDot(
            slice(qv, s * subDim + 1, subDim), typedlit(vec)), 6)
          case None => lit(0.0)
        }
      }: _*)
    }: _*)

  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, pq: DataFrame,
      k: Int, m: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim ($dim) must divide evenly into m ($m)")
    val subDim = dim / m
    val books = collectBooks(pq, m)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__lut", pqLutCol(books, subDim, col("__qv")))
      .select(col("query_id"), col("__lut"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    pqEncode(corpus, books, dim, idCol, vecCol)
      .withColumnRenamed(idCol, "cand_id")
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score",
        round(graft.functions.CodeLutSum(col("codes"), col("__lut")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("score"), col("rank"))
  }

  /** IVF+PQ — the production ANN composition at corpus scale: the
    * coarse quantizer prunes (each query scores only its `nprobe`
    * nearest trained cells' vectors, exactly [[ivfProbeTopK]]'s probe
    * step) and PQ codes pay for what remains (the pruned candidates
    * score through the fused [[graft.functions.CodeLutSum]] LUT kernel,
    * never a float vector). Per pair: m compiled lookups; per query:
    * `nprobe · |cell|` candidates instead of `|corpus|`; the corpus
    * side carries only (cell, id, m codes). Probe lists and
    * LUT-carrying queries broadcast; the only shuffle is the top-k
    * window. Same output contract as [[ivfProbeTopK]] (probed cell
    * kept) with ADC scores instead of exact cosine.
    *
    * `centroids` is the coarse [[cellCentroids]] frame the corpus'
    * `cellCol` was assigned against; `pq` is the [[pqTrain]] frame. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      pq: DataFrame, k: Int, nprobe: Int, m: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "cell"): DataFrame = {
    require(k > 0 && nprobe > 0, "k and nprobe must be positive")
    require(m >= 1 && dim % m == 0, s"dim ($dim) must divide evenly into m ($m)")
    val subDim = dim / m
    val books = collectBooks(pq, m)
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cscore").desc_nulls_last, col("cell").asc)
    // probe list and LUT fuse into ONE broadcast frame before the
    // corpus join: (query_id, cell, lut) is still queries × nprobe
    // rows — broadcast-sized by construction. r19: the LUT projects
    // directly onto the top-nprobe survivors (centroidScores keeps
    // the query vector `__v` beside each scored cell), so the second
    // queries scan and the probes⋈q join are gone — one scan, no
    // join, the same LUT expression evaluated per surviving probe
    // row.
    val probeLut = centroidScores(queries, centroids, idCol, vecCol)
      .withColumnRenamed(idCol, "query_id")
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("cell"),
        pqLutCol(books, subDim, col("__v")).as("__lut"))
    // corpus side: (coarse cell, id, m codes) in ONE projection — the
    // float vector never leaves the scan
    val c = corpus.select(col(cellCol).as("cell"), col(idCol).as("cand_id"),
      pqCodesCol(books, subDim, col(vecCol)).as("codes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    c.join(broadcast(probeLut), "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score",
        round(graft.functions.CodeLutSum(col("codes"), col("__lut")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cell"), col("score"), col("rank"))
  }

  /** Encode-at-rest rows for a STORED IVFPQ index: (cell, id, codes) —
    * the physical form a 100 TB vector index actually persists. Raw
    * float vectors are dim × 4 bytes; the m PQ codes are m small ints
    * (two here), so the at-rest index is ~2 orders of magnitude
    * smaller and the serve scan reads code columns, never floats —
    * the float corpus is touched only by a re-rank shortlist
    * ([[pqRerankTopK]]'s discipline). Write the result
    * `partitionBy("cell")` and serve through [[ivfPqTopKFromCodes]].
    * Encoding is a pure broadcast-kernel projection (codebooks are
    * collected literals — scan → project, zero shuffles), so index
    * encode cost is one corpus pass. */
  def ivfPqStoreRows(corpus: DataFrame, pq: DataFrame, m: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "cell"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim ($dim) must divide evenly into m ($m)")
    val books = collectBooks(pq, m)
    corpus.select(col(cellCol).as("cell"), col(idCol),
      pqCodesCol(books, dim / m, col(vecCol)).as("codes"))
  }

  /** [[ivfPqTopK]] served from the STORED code table — the compressed
    * at-rest twin of [[ivfProbeTopKPruned]]: probe cells and the
    * query-side LUT fuse into ONE collected frame (queries × nprobe
    * rows — the broadcastable-⇒-collectable contract), the probed
    * cells push as a STATIC partition filter over the
    * `partitionBy(cell)` code store (scan IO = O(probed cells) of
    * CODE bytes, not float bytes), and the survivors score through
    * the same fused [[graft.functions.CodeLutSum]] kernel. Output is
    * identical to [[ivfPqTopK]] over the float corpus the codes were
    * encoded from: codes are ints and round-trip parquet losslessly.
    * Like every collected-model operator the call is EAGER (the
    * probe/LUT collect runs at build time). `delOpt` applies an
    * [[ivfDelete]] tombstone tree exactly as [[ivfProbeTopKPruned]]
    * does — one broadcast anti-join after the static cell filter, so
    * deleted codes screen out without touching the store. */
  def ivfPqTopKFromCodes(codes: DataFrame, queries: DataFrame,
      centroids: DataFrame, pq: DataFrame, k: Int, nprobe: Int, m: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      delOpt: Option[DataFrame] = None,
      delPushdownMax: Int = 4096): DataFrame = {
    require(k > 0 && nprobe > 0, "k and nprobe must be positive")
    require(m >= 1 && dim % m == 0, s"dim ($dim) must divide evenly into m ($m)")
    val subDim = dim / m
    val books = collectBooks(pq, m)
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cscore").desc_nulls_last, col("cell").asc)
    // probe cells and the query-side LUT come from the SAME query
    // rows, and centroidScores keeps the query vector (`__v`) beside
    // each scored cell — so the LUT projects directly onto the
    // top-nprobe survivors instead of joining a second scan of
    // `queries` back on query_id (r19: one queries scan and no
    // broadcast-exchange job in the collected probe plan; the LUT
    // expression is identical, merely evaluated per surviving probe
    // row — nprobe per query — instead of once per query)
    val probeRanked = centroidScores(queries, centroids, idCol, vecCol)
      .withColumnRenamed(idCol, "query_id")
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
    val probeLut0 = probeRanked.select(col("query_id"), col("cell"),
      pqLutCol(books, subDim, col("__v")).as("__lut"))
    val (probeRows, delIds) = collectProbeAndDelBounded(
      probeLut0, delOpt, idCol, codes.schema(idCol).dataType, delPushdownMax)
    val cells = probeRows.map(_.get(1)).distinct.toSeq
    val probeLut = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probeLut0.schema)
    // array_compact: the parquet round trip reads codes back with
    // nullable elements; stored codes never hold nulls, and the
    // compact restores the containsNull = false type the CodeLutSum
    // kernel demands (the ppjoin rset discipline)
    val probedCodes = codes.filter(col("cell").isInCollection(cells))
    // same [[tombstoneScreen]] discipline as the float serve: small
    // del lists ride the probe/LUT collect and push as a NOT-IN scan
    // filter on the code table
    val liveCodes = tombstoneScreen(probedCodes, delOpt, delIds, idCol)
    val c = liveCodes
      .select(col("cell"), col(idCol).as("cand_id"),
        array_compact(col("codes")).as("codes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    c.join(broadcast(probeLut), "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score",
        round(graft.functions.CodeLutSum(col("codes"), col("__lut")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cell"), col("score"), col("rank"))
  }

  /** ADC shortlist + exact re-rank — the two-stage retrieval shape
    * production ANN actually ships: PQ codes cheaply score the WHOLE
    * corpus (m LUT lookups per pair, [[pqAdcTopK]]), the top
    * `shortlistK` per query graduate to full-precision cosine, and the
    * final top `k` come from the re-ranked shortlist. Buys back most
    * of the recall the lossy codes gave up while touching only
    * `shortlistK · |queries|` float vectors — at 100 TB the float
    * corpus is read by the SHORTLIST join (a broadcast-able
    * queries×shortlistK frame against the corpus scan), never scored
    * wholesale.
    *
    * Ranking contract as everywhere in the family: score desc, cand_id
    * asc; self-pairs excluded (already absent from the shortlist). */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, pq: DataFrame,
      k: Int, shortlistK: Int, m: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && shortlistK >= k, "need shortlistK >= k >= 1")
    val short = pqAdcTopK(corpus, queries, pq, shortlistK, m, dim, idCol, vecCol)
      .select(col("query_id"), col("cand_id"))
    // candidate float vectors: ONE hash join of the corpus scan against
    // the broadcast shortlist — the only place full vectors are read
    val cand = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
      .join(broadcast(short), "cand_id")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    cand.join(broadcast(q), "query_id")
      .withColumn("score", round(Portable.cosine(col("qv"), col("cv")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("score"), col("rank"))
  }

  /** Embedding-quality eval: for each query vector, what fraction of its
    * `k` exact cosine nearest neighbors carry the query's own label?
    * Reported per label class — low purity flags label noise or an
    * embedding space that doesn't separate the classes, the standard
    * cheap eval before trusting embeddings for semantic dedup or
    * curation.
    *
    * The labels ride the scored pair (selected alongside the vectors
    * before the broadcast cross-score), so there is NO corpus-sized
    * label-lookup join afterwards; the only shuffle is the per-query
    * top-k, same as [[bruteForceTopK]]. At 100 TB the query side is a
    * sample (thousands of rows, broadcastable) while the corpus streams —
    * exactly this plan. Purity aggregates integer match counts and
    * divides once at the end (`matched / (k · queries)`), so the result
    * is bit-identical across engines with no float-sum ordering hazard.
    *
    * Output: (label, n_queries, n_matched, purity). */
  def labelPurity(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("qlabel"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      col(labelCol).as("clabel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score", round(Portable.cosine(col("qv"), col("cv")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col("qlabel").as("label"))
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        sum(when(col("clabel") === col("qlabel"), 1L).otherwise(0L)).as("n_matched"))
      .withColumn("purity",
        round(col("n_matched").cast("double") / (col("n_queries") * lit(k.toLong)).cast("double"), 6))
  }

  /** Sample covariance matrix of the embedding store (upper triangle:
    * j ≤ k) — the one-pass statistic under PCA whitening, OOD scoring
    * (Mahalanobis), and dimension-collapse diagnostics on a 100 TB
    * embedding table.
    *
    * Scale shape: each row expands to its d(d+1)/2 centered upper-tri
    * products IN-PARTITION, and Spark's partial hash aggregation
    * collapses every partition to ≤ d(d+1)/2 groups before the
    * exchange — so the shuffle carries (partitions × d²/2) decimal
    * sums, never (rows × d²/2); per-task state is the same
    * catalog-sized accumulator frame as [[kmeansTrain]]'s re-center,
    * expressed through Catalyst instead of RDD code. The 6dp-rounded
    * dimension means collect once (d rows — the [[assignCells]]
    * centroid-literal precedent) so centering is a literal lookup.
    *
    * Determinism: means take [[cellCentroids]]' exact arithmetic
    * (DECIMAL(28,12) sums, double division, 6dp round); centered
    * products sum as DECIMAL(28,12); the final /(n−1) divides in
    * double and rounds at 8dp (class-B true-double rounding).
    *
    * Output: (j, k, cov), 0-based dims, j ≤ k. */
  /** 6dp-rounded per-dimension means ([[cellCentroids]] arithmetic),
    * collected once — d rows, the centroid-literal precedent. */
  private def dimMeans(emb: DataFrame, dim: Int, vecCol: String): (Array[Double], Long) = {
    val rows = emb
      .select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg((sum(col("v").cast("double").cast("decimal(28,12)")).cast("double")
        / count(lit(1))).as("mu_raw"), count(lit(1)).as("n"))
      .select(col("dim"), round(col("mu_raw"), 6).as("mu"), col("n"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    require(rows.length == dim, s"expected $dim dims, found ${rows.length}")
    (rows.map(_._2), rows.map(_._3).max)
  }

  def covarianceMatrix(emb: DataFrame, dim: Int,
      vecCol: String = "embedding"): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    val (mus, n) = dimMeans(emb, dim, vecCol)
    // /(n − 1) below: a 1-vector corpus would otherwise divide by zero
    // and emit Infinity covariances that pcaTopK then happily iterates
    // on. Fail loudly at the entry, on the count dimMeans already paid
    // a job for.
    require(n >= 2,
      s"covarianceMatrix needs at least 2 vectors, found $n — " +
        "sample covariance divides by (n - 1)")
    // Per-row products through the CenteredUpperProducts kernel (one
    // compiled loop per row — the HOF lambda formulation this replaced
    // evaluated ~2·d² boxed ops per row interpreted and measured 6.1 s
    // at sf0.1); posexplode + decimal cast + partial agg stay codegen.
    // The (idx → j, k) decode joins a 2080-row literal frame broadcast
    // AFTER the aggregate, so it touches d²/2 rows, not rows × d²/2.
    val spark = emb.sparkSession
    import spark.implicits._
    val idxMap = (for (j <- 0 until dim; k <- j until dim) yield (j, k))
      .zipWithIndex.map { case ((j, k), i) => (i, j, k) }
      .toDF("idx", "j", "k")
    emb.select(posexplode(
        graft.functions.CenteredUpperProducts(col(vecCol), mus.toSeq))
        .as(Seq("idx", "p")))
      .groupBy("idx")
      .agg(sum(col("p").cast("decimal(28,12)")).as("__sp"),
        count(lit(1)).as("__n"))
      .join(broadcast(idxMap), Seq("idx"))
      .select(col("j"), col("k"),
        round(col("__sp").cast("double") / (col("__n") - 1), 8).as("cov"))
  }

  /** Top-k principal components from the collected covariance matrix
    * (catalog-sized: d(d+1)/2 entries) via a deterministic cyclic
    * Jacobi eigensolver on the driver — the same bounded-barrier
    * pattern as [[kmeansTrain]]'s centroid merges: the DISTRIBUTED
    * work is the covariance pass; the d×d eigenproblem is driver
    * arithmetic any engine replays identically.
    *
    * Components are sign-normalized (largest-|coordinate| positive,
    * ties toward the lower index) and ordered by (eigenvalue desc,
    * first-dim asc), so the decomposition is deterministic.
    *
    * Returns (component index, eigenvalue, eigenvector). */
  def pcaTopK(emb: DataFrame, dim: Int, k: Int,
      vecCol: String = "embedding"): Seq[(Int, Double, Array[Double])] = {
    require(k >= 1 && k <= dim, "k must be in [1, dim]")
    val a = Array.ofDim[Double](dim, dim)
    covarianceMatrix(emb, dim, vecCol).collect().foreach { r =>
      val (j, kk, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      a(j)(kk) = c; a(kk)(j) = c
    }
    val vecs = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-12 && sweep < 100) {
      off = 0.0
      var p = 0
      while (p < dim - 1) {
        var q = p + 1
        while (q < dim) {
          val apq = a(p)(q)
          off += 2 * apq * apq
          if (math.abs(apq) > 1e-15) {
            // standard symmetric Jacobi rotation (Golub & Van Loan
            // §8.4): t = sign(θ)/(|θ| + √(θ²+1)), θ = (aqq−app)/2apq
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1))
              else 1.0 / (theta - math.sqrt(theta * theta + 1))
            val c = 1 / math.sqrt(t * t + 1)
            val s = t * c
            val app = a(p)(p); val aqq = a(q)(q)
            a(p)(p) = c * c * app - 2 * s * c * apq + s * s * aqq
            a(q)(q) = s * s * app + 2 * s * c * apq + c * c * aqq
            a(p)(q) = 0.0; a(q)(p) = 0.0
            var i = 0
            while (i < dim) {
              if (i != p && i != q) {
                val aip = a(i)(p); val aiq = a(i)(q)
                a(i)(p) = c * aip - s * aiq; a(p)(i) = a(i)(p)
                a(i)(q) = s * aip + c * aiq; a(q)(i) = a(i)(q)
              }
              val vip = vecs(i)(p); val viq = vecs(i)(q)
              vecs(i)(p) = c * vip - s * viq
              vecs(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val comps = (0 until dim).map { c =>
      val vec = Array.tabulate(dim)(i => vecs(i)(c))
      val imax = vec.indices.maxBy(i => (math.abs(vec(i)), -i))
      val signed = if (vec(imax) < 0) vec.map(-_) else vec
      (a(c)(c), signed)
    }
    comps.sortBy { case (ev, _) => -ev }.take(k)
      .zipWithIndex.map { case ((ev, vec), i) => (i, ev, vec) }
  }

  /** Project every embedding onto the top-k principal axes (PCA
    * transform — the dimensionality cut before clustering/indexing).
    * Pure projection: component vectors ride as literals, one fused
    * dot per component, zero shuffle. `whiten = true` scales each
    * axis by 1/√(λ+eps), so the output coordinates have ~unit
    * variance — the decorrelated form retrieval stacks often feed to
    * quantizers. Output: (input columns…, pca array<double>). */
  def pcaProject(emb: DataFrame, components: Seq[(Int, Double, Array[Double])],
      vecCol: String = "embedding", whiten: Boolean = false,
      eps: Double = 1e-9): DataFrame = {
    require(components.nonEmpty, "components must be non-empty")
    val v = col(vecCol)
    val scores = components.map { case (_, ev, w) =>
      val dot = aggregate(
        zip_with(v.cast("array<double>"), typedLit(w.toSeq), (x, y) => x * y),
        lit(0.0).cast("double"), (acc, x) => acc + x)
      if (whiten) dot / lit(math.sqrt(math.max(ev, 0.0) + eps)) else dot
    }
    emb.withColumn("pca", array(scores: _*))
  }

  /** Mahalanobis out-of-distribution score per embedding:
    * d²(x) = Σ_c ((x−μ)·e_c)² / (λ_c + eps) over the FULL
    * eigendecomposition — equivalent to (x−μ)ᵀ(Σ+εI)⁻¹(x−μ) but
    * numerically clean and reusing [[pcaTopK]]'s deterministic driver
    * Jacobi. The OOD detector that catches what Euclidean distance
    * can't: a 20-σ-along-the-main-axis point is ORDINARY while a
    * 6-unit step off a zero-variance manifold dimension is extreme,
    * and d² weighs both by the distribution's own spread.
    *
    * The distributed work is the covariance pass inside [[pcaTopK]];
    * scoring is a pure projection (d literal-axis dots per row —
    * swap in a fused kernel à la [[graft.functions.CodeLutSum]] if
    * this becomes a hot path at width ≫ 64). Not SQL-replayable (the
    * eigensolver is iterative float) — covariance is the
    * oracle-checked face; the spec pins the geometry.
    *
    * Output: (input columns…, m2 DOUBLE). */
  def mahalanobisScores(emb: DataFrame, dim: Int, eps: Double = 1e-9,
      vecCol: String = "embedding"): DataFrame = {
    require(eps > 0.0, "eps must be positive")
    val comps = pcaTopK(emb, dim, dim, vecCol)
    val (mus, _) = dimMeans(emb, dim, vecCol)
    val centered = zip_with(col(vecCol).cast("array<double>"),
      typedLit(mus.toSeq), (x, m) => x - m)
    val terms = comps.map { case (_, ev, w) =>
      val dot = aggregate(
        zip_with(centered, typedLit(w.toSeq), (a, b) => a * b),
        lit(0.0).cast("double"), (acc, x) => acc + x)
      dot * dot / lit(math.max(ev, 0.0) + eps)
    }
    emb.withColumn("m2", terms.reduce(_ + _))
  }
}
