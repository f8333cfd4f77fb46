package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions.Portable
import graft.sources.IndexStore

/** Driver contract (SURVEY.md §5.3): one named query per implemented
  * operator from SURVEY.md §2, each with a DuckDB-runnable ANSI oracle
  * over the same parquet tables. Every query is deterministic and
  * totally ordered; aggregate arithmetic goes through DECIMAL so Spark
  * and DuckDB sums are bit-identical (SURVEY.md §7.2).
  */
object SparkEntry {

  /** Flagship: the 3D-temporal latest-read (argmax over (knowledge_time,
    * change_time) per (series_id, valid_time)) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("td_latest")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------
  // Helpers
  // ---------------------------------------------------------------------

  /** Every build-artifact memo: each registers here where it is
    * declared ([[buildMemo]]), so [[invalidateBuildMemos]] clears them
    * all by construction. */
  private val buildMemos =
    scala.collection.mutable.ArrayBuffer.empty[scala.collection.concurrent.TrieMap[_, _]]

  /** A new build-artifact memo keyed by (session, data dir). */
  private def buildMemo[V](): scala.collection.concurrent.TrieMap[(SparkSession, String), V] = {
    val memo = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), V]
    buildMemos += memo
    memo
  }

  /** Oracle CTE prefix exposing the events→series_values surrogate frame
    * as `sv` (FIXTURES.md §3). */
  private val svCte = s"WITH sv AS (${Tables.seriesOracleSql})"

  /** Oracle CTE chain producing bigram-Jaccard near-dup `pairs(id_a,
    * id_b)` at threshold 0.2 / maxDf 50 — the edge list for the cluster
    * oracle. Mirrors the x_dedup_jaccard oracle (same shingle hash and
    * caps; see the bound comment there). */
  private val jaccardPairsCte: String =
    """ft AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |toks_all AS (
      |  SELECT DISTINCT doc_id,
      |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
      |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
      |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
      |  WHERE g.i <= len(t) - 1),
      |toks AS (
      |  SELECT * FROM toks_all
      |  WHERE sh IN (SELECT sh FROM toks_all GROUP BY sh HAVING COUNT(*) <= 50)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      |  FROM toks a JOIN toks b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2)""".stripMargin

  /** Oracle CTE chain for the IVF index: decimal-mean centroids →
    * float-quantized centroid vectors → per-(vector, cell) cosine
    * `scores` — the SQL mirror of `Similarity.cellCentroids` →
    * `centroidVectors` → `centroidScores`. The float round-trip on the
    * centroid matches Spark's `cast("array<float>")`; `+ 0.0`
    * normalizes IEEE −0.0 on both engines.
    *
    * `centWhere` restricts which embeddings TRAIN the centroids (the
    * incremental-append query trains on the resident slice only —
    * appended vectors are assigned, never retrained on); `scores`
    * always ranges over the full table, mirroring assignment against a
    * frozen codebook. Empty = the historical full-corpus constant,
    * byte-identical (every standing ANN oracle is hash-pinned to it). */
  private val IvfScoreCtesTail: String =
    """
      |cvec AS (
      |  SELECT cell, CAST(CAST(list(mean_v ORDER BY dim) AS FLOAT[]) AS DOUBLE[]) AS centroid
      |  FROM cent GROUP BY cell),
      |scores AS (
      |  SELECT e.vec_id, c.cell,
      |         round(list_inner_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
      |           / NULLIF(sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
      |              * sqrt(list_inner_product(c.centroid, c.centroid)), 0), 4) + 0.0 AS cscore
      |  FROM embeddings e, cvec c)""".stripMargin

  private def ivfScoreCtesWhere(centWhere: String): String = {
    val pred = if (centWhere.isEmpty) "" else s"\n  WHERE $centWhere"
    s"""cent AS (
      |  SELECT label AS cell, d.i - 1 AS dim,
      |         round(CAST(SUM(CAST(CAST(embedding[d.i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
      |           / COUNT(*), 6) AS mean_v
      |  FROM embeddings, generate_series(1, 64) d(i)$pred
      |  GROUP BY label, d.i),""".stripMargin + IvfScoreCtesTail
  }

  private val IvfScoreCtes: String = ivfScoreCtesWhere("")

  /** Shared oracle for the IVF+PQ multi-probe search — consumed
    * verbatim by `x_ann_ivfpq` (in-memory composition over the built
    * index) and `x_ann_ivfpq_stored` (the encoded-at-rest code store):
    * the storage form must not change the answer, and PQ codes are
    * ints that round-trip parquet losslessly. */
  private def ivfPqProbeOracleSql: String =
    s"""WITH $IvfScoreCtes,
      |assigned AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cscore DESC NULLS LAST, cell) AS rn
      |    FROM scores)
      |  WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cscore DESC NULLS LAST, cell) AS crank
      |    FROM scores WHERE vec_id < 8)
      |  WHERE crank <= 2),
      |${pqTrainOracleCtes(m = 2, k = 4, iters = 2, dim = 64)},
      |${pqAdcLutCtes(m = 2, dim = 64)},
      |ivfpq AS (
      |  SELECT p.query_id, c.vec_id AS cand_id, a.cell,
      |    -- decimal-round BEFORE the double cast: see pqAdcOracleCtes
      |    CAST(round(SUM(CAST(l.pdot AS DECIMAL(28,12))), 4) AS DOUBLE) AS score
      |  FROM probes p
      |  JOIN assigned a ON a.cell = p.cell
      |  JOIN codes c ON c.vec_id = a.vec_id AND c.vec_id <> p.query_id
      |  JOIN lut l ON l.query_id = p.query_id
      |    AND l.subspace = c.subspace AND l.cell = c.code
      |  GROUP BY p.query_id, c.vec_id, a.cell)
      |SELECT query_id, cand_id, cell, score, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, cand_id) AS rank
      |  FROM ivfpq)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Unrolled k-core oracle over the repeat co-purchase graph:
    * `rounds` relational peels (degree CTE + both-endpoints-surviving
    * filter per round). [[graft.operators.Graph.kCore]] THROWS if it
    * hasn't converged within its own `maxRounds`, so declaring the
    * query with maxRounds == `rounds` makes the unrolled replay exact
    * BY CONSTRUCTION — rounds past convergence are no-ops on both
    * sides. */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    // every CTE MATERIALIZED: each round references its predecessor 3x
    // (twice in the degree union, once in the filter), so inlined CTEs
    // would re-expand the base scan 3^rounds times
    val head = """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT a.l_partkey AS a, b.l_partkey AS b
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s""",
        |d$i AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
        |    SELECT a AS id FROM e${i - 1} UNION ALL SELECT b AS id FROM e${i - 1}) GROUP BY 1),
        |e$i AS MATERIALIZED (
        |  SELECT e.a, e.b FROM e${i - 1} e
        |  JOIN d$i da ON da.id = e.a JOIN d$i db ON db.id = e.b
        |  WHERE da.deg >= $k AND db.deg >= $k)""".stripMargin
    }.mkString
    head + iters +
      s"""
        |SELECT id, COUNT(*) AS deg FROM (
        |  SELECT a AS id FROM e$rounds UNION ALL SELECT b AS id FROM e$rounds) GROUP BY 1
        |ORDER BY id""".stripMargin
  }

  /** Repeat co-purchase graph: parts appearing together in >= 2 orders
    * — the shared input of the `x_graph_triangles` / `x_graph_kcore`
    * structure queries. Pair generation is the classic equi-self-join
    * on the basket key with `a < b` (sort-merge on l_orderkey; per-task
    * work bounded by basket size, exactly the join a cluster planner
    * distributes) — the array-lambda expansion this replaced evaluated
    * interpreted per element and was the single hottest stage of both
    * graph structure queries (1.6 s of 2.2 s at sf0.1). Memoized and
    * checkpointed per (session, dir): both consumers read the same
    * built frame, the build-once/serve-many lifecycle every index in
    * this file follows. */
  private val copurchaseMemo = buildMemo[DataFrame]()

  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    copurchaseMemo.getOrElseUpdate((s, dir), {
      val it = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      it.select(col("l_orderkey"), col("l_partkey").as("a"))
        .join(it.select(col("l_orderkey"), col("l_partkey").as("b")),
          Seq("l_orderkey"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .localCheckpoint()
    })

  /** Memoized BM25 inverted index per (session, dir) — the lexical
    * twin of [[builtIvfIndex]]: tokenize+aggregate once, checkpoint,
    * amortize over every retrieval query. */
  private val bm25Memo = buildMemo[(DataFrame, DataFrame)]()

  private def builtBm25Index(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    bm25Memo.getOrElseUpdate((s, dir), {
      val tf = TextAnalysis.bm25Index(Tables.documents(s, dir)).localCheckpoint()
      (tf, TextAnalysis.bm25IndexStats(tf).localCheckpoint())
    })

  /** Shared oracle for the related-doc BM25 retrieval (queries 0..7,
    * top 10) — consumed verbatim by `x_text_bm25_stored` (bucketed
    * whole-corpus store) and `x_text_bm25_incremental` (segmented
    * appends with query-time df/stats merge), and with a doc filter
    * by `x_text_bm25_deleted` (tombstoned store — the oracle rebuilds
    * on the SURVIVING docs only): neither the storage form, the
    * segmentation, nor the tombstones may change the answer. */
  private def bm25RelatedOracleSqlFor(docWhere: String): String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents $docWhere),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dfv AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |qt AS (SELECT doc_id AS query_id, tok FROM tf WHERE doc_id < 8),
      |contrib AS (
      |  SELECT qt.query_id, tf.doc_id AS cand_id,
      |    round(round(ln((stats.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1.0), 8)
      |          * tf.tf * 2.2
      |          / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)), 8) AS c
      |  FROM qt JOIN tf USING (tok) JOIN dfv USING (tok)
      |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
      |  WHERE tf.doc_id <> qt.query_id),
      |lexscore AS (
      |  SELECT query_id, cand_id, CAST(COUNT(*) AS BIGINT) AS matched_terms,
      |    CAST(round(SUM(CAST(c AS DECIMAL(28,10))), 6) AS DOUBLE) AS bm25
      |  FROM contrib GROUP BY 1, 2)
      |SELECT query_id, cand_id, matched_terms, bm25, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY bm25 DESC, cand_id) AS rank
      |  FROM lexscore)
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  private val bm25RelatedOracleSql: String = bm25RelatedOracleSqlFor("")

  /** The doc ids `x_text_bm25_deleted` tombstones out of its store —
    * includes query doc 5, so the oracle also proves a deleted QUERY
    * vanishes from the output, not just from the candidates. */
  private val bm25DeletedIds: Seq[Long] = Seq(3L, 5L, 12L, 25L)

  private val bm25DeletedOracleSql: String = bm25RelatedOracleSqlFor(
    s"WHERE doc_id NOT IN (${bm25DeletedIds.mkString(", ")})")

  /** Memoized SEGMENTED BM25 stores per (session, data dir) — the
    * incremental text index `x_text_bm25_incremental` serves from:
    * the corpus lands in TWO immutable segments (doc_id % 3 == 0,
    * then the rest) through
    * [[graft.operators.TextAnalysis.bm25AppendSegment]], each ONE
    * manifest commit of all three trees, read back from the manifest
    * ([[graft.operators.TextAnalysis.loadBm25Segments]]), so the serve
    * must merge df and corpus stats across segments at query time to
    * match the whole-corpus oracle. The `deleted` store, which
    * `x_text_bm25_deleted` serves from, is the same build at its own
    * path (tombstones mutate the serve-visible folds, so the stores
    * cannot share) plus tombstone segment 2: [[bm25DeletedIds]] landed
    * by [[graft.operators.TextAnalysis.bm25DeleteDocs]] (del-id list +
    * negative dictionary/stats rows, one more manifest commit). Its
    * serve must answer exactly like a rebuild on the surviving docs. */
  private val segmentedBm25Memos =
    Seq(false, true).map(_ -> buildMemo[(DataFrame, DataFrame, DataFrame, Option[DataFrame])]()).toMap

  private def segmentedBm25Store(s: SparkSession, dir: String, deleted: Boolean)
      : (DataFrame, DataFrame, DataFrame, Option[DataFrame]) =
    scratchLock.synchronized {
      segmentedBm25Memos(deleted).getOrElseUpdate((s, dir), {
        val docs = Tables.documents(s, dir)
        val path = scratchPath(if (deleted) "graft_bm25_segdel" else "graft_bm25_segments", dir)
        TextAnalysis.bm25AppendSegment(
          docs.filter(pmod(col("doc_id"), lit(3)) === 0), path, segmentId = 0L)
        TextAnalysis.bm25AppendSegment(
          docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), path, segmentId = 1L)
        if (deleted) TextAnalysis.bm25DeleteDocs(s, path, bm25DeletedIds, segmentId = 2L)
        TextAnalysis.loadBm25Segments(s, path)
      })
    }

  /** Memoized BUCKETED BM25 store per (session, data dir) — the
    * store-durable text index `x_text_bm25_stored` serves from: the
    * [[graft.operators.TextAnalysis.bm25Index]] frame written
    * bucketed by doc_id beside its stats and meta tables, read back
    * through the store's own bucket spec so the tf scan exposes HashPartitioning and
    * the scoring aggregate runs exchange-free from the files
    * themselves. The memo keys the round trip (build once, serve every
    * retrieval from the stored form). */
  private val storedBm25Memo = buildMemo[(DataFrame, DataFrame)]()

  private def storedBm25Index(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    scratchLock.synchronized {
      storedBm25Memo.getOrElseUpdate((s, dir), {
        val (tf, _) = builtBm25Index(s, dir)
        val path = scratchPath("graft_bm25_index", dir)
        TextAnalysis.storeBm25IndexBucketed(tf, path)
        TextAnalysis.loadBm25IndexBucketed(s, path)
      })
    }

  private def maskNaN(df: DataFrame): DataFrame =
    df.withColumn("value", when(isnan(col("value")), lit(null)).otherwise(col("value")))

  /** Filters used by the `_where`-shaped queries (timedb/read.py:183-224):
    * id IN-list + retention list + half-open time ranges. */
  private val whereSids: Seq[Long] = (0L to 96L by 3L)
  private val whereSidsSql = whereSids.mkString("(", ", ", ")")

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  // ---------------------------------------------------------------------
  // Shared build artifacts
  //
  // An IVF index and a duplicate-cluster assignment are BUILD products: a
  // real pipeline materializes them once and amortizes them over every
  // downstream probe/selection, exactly like a table write. Recomputing
  // the build inside each consumer query (the round-4 shape) charged the
  // full index construction to every probe — the r4 verdict flagged it
  // and asked for the build to be hoisted. The build queries themselves
  // (`x_ann_ivf_assigned`, `x_dedup_clusters`) deliberately do NOT read
  // these memos: they measure a fresh build end-to-end every run, so the
  // build cost stays visible in the bench as its own line.
  // ---------------------------------------------------------------------

  /** Memoized IVF index per (session, data dir): (trained centroids,
    * corpus with cell assignment), both pinned by localCheckpoint so
    * consumers re-read materialized blocks instead of re-training. */
  private val ivfIndexMemo = buildMemo[(DataFrame, DataFrame)]()

  private def builtIvfIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    ivfIndexMemo.getOrElseUpdate((s, dir), {
      val emb = Tables.embeddings(s, dir)
      val cent = Similarity.cellCentroids(emb).localCheckpoint()
      val corpus = emb.join(
        Similarity.assignCells(emb, cent).select(col("vec_id"), col("cell")), "vec_id")
        .localCheckpoint()
      (cent, corpus)
    })

  /** Memoized PQ codebook frame per (session, data dir): the trained
    * (subspace, cell, dim, mean_v) table, localCheckpoint-pinned so the
    * ADC search and recall queries consume a built artifact instead of
    * re-running Lloyd iterations per query — the same build-once
    * contract as [[builtIvfIndex]]. `x_embed_pq` deliberately does NOT
    * read this memo: it measures a fresh training end-to-end. */
  private val pqMemo = buildMemo[DataFrame]()

  private def pqTrained(s: SparkSession, dir: String): DataFrame =
    pqMemo.getOrElseUpdate((s, dir),
      Similarity.pqTrain(Tables.embeddings(s, dir), m = 2, k = 4, iters = 2,
        dim = 64).localCheckpoint())

  /** DuckDB replay of PQ codebook training: per subspace, the same
    * Lloyd chain `x_embed_kmeans` replays (6dp-rounded lowest-id
    * seeds → 4dp cosine argmax assignment → DECIMAL-summed 6dp means),
    * over `list_slice`s of the embedding. Emits CTEs ending in
    * `pq (subspace, cell, dim, mean_v, n_vectors)` — shared by
    * `x_embed_pq` (checks training itself), `x_ann_pq` (ADC search
    * from the trained books), and `x_ann_pq_recall`. */
  private def pqTrainOracleCtes(m: Int, k: Int, iters: Int, dim: Int): String = {
    val subDim = dim / m
    val per = (0 until m).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      val sb = new StringBuilder
      sb ++= s"""sub_$s AS (
        |  SELECT vec_id, list_slice(CAST(embedding AS DOUBLE[]), $lo, $hi) AS sub
        |  FROM embeddings),
        |c0v_$s AS (
        |  SELECT cell, CAST(CAST(list(round(sub[d.i], 6) ORDER BY d.i) AS FLOAT[]) AS DOUBLE[]) AS centroid
        |  FROM (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, sub
        |        FROM sub_$s ORDER BY vec_id LIMIT $k) seeds,
        |       generate_series(1, $subDim) d(i)
        |  GROUP BY cell),
        |""".stripMargin
      for (t <- 1 to iters) {
        sb ++= s"""s${t}_$s AS (
          |  SELECT e.vec_id, c.cell,
          |    round(list_inner_product(e.sub, c.centroid)
          |      / NULLIF(sqrt(list_inner_product(e.sub, e.sub))
          |         * sqrt(list_inner_product(c.centroid, c.centroid)), 0), 4) + 0.0 AS cscore
          |  FROM sub_$s e, c${t - 1}v_$s c),
          |a${t}_$s AS (
          |  SELECT vec_id, cell FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id
          |      ORDER BY cscore DESC NULLS LAST, cell) AS rn FROM s${t}_$s)
          |  WHERE rn = 1),
          |""".stripMargin
        if (t < iters)
          sb ++= s"""c${t}v_$s AS (
            |  SELECT cell, CAST(CAST(list(mean_v ORDER BY dim) AS FLOAT[]) AS DOUBLE[]) AS centroid FROM (
            |    SELECT a.cell, d.i - 1 AS dim,
            |      round(CAST(SUM(CAST(e.sub[d.i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS mean_v
            |    FROM sub_$s e JOIN a${t}_$s a USING (vec_id), generate_series(1, $subDim) d(i)
            |    GROUP BY a.cell, d.i)
            |  GROUP BY cell),
            |""".stripMargin
      }
      sb ++= s"""f_$s AS (
        |  SELECT $s AS subspace, a.cell, d.i - 1 AS dim,
        |    round(CAST(SUM(CAST(e.sub[d.i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS mean_v,
        |    COUNT(*) AS n_vectors
        |  FROM sub_$s e JOIN a${iters}_$s a USING (vec_id), generate_series(1, $subDim) d(i)
        |  GROUP BY a.cell, d.i)""".stripMargin
      sb.toString
    }
    per.mkString(",\n") + ",\npq AS (" +
      (0 until m).map(s => s"SELECT * FROM f_$s").mkString(" UNION ALL ") + ")"
  }

  /** ADC LUT-side CTEs on top of [[pqTrainOracleCtes]]' `pq` table:
    * codebook vectors, per-subspace corpus encoding (cosine argmax,
    * identical to the kernel), and the query LUT (6dp partial dots) —
    * ending in `codes (vec_id, subspace, code)` and `lut (query_id,
    * subspace, cell, pdot)`. The scored step sits on top (it differs
    * between whole-corpus ADC and the IVF-pruned composition). */
  private def pqAdcLutCtes(m: Int, dim: Int): String = {
    val subDim = dim / m
    val encs = (0 until m).map { s =>
      s"""encs_$s AS (
      |  SELECT e.vec_id, c.cell,
      |    round(list_inner_product(e.sub, c.centroid)
      |      / NULLIF(sqrt(list_inner_product(e.sub, e.sub))
      |         * sqrt(list_inner_product(c.centroid, c.centroid)), 0), 4) + 0.0 AS cscore
      |  FROM sub_$s e, (SELECT cell, centroid FROM pqv WHERE subspace = $s) c),
      |enc_$s AS (
      |  SELECT vec_id, $s AS subspace, cell AS code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cscore DESC NULLS LAST, cell) AS rn FROM encs_$s)
      |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""pqv AS (
    |  SELECT subspace, cell,
    |    CAST(CAST(list(mean_v ORDER BY dim) AS FLOAT[]) AS DOUBLE[]) AS centroid
    |  FROM pq GROUP BY subspace, cell),
    |$encs,
    |codes AS (${(0 until m).map(s => s"SELECT * FROM enc_$s").mkString(" UNION ALL ")}),
    |lut AS (
    |  SELECT q.vec_id AS query_id, p.subspace, p.cell,
    |    round(list_inner_product(
    |      list_slice(CAST(q.embedding AS DOUBLE[]), p.subspace * $subDim + 1, (p.subspace + 1) * $subDim),
    |      p.centroid), 6) AS pdot
    |  FROM embeddings q, pqv p WHERE q.vec_id < 8)""".stripMargin
  }

  /** [[pqAdcLutCtes]] + whole-corpus DECIMAL-summed 4dp scores —
    * ending in `scored (query_id, cand_id, score)`.
    *
    * The 4dp round happens ON THE DECIMAL, not after the double cast:
    * the ADC sum is an exact 6dp decimal, so a trailing "…50" (a 4dp
    * half-way case — ~1% of scores) is COMMON, and DuckDB's
    * `round(DOUBLE, 4)` resolves it on the binary double (0.02465 →
    * 246.4999… → 0.0246) while Spark's `round` on the kernel's exact
    * micro-unit sum resolves it in decimal (HALF_UP → 0.0247).
    * Decimal-rounding first makes both engines take the decimal
    * half-up branch (caught live: `x_ann_ivfpq` row 23 at sf0.01). */
  private def pqAdcOracleCtes(m: Int, dim: Int): String =
    s"""${pqAdcLutCtes(m, dim)},
    |scored AS (
    |  SELECT l.query_id, c.vec_id AS cand_id,
    |    CAST(round(SUM(CAST(l.pdot AS DECIMAL(28,12))), 4) AS DOUBLE) AS score
    |  FROM codes c JOIN lut l
    |    ON l.subspace = c.subspace AND l.cell = c.code AND l.query_id <> c.vec_id
    |  GROUP BY l.query_id, c.vec_id)""".stripMargin

  /** DuckDB replay of [[graft.functions.CdcChunks]] (window 4, avg 64):
    * per-char code points → lag-window rolling hash → boundary rows →
    * chunk substrings + portable digests, ending in
    * `chunks (doc_id, len, digest)` — shared by `x_dedup_cdc` (census)
    * and `x_dedup_cdc_pairs` (containment). */
  private def cdcChunksOracleCtes: String =
    """d AS (
    |  SELECT doc_id, text, len(text) AS n FROM documents WHERE len(text) > 0),
    |p AS (
    |  SELECT doc_id, n, text, unnest(generate_series(1, n)) AS pos FROM d),
    |ch AS (
    |  SELECT doc_id, n, pos, unicode(substr(text, pos, 1)) AS c FROM p),
    |r AS (
    |  SELECT doc_id, n, pos,
    |    (c + COALESCE(lag(c, 1) OVER w, 0) * 257
    |       + COALESCE(lag(c, 2) OVER w, 0) * 66049
    |       + COALESCE(lag(c, 3) OVER w, 0) * 974545) % 1000003 AS roll
    |  FROM ch WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    |b AS (
    |  SELECT doc_id, pos,
    |    COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS prev
    |  FROM r WHERE (pos >= 4 AND roll % 64 = 0) OR pos = n),
    |chunks AS (
    |  SELECT b.doc_id, b.pos - b.prev AS len,
    |    CAST(concat('0x',
    |      substr(md5(substr(d.text, b.prev + 1, b.pos - b.prev)), 1, 15)) AS BIGINT) AS digest
    |  FROM b JOIN d USING (doc_id))"""

  /** DuckDB replay of the marker-heuristic language ID (scored per-lang
    * marker counts → deterministic argmax), ending in
    * `ranked (doc_id, lang, score, rn)` — shared by `x_text_lang`
    * (predictions) and `x_text_lang_eval` (confusion vs labels). */
  private def langIdOracleCtes: String = {
    val cases = graft.operators.TextAnalysis.langMarkers.sortBy(_._1).map { case (lang, ms) =>
      val inList = ms.map(m => s"'$m'").mkString("(", ", ", ")")
      s"len(list_filter(string_split(text, ' '), x -> x IN $inList)) AS score_$lang"
    }.mkString(",\n        |       ")
    val langs = graft.operators.TextAnalysis.langMarkers.map(_._1).sorted
    s"""scored AS (
        |  SELECT doc_id,
        |       $cases
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, lang, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
        |  FROM (
        |    ${langs.map(l => s"SELECT doc_id, '$l' AS lang, score_$l AS score FROM scored").mkString("\n        |    UNION ALL ")})
        |  )"""
  }

  /** DuckDB replay of LTTB downsampling to k = 12 points per series —
    * the left-to-right greedy selection has no window/aggregate form,
    * so the oracle UNROLLS it: one chained (avg, argmax-QUALIFY) CTE
    * pair per middle bucket, each step joining the previous step's
    * pick. Geometry runs on exact-integer-valued doubles (epoch-µs x,
    * 6dp micro-unit y, Long-exact bucket sums with one double
    * division), so the area argmax is bit-identical to the
    * [[graft.functions.LttbSelect]] kernel's. */
  private lazy val lttbOracleSql: String = {
    val k = 12
    val kk = k - 2
    val steps = (0 until kk).map { b =>
      val avg =
        if (b < kk - 1)
          s"""a$b AS (
          |  SELECT user_id, CAST(SUM(x) AS DOUBLE) / COUNT(*) AS ax,
          |         CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ay
          |  FROM big
          |  WHERE i >= 1 + ((${b + 1} * (n - 2)) // $kk)
          |    AND i < 1 + ((${b + 2} * (n - 2)) // $kk)
          |  GROUP BY user_id)"""
        else
          s"""a$b AS (
          |  SELECT user_id, CAST(x AS DOUBLE) AS ax, CAST(y AS DOUBLE) AS ay
          |  FROM big WHERE i = n - 1)"""
      val pick =
        s"""p$b AS (
        |  SELECT c.user_id, c.x, c.id, c.y
        |  FROM big c
        |  JOIN s$b s ON c.user_id = s.user_id
        |  JOIN a$b a ON c.user_id = a.user_id
        |  WHERE c.i >= 1 + (($b * (c.n - 2)) // $kk)
        |    AND c.i < 1 + ((${b + 1} * (c.n - 2)) // $kk)
        |  QUALIFY row_number() OVER (PARTITION BY c.user_id
        |    ORDER BY abs((s.px - a.ax) * (c.y - s.py)
        |                 - (s.px - c.x) * (a.ay - s.py)) DESC, c.i ASC) = 1)"""
      val next =
        s"""s${b + 1} AS (
        |  SELECT user_id, CAST(x AS DOUBLE) AS px, CAST(y AS DOUBLE) AS py
        |  FROM p$b)"""
      s"$avg,\n$pick,\n$next"
    }.mkString(",\n")
    val picks = (0 until kk)
      .map(b => s"  UNION ALL SELECT user_id, x, id, y FROM p$b")
      .mkString("\n")
    s"""WITH v AS (
    |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS x, event_id AS id,
    |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y,
    |    row_number() OVER (PARTITION BY user_id
    |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) - 1 AS i,
    |    COUNT(*) OVER (PARTITION BY user_id) AS n
    |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
    |small AS (SELECT user_id, x, id, y FROM v WHERE n <= $k),
    |big AS (SELECT * FROM v WHERE n > $k),
    |s0 AS (SELECT user_id, CAST(x AS DOUBLE) AS px, CAST(y AS DOUBLE) AS py
    |       FROM big WHERE i = 0),
    |$steps,
    |sel AS (
    |  SELECT user_id, x, id, y FROM big WHERE i = 0
    |$picks
    |  UNION ALL SELECT user_id, x, id, y FROM big WHERE i = n - 1
    |  UNION ALL SELECT user_id, x, id, y FROM small)
    |SELECT user_id, x AS ts_us, id AS event_id,
    |  CAST(y AS DOUBLE) / 1000000.0 AS value
    |FROM sel ORDER BY user_id, ts_us, event_id""".stripMargin
  }

  /** DuckDB replay of the deterministic 32×32 RGB test pattern
    * ([[graft.operators.Multimodal.pixelR]] and siblings) — the
    * codec-free ground truth for the REAL PNG encode→decode loop:
    * the image queries' oracles compute pixel statistics from this
    * formula directly, so a hash match proves the lossless round trip. */
  private lazy val imagePixelCtes: String =
    s"""px AS (
    |  SELECT d.doc_id AS asset_id, x.x, y.y
    |  FROM documents d, generate_series(0, 31) x(x), generate_series(0, 31) y(y)),
    |rgb AS (
    |  SELECT asset_id, x, y,
    |    ((asset_id // 2 % 999983) * 2654435761 % 999983 % 256
    |      + x * 13 + y * 31 + x * y
    |      + CASE WHEN asset_id % 2 = 1 AND x < 4 AND y < 4 THEN 41 ELSE 0 END) % 256 AS r,
    |    ((asset_id // 2 % 999979) * 2246822519 % 999979 % 256
    |      + x * 3 + y * 17 + 2 * x * y) % 256 AS g,
    |    ((asset_id // 2 % 999961) * 3266489917 % 999961 % 256
    |      + x * 19 + y * 23 + 3 * x * y) % 256 AS b
    |  FROM px)""".stripMargin

  /** [[imagePixelCtes]] extended with the dHash replay: integer gray,
    * 9×8 integer box-average cells, horizontal-adjacent bits, the
    * 64-bit hash as two non-negative 32-bit halves — operation-for-
    * operation the [[graft.operators.Multimodal.imageDHash]] math. */
  private lazy val imageDHashCtes: String =
    s"""$imagePixelCtes,
    |gray AS (
    |  SELECT asset_id, x, y, (299 * r + 587 * g + 114 * b) // 1000 AS gy,
    |         y // 4 AS cj
    |  FROM rgb),
    |cellx(ci, x0, x1) AS (
    |  SELECT i, i * 32 // 9, (i + 1) * 32 // 9 FROM generate_series(0, 8) t(i)),
    |avgs AS (
    |  SELECT asset_id, c.ci, gray.cj, SUM(gy) // COUNT(*) AS cavg
    |  FROM gray JOIN cellx c ON gray.x >= c.x0 AND gray.x < c.x1
    |  GROUP BY 1, 2, 3),
    |bits AS (
    |  SELECT a.asset_id, a.ci AS i, a.cj AS j,
    |         CASE WHEN a.cavg < b.cavg THEN 1 ELSE 0 END AS bit
    |  FROM avgs a JOIN avgs b
    |    ON b.asset_id = a.asset_id AND b.cj = a.cj AND b.ci = a.ci + 1
    |  WHERE a.ci < 8),
    |dh AS (
    |  SELECT asset_id,
    |    CAST(SUM(CASE WHEN j < 4
    |      THEN bit * (CAST(1 AS BIGINT) << ((j % 4) * 8 + i)) ELSE 0 END) AS BIGINT) AS dhash_hi,
    |    CAST(SUM(CASE WHEN j >= 4
    |      THEN bit * (CAST(1 AS BIGINT) << ((j % 4) * 8 + i)) ELSE 0 END) AS BIGINT) AS dhash_lo
    |  FROM bits GROUP BY 1)""".stripMargin

  /** DuckDB replay of the deterministic 8-frame 16×16 grayscale video
    * pattern ([[graft.operators.Multimodal.framePixel]]) — the
    * codec-free ground truth for the REAL animated-GIF encode→decode
    * loop: GIF is lossless over 8-bit grayscale, so per-frame stats
    * recomputed from this formula match the decoded frames bit-exactly. */
  private lazy val videoPixelCte: String =
    s"""vmix AS (
    |  SELECT d.doc_id AS asset_id, f.f,
    |    ((d.doc_id // 2 % 999959) * 1099087573 + f.f * 7919) % 999959
    |      * 2654435761 % 999959 AS mix
    |  FROM documents d, generate_series(0, 7) f(f)),
    |vpx AS (
    |  SELECT asset_id, f, x.x, y.y,
    |    (mix % 256
    |      + x.x * (13 + mix // 256 % 16) + y.y * (31 + mix // 4096 % 16)
    |      + x.x * y.y
    |      + CASE WHEN asset_id % 2 = 1 AND x.x < 4 AND y.y < 4
    |             THEN 41 ELSE 0 END) % 256 AS g
    |  FROM vmix, generate_series(0, 15) x(x), generate_series(0, 15) y(y))""".stripMargin

  /** [[videoPixelCte]] extended with the temporal-mean dHash replay
    * ([[graft.operators.Multimodal.videoDHash]] at stride 2): per-pixel
    * gray SUM over the sampled frames, 9×8 integer box-average cells on
    * the summed plane, horizontal-adjacent bits, the 64-bit hash as two
    * non-negative 32-bit halves — operation-for-operation the Spark
    * kernel's math, so a value match pins the multi-frame codec loop
    * AND the fold. */
  private lazy val videoDHashCtes: String =
    s"""$videoPixelCte,
    |vsum AS (
    |  SELECT asset_id, x, y, SUM(g) AS sg, y // 2 AS cj
    |  FROM vpx WHERE f % 2 = 0 GROUP BY 1, 2, 3),
    |vcellx(ci, x0, x1) AS (
    |  SELECT i, i * 16 // 9, (i + 1) * 16 // 9 FROM generate_series(0, 8) t(i)),
    |vavgs AS (
    |  SELECT asset_id, c.ci, vsum.cj, SUM(sg) // COUNT(*) AS cavg
    |  FROM vsum JOIN vcellx c ON vsum.x >= c.x0 AND vsum.x < c.x1
    |  GROUP BY 1, 2, 3),
    |vbits AS (
    |  SELECT a.asset_id, a.ci AS i, a.cj AS j,
    |         CASE WHEN a.cavg < b.cavg THEN 1 ELSE 0 END AS bit
    |  FROM vavgs a JOIN vavgs b
    |    ON b.asset_id = a.asset_id AND b.cj = a.cj AND b.ci = a.ci + 1
    |  WHERE a.ci < 8),
    |vdh AS (
    |  SELECT asset_id,
    |    CAST(SUM(CASE WHEN j < 4
    |      THEN bit * (CAST(1 AS BIGINT) << ((j % 4) * 8 + i)) ELSE 0 END) AS BIGINT) AS dhash_hi,
    |    CAST(SUM(CASE WHEN j >= 4
    |      THEN bit * (CAST(1 AS BIGINT) << ((j % 4) * 8 + i)) ELSE 0 END) AS BIGINT) AS dhash_lo
    |  FROM vbits GROUP BY 1)""".stripMargin

  /** DuckDB replay of the INTRA-corpus EXACT-Jaccard self-join — the
    * FULL all-pairs answer with no prefix logic, shared by
    * `x_dedup_ppjoin` (one-shot build+join) and
    * `x_dedup_ppjoin_stored` (pair-gen from the persisted prefix
    * index): a hash match on the one-shot form proves the prefix/
    * length/positional filter chain loses nothing; on the stored form
    * it additionally proves the parquet round trip does. */
  private lazy val fullPpjoinOracleSql: String =
    s"""WITH ft AS (
    |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
    |  FROM documents),
    |toks AS (
    |  SELECT DISTINCT doc_id,
    |    (((((CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) % 2147483647) * 1000003
    |      + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 * 1000003
    |      + CAST(concat('0x', substr(md5(t[g.i + 2]), 1, 8)) AS BIGINT)) % 2147483647 * 1000003
    |      + CAST(concat('0x', substr(md5(t[g.i + 3]), 1, 8)) AS BIGINT)) % 2147483647 * 1000003
    |      + CAST(concat('0x', substr(md5(t[g.i + 4]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
    |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
    |  WHERE g.i <= len(t) - 4),
    |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY 1),
    |inter AS (
    |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
    |  FROM toks a JOIN toks b ON a.sh = b.sh AND a.doc_id < b.doc_id
    |  GROUP BY 1, 2)
    |SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
    |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
    |FROM inter
    |JOIN sizes sa ON sa.doc_id = id_a
    |JOIN sizes sb ON sb.doc_id = id_b
    |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB replay of the incremental EXACT-Jaccard screen (batch =
    * doc_id % 5 == 0 against the other 80%) — the FULL batch x corpus
    * intersection with no prefix logic, shared by
    * `x_dedup_incremental_ppjoin` (one-shot index) and
    * `x_dedup_ppjoin_index_stored` (parquet round-tripped index): a
    * hash match proves the prefix/length/positional filter chain AND
    * the storage layer lose nothing. */
  private lazy val incrementalPpjoinOracleSql: String =
    s"""WITH ft AS (
    |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
    |  FROM documents),
    |toks AS (
    |  SELECT DISTINCT doc_id,
    |    (((((CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) % 2147483647) * 1000003
    |      + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 * 1000003
    |      + CAST(concat('0x', substr(md5(t[g.i + 2]), 1, 8)) AS BIGINT)) % 2147483647 * 1000003
    |      + CAST(concat('0x', substr(md5(t[g.i + 3]), 1, 8)) AS BIGINT)) % 2147483647 * 1000003
    |      + CAST(concat('0x', substr(md5(t[g.i + 4]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
    |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
    |  WHERE g.i <= len(t) - 4),
    |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY 1),
    |inter AS (
    |  SELECT a.doc_id AS new_id, b.doc_id AS seen_id, COUNT(*) AS inter
    |  FROM toks a JOIN toks b ON a.sh = b.sh
    |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
    |  GROUP BY 1, 2)
    |SELECT new_id, seen_id, inter, sa.sz AS sz_new, sb.sz AS sz_seen,
    |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
    |FROM inter
    |JOIN sizes sa ON sa.doc_id = new_id
    |JOIN sizes sb ON sb.doc_id = seen_id
    |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    |ORDER BY new_id, seen_id""".stripMargin

  /** DuckDB replay of the incremental LSH screening (batch = doc_id %
    * 5 == 0 against the other 80%'s capped posting lists) — shared by
    * `x_dedup_incremental_lsh` (in-process index) and
    * `x_dedup_index_stored` (parquet round-tripped index): the stored
    * form must screen IDENTICALLY, so both queries check against the
    * same SQL. */
  private lazy val incrementalLshOracleSql: String = {
    val perms = (0 until 16).map { i =>
      val (a, b) = Portable.minHashCoeffs(i)
      s"($i, $a, $b)"
    }.mkString(", ")
    s"""WITH ft AS (
    |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
    |  FROM documents),
    |grams AS (
    |  SELECT doc_id,
    |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
    |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
    |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
    |  WHERE g.i <= len(t) - 1),
    |perms(i, a, b) AS (VALUES $perms),
    |sigs AS (
    |  SELECT doc_id, i, min((a * sh + b) % 2147483647) AS sig
    |  FROM grams, perms GROUP BY doc_id, i),
    |banded AS (
    |  SELECT doc_id, i // 2 AS band, string_agg(sig::VARCHAR, ',' ORDER BY i) AS band_key
    |  FROM sigs GROUP BY doc_id, i // 2),
    |seen AS (SELECT * FROM banded WHERE doc_id % 5 <> 0),
    |-- the maxBucket cap applies to the SEEN side's posting lists,
    |-- mirroring the Spark operator by construction
    |seencap AS (
    |  SELECT band, band_key FROM seen GROUP BY band, band_key
    |  HAVING COUNT(*) <= 1000)
    |SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS seen_id
    |FROM banded l
    |JOIN seen r ON l.band = r.band AND l.band_key = r.band_key
    |JOIN seencap c ON c.band = r.band AND c.band_key = r.band_key
    |WHERE l.doc_id % 5 = 0 AND l.doc_id <> r.doc_id
    |ORDER BY new_id, seen_id""".stripMargin
  }

  /** Memoized STORED near-dup index per (session, data dir): the seen
    * side's (band, band_key, ids) posting lists written to parquet and
    * read back — the epoch-index contract end-to-end (build once,
    * persist, screen every batch from the stored form). The memo keys
    * the round-trip, not just the frame, so repeated query runs re-read
    * the stored table instead of rebuilding and rewriting it — exactly
    * how an ingest loop consumes a per-epoch index. */
  private val storedNearDupIndexMemo = buildMemo[DataFrame]()

  /** pid-scoped scratch root for the build-once/serve-many artifacts
    * keyed by data dir: without the pid component two concurrent JVMs
    * benching the same dataset would delete()/rebuild the same store
    * under each other's reads (ADVICE r8). Path key inside the root:
    * the sanitized dir string itself (hashCode alone could collide two
    * dirs onto one store; the full string cannot). */
  private def scratchPath(kind: String, dir: String): String = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"${kind}_${ProcessHandle.current().pid()}")
    registerScratchRoot(root)
    new java.io.File(root,
      dir.replaceAll("[^A-Za-z0-9._-]", "_") +
        "-" + java.lang.Integer.toHexString(dir.hashCode)).getPath
  }

  // pid-scoped scratch roots would otherwise accumulate one artifact
  // set per JVM run (the pre-pid fixed paths were overwritten in
  // place, bounding disk; the pid suffix unbounded it) — a shutdown
  // hook reclaims everything this process created.
  private val scratchRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private lazy val scratchHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchRoots.forEach(FsUtil.deleteRecursively(_))
    }))
    ()
  }
  private def registerScratchRoot(root: java.io.File): Unit = {
    scratchHook
    scratchRoots.add(root); ()
  }

  /** Guards every side-effecting store builder: TrieMap.getOrElseUpdate
    * is atomic about which RESULT wins, not about how many times the
    * thunk runs — an intra-process race could otherwise run a
    * delete+create+append sequence twice against the same path. */
  private val scratchLock = new Object

  private def storedNearDupIndex(s: SparkSession, dir: String): DataFrame =
    scratchLock.synchronized {
      storedNearDupIndexMemo.getOrElseUpdate((s, dir), {
        val seen = Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) =!= 0)
        // BUCKETED epoch store (r19, layout parity with the ppjoin and
        // BM25 stores — the r18 verdict's #8): the posting lists
        // persist bucketed by (band, band_key), so the loaded scan exposes
        // HashPartitioning to any screen shape that shuffles the index
        // (today's screen broadcasts the batch side, so the serve plan
        // is unchanged — the bucketing is layout future-proofing paid
        // once at the epoch write, PlanSpec-pinned).
        val path = scratchPath("graft_neardup_index", dir)
        Dedup.storeNearDupIndexBucketed(
          Dedup.nearDupIndex(seen, n = 2, numHashes = 16, bands = 8),
          n = 2, numHashes = 16, bands = 8, maxBucket = Dedup.DefaultMaxBucket,
          path = path)
        Dedup.loadNearDupIndexBucketed(s, path)
      })
    }

  /** Memoized PARQUET-backed PpJoin index per (session, data dir) —
    * the exact-Jaccard twin of [[storedNearDupIndex]]: the three
    * [[Dedup.PpJoinIndex]] frames (df table, prefix posting lists,
    * rarity-keyed sets) written once per ingest epoch and every screen
    * served from the stored tables. Built with the default
    * `materialize = true`: the three frames all derive from the set
    * table, so the checkpoint keeps the three parquet writes from
    * re-running the rarity window once each. */
  private val storedPpJoinIndexMemo = buildMemo[Dedup.PpJoinIndex]()

  private def storedPpJoinIndex(s: SparkSession, dir: String): Dedup.PpJoinIndex =
    scratchLock.synchronized {
      storedPpJoinIndexMemo.getOrElseUpdate((s, dir), {
        val seen = Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) =!= 0)
        // BUCKETED epoch store (r18, upgrading r17's session-lifetime
        // colocatePpJoinIndex): the two joined index tables are written
        // bucketed by their join keys, so every screen — in THIS session
        // and any future one reading the same store — finds the corpus
        // side pre-distributed and pre-sorted from the parquet scan
        // itself. Scoped to the INCREMENTAL index: the intra self-join
        // epoch (storedFullPpJoinIndex) never joins dfTable and its
        // set joins are deliberately broadcast-shaped.
        val built = Dedup.ppJoinIndex(seen, n = 5, threshold = 0.5)
        val path = scratchPath("graft_ppjoin_index", dir)
        Dedup.storePpJoinIndexBucketed(built, path)
        Dedup.loadPpJoinIndexBucketed(s, path)
      })
    }

  private def buildStoredPpJoinIndex(s: SparkSession, seen: DataFrame,
      root: String): Dedup.PpJoinIndex = {
    val built = Dedup.ppJoinIndex(seen, n = 5, threshold = 0.5)
    built.dfTable.write.mode("overwrite").parquet(s"$root/df")
    built.postings.write.mode("overwrite").parquet(s"$root/postings")
    built.sets.write.mode("overwrite").parquet(s"$root/sets")
    Dedup.PpJoinIndex(s.read.parquet(s"$root/df"),
      s.read.parquet(s"$root/postings"), s.read.parquet(s"$root/sets"),
      n = built.n, threshold = built.threshold, idCol = built.idCol)
  }

  /** Full-table twin of [[storedPpJoinIndex]], for the INTRA-corpus
    * self-join (`x_dedup_ppjoin`): the incremental index deliberately
    * covers only the already-ingested 80% epoch (its rarity order must
    * not leak batch knowledge), so the self-join over ALL documents
    * keeps its own stored epoch. Both queries then replay from
    * parquet posting/set tables and the set-preparation phase is paid
    * once per epoch in `index_build`, not per query — the same
    * build-once/serve-many contract as the LSH leg's
    * `x_dedup_index_stored`. */
  private val storedFullPpJoinIndexMemo = buildMemo[(Dedup.PpJoinIndex, DataFrame)]()

  private def storedFullPpJoinIndex(
      s: SparkSession, dir: String): (Dedup.PpJoinIndex, DataFrame) =
    scratchLock.synchronized {
      storedFullPpJoinIndexMemo.getOrElseUpdate((s, dir), {
        val root = scratchPath("graft_ppjoin_index_full", dir)
        val idx = buildStoredPpJoinIndex(s, Tables.documents(s, dir), root)
        // the pt-grouped posting LISTS ride the same epoch build: the
        // self-join's pair generator starts directly from these stored
        // arrays, zero set-prep exchanges in-query
        Dedup.ppJoinPostingLists(idx.postings)
          .write.mode("overwrite").parquet(s"$root/posting_lists")
        (idx, s.read.parquet(s"$root/posting_lists"))
      })
    }

  /** Memoized LIVE-JDBC catalog per (session, data dir): the
    * customer-derived series catalog INSERTed once into an embedded
    * Derby table, so `td_meta_read_jdbc` exercises the reference's
    * PG-engine meta path (timedb/read.py:73-180) end-to-end — the
    * resolve goes through `spark.read.jdbc` with the addressing
    * predicate pushed into the engine scan, not a DataFrame surrogate.
    * The seed collect is catalog-sized by the same contract as
    * [[graft.sources.MetaSource.resolve]] (timedb/read.py:128-130):
    * engine catalogs are thousands of rows, not data-proportional.
    * Returns the JDBC url of the seeded database. */
  private val jdbcCatalogMemo = buildMemo[String]()

  private def jdbcCatalogUrl(s: SparkSession, dir: String): String =
    scratchLock.synchronized {
      jdbcCatalogMemo.getOrElseUpdate((s, dir), {
        // pid-scoped like scratchPath: two JVMs benching the same dir
        // must not share one in-memory engine (and cannot — Derby
        // memory DBs are per-process — but the name discipline keeps
        // the key story uniform)
        val db = "graftmeta_" + ProcessHandle.current().pid() + "_" +
          dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-" + java.lang.Integer.toHexString(dir.hashCode)
        val url = s"jdbc:derby:memory:$db;create=true"
        val rows = metaCatalogFrame(s, dir).collect()
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          val st = conn.createStatement()
          // memo invalidation (scale-up rewrite) re-seeds into the same
          // process-lived database: drop the previous epoch's table
          // first (Derby has no IF EXISTS — a missing table just throws)
          try st.execute("DROP TABLE meta")
          catch { case _: java.sql.SQLException => () }
          st.execute("CREATE TABLE meta (series_id BIGINT, " +
            "path VARCHAR(128), retention VARCHAR(16))")
          st.close()
          val ps = conn.prepareStatement("INSERT INTO meta VALUES (?, ?, ?)")
          rows.foreach { r =>
            ps.setLong(1, r.getLong(0))
            ps.setString(2, r.getString(1))
            ps.setString(3, r.getString(2))
            ps.addBatch()
          }
          ps.executeBatch()
          ps.close()
        } finally conn.close()
        url
      })
    }

  /** JDBC connection properties for the embedded Derby engine. */
  private def derbyProps: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** The shared customer→catalog derivation: `customer` plays the
    * engine catalog; paths form a mktsegment subtree, retention cycles
    * through the four TTL classes. Consumed by `td_meta_read` (as a
    * DataFrame catalog) and seeded into Derby for `td_meta_read_jdbc`
    * (as a live engine table) — one derivation, two transports. */
  private def metaCatalogFrame(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey").as("series_id"),
      concat(lit("root/"), col("c_mktsegment"), lit("/"),
        col("c_custkey").cast("string")).as("path"),
      when(pmod(col("c_custkey"), lit(4)) === 0, "short")
        .when(pmod(col("c_custkey"), lit(4)) === 1, "medium")
        .when(pmod(col("c_custkey"), lit(4)) === 2, "long")
        .otherwise("forever").as("retention"))

  /** Memoized PARQUET-backed IVF index per (session, data dir): the
    * [[builtIvfIndex]] artifacts (centroid table + cell-assigned
    * corpus) written to a scratch store and read back — the vector-side
    * twin of [[storedNearDupIndex]]'s build-once/serve-many contract:
    * an ANN index at 100 TB is a TABLE other sessions probe, not a
    * per-session in-memory artifact. Floats round-trip parquet
    * losslessly, so the stored probe must answer identically to the
    * in-memory path (same oracle as `x_ann_ivf_probe`). */
  private val storedIvfIndexMemo = buildMemo[(DataFrame, DataFrame)]()

  private def storedIvfIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    scratchLock.synchronized {
      storedIvfIndexMemo.getOrElseUpdate((s, dir), {
        val (cent, corpus) = builtIvfIndex(s, dir)
        val base = scratchPath("graft_ivf_index", dir)
        cent.write.mode("overwrite").parquet(s"$base/centroids")
        // CELL-PARTITIONED (r18): the physical layout an IVF index
        // exists for — a probe's static `cell IN (...)` filter prunes
        // to the probed directories at file-listing time, so serve IO
        // is O(probed cells), not O(corpus). See
        // Similarity.ivfProbeTopKPruned.
        corpus.write.mode("overwrite").partitionBy("cell")
          .parquet(s"$base/corpus")
        (s.read.parquet(s"$base/centroids"), s.read.parquet(s"$base/corpus"))
      })
    }

  /** The vec ids `x_ann_deleted` tombstones out of the appended IVF
    * store — includes query vec 5, which must vanish as a CANDIDATE
    * for the other queries (query vectors are external to the store,
    * so 5 still queries; the text-side twin covers the
    * query-from-the-store case). */
  private val annDeletedIds: Seq[Long] = Seq(5L, 9L, 18L, 27L)

  /** Memoized APPENDED IVF store per (session, data dir) — the
    * incremental-maintenance lifecycle `x_ann_incremental` serves
    * from: centroids train on the RESIDENT three-quarter slice
    * (vec_id % 4 <> 3) only; that slice seeds the store through
    * [[graft.operators.Similarity.ivfAppend]] as the epoch build
    * (batch_id = 0); the held-out quarter then arrives as a later
    * batch (batch_id = 1), ASSIGNED against the frozen codebook —
    * never retrained on — and committed as new files under the
    * existing cell directories, each batch one manifest commit; the
    * corpus is read back from the manifest
    * ([[graft.sources.IndexStore.levels]]). Beside it,
    * [[graft.operators.Similarity.ivfDelete]] lands [[annDeletedIds]]
    * in the SIBLING tombstone store (its own manifest, invisible to
    * corpus reads), so `x_ann_incremental` serves the corpus untouched
    * while `x_ann_deleted` serves it through the tombstone anti-join.
    * Build-once/serve-many like every stored artifact here. Returns
    * (centroids, corpus, tombstones). */
  private val appendedIvfMemo = buildMemo[(DataFrame, DataFrame, DataFrame)]()

  private def appendedIvfIndex(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    scratchLock.synchronized {
      appendedIvfMemo.getOrElseUpdate((s, dir), {
        val emb = Tables.embeddings(s, dir)
        val resident = emb.filter(pmod(col("vec_id"), lit(4)) =!= 3)
        val batch = emb.filter(pmod(col("vec_id"), lit(4)) === 3)
        val cent = Similarity.cellCentroids(resident).localCheckpoint()
        val base = scratchPath("graft_ivf_append", dir)
        cent.write.mode("overwrite").parquet(s"$base/centroids")
        Similarity.ivfAppend(resident, cent, s"$base/corpus", batchId = 0L)
        Similarity.ivfAppend(batch, cent, s"$base/corpus", batchId = 1L)
        Similarity.ivfDelete(s, s"$base/corpus", annDeletedIds, batchId = 2L)
        (s.read.parquet(s"$base/centroids"), IndexStore.levels(s, s"$base/corpus").get,
          IndexStore.levels(s, s"$base/corpus_del").get)
      })
    }

  /** Memoized STORED IVFPQ index per (session, data dir) — the
    * encoded-at-rest form `x_ann_ivfpq_stored` serves from: the built
    * IVF corpus's cells + the trained PQ books encode once into a
    * (cell, vec_id, codes) table written `partitionBy(cell)`, beside
    * parquet copies of the centroid and codebook frames. The serve
    * path reads code bytes under a static probed-cell filter; the
    * float corpus is never scanned. Build-once/serve-many like every
    * stored artifact here. Returns (centroids, codes, pq). */
  private val storedIvfPqMemo = buildMemo[(DataFrame, DataFrame, DataFrame)]()

  private def storedIvfPqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    scratchLock.synchronized {
      storedIvfPqMemo.getOrElseUpdate((s, dir), {
        val (cent, corpus) = builtIvfIndex(s, dir)
        val pq = pqTrained(s, dir)
        val base = scratchPath("graft_ivfpq_index", dir)
        cent.write.mode("overwrite").parquet(s"$base/centroids")
        pq.write.mode("overwrite").parquet(s"$base/pq")
        Similarity.ivfPqStoreRows(corpus, pq, m = 2, dim = 64)
          .write.mode("overwrite").partitionBy("cell").parquet(s"$base/codes")
        (s.read.parquet(s"$base/centroids"), s.read.parquet(s"$base/codes"),
          s.read.parquet(s"$base/pq"))
      })
    }

  /** Memoized time-travel scratch store per (session, data dir): the
    * bitemporal surrogate committed in TWO deterministic batches (even
    * series ids, then odd), so the commit log has a version boundary an
    * AS-OF read can land on. Rebuilt from scratch on first use in a
    * process (delete + create + two appends — the same build-once/
    * serve-many lifecycle as [[storedNearDupIndex]]); repeated query
    * runs reuse the committed store, which is exactly how a reader
    * consumes a table's history. versions() after the build:
    * v1 = empty create, v2 = even-series snapshot, v3 = full table. */
  private val timeTravelStoreMemo = buildMemo[graft.sources.SeriesStore]()

  private def timeTravelStore(s: SparkSession, dir: String): graft.sources.SeriesStore =
    scratchLock.synchronized { timeTravelStoreMemo.getOrElseUpdate((s, dir), {
      val base = scratchPath("graft_timetravel", dir)
      val store = new graft.sources.SeriesStore(s, base)
      store.delete()
      store.create()
      val sv = Tables.series(s, dir)
        // hourly valid buckets → end = start + 1 h (the surrogate has no
        // end axis; any deterministic derivation works for the replay)
        .withColumn("valid_time_end",
          col("valid_time") + expr("INTERVAL 1 HOUR"))
        .select(graft.sources.Schema.seriesValuesColumns.map(col): _*)
      store.appendValues(sv.filter(pmod(col("series_id"), lit(2)) === 0))
      store.appendValues(sv.filter(pmod(col("series_id"), lit(2)) =!= 0))
      // appendValues SKIPS the manifest commit for a batch that stages
      // no files, so a dataset whose series ids are all one parity
      // would silently shift the version indices the queries rely on —
      // fail loudly instead of letting td_time_travel read the wrong
      // snapshot against its oracle.
      require(store.versions().length >= 3,
        "timeTravelStore: expected 3 committed versions (create + two " +
          s"parity batches), found ${store.versions().length} — the source " +
          "frame must contain BOTH series-id parities")
      store
    }) }

  /** Memoized z-mirrored store per (session, data dir): the
    * [[timeTravelStore]] with a z-ordered mirror of its current table
    * committed (SeriesStore.createZOrderedMirror) — the build-once
    * lifecycle of every stored artifact here, so `td_zmirror_read`
    * measures the mirror READ path (manifest resolve → the 2-D-clustered
    * files it lists), not a rebuild per run. */
  private val zMirrorMemo = buildMemo[graft.sources.SeriesStore]()

  private def zMirroredStore(s: SparkSession, dir: String): graft.sources.SeriesStore =
    scratchLock.synchronized {
      zMirrorMemo.getOrElseUpdate((s, dir), {
        val store = timeTravelStore(s, dir)
        store.createZOrderedMirror("sv_zm", files = 16)
        // second mirror pinned AT the even-batch snapshot (v2): the
        // odd batch then sits only in the commit log, so
        // `td_zmirror_tail`'s merge-on-read must produce the full
        // table from clustered-base ∪ change-feed-delta
        store.createZOrderedMirror("sv_zmt", files = 16,
          asOfVersion = Some(store.versions()(1)))
        store
      })
    }

  /** Memoized bucketed-mirror store per (session, data dir): the
    * [[timeTravelStore]] with TWO bucketed mirrors committed at EQUAL
    * bucket counts — the values table and a per-series aggregate
    * table, both bucketed on `series_id`
    * (SeriesStore.createBucketedMirror / createBucketedMirrorOf) — so
    * `td_bucketed_join` measures the co-located-join READ path (two
    * bucketed scans, zero exchanges), not a rebuild per run. The
    * aggregate side is exact arithmetic only (count + min/max
    * timestamps), so the oracle replays it bit-for-bit. */
  private val bucketedMemo = buildMemo[graft.sources.SeriesStore]()

  private def bucketedStore(s: SparkSession, dir: String): graft.sources.SeriesStore =
    scratchLock.synchronized {
      bucketedMemo.getOrElseUpdate((s, dir), {
        val store = timeTravelStore(s, dir)
        store.createBucketedMirror("sv_bk", nBuckets = 8)
        store.createBucketedMirrorOf(
          store.scanValues().drop("valid_month")
            .groupBy(col("series_id"))
            .agg(count(lit(1)).as("n_rows"),
              min(col("valid_time")).as("first_valid"),
              max(col("valid_time")).as("last_valid")),
          "sv_agg_bk", nBuckets = 8, sortCols = Seq("series_id"))
        store
      })
    }

  /** Memoized COMPACTED store per (session, data dir): its own scratch
    * store written as SIX small parity batches (every month dir ends
    * over the compaction threshold), then `compactPartitions` rewrites
    * each dir to sorted zstd files and `vacuum` physically deletes the
    * replaced originals and the superseded manifests. The memo asserts
    * the maintenance actually happened (file count shrank, old files
    * gone), so the `td_compact_read` query measures — and its oracle
    * checks — the READ-AFTER-MAINTENANCE path: manifest resolve over
    * only the rewritten files. Read-after-compact ≡ read-before is
    * exactly the invariant compaction must preserve. */
  private val compactedMemo = buildMemo[graft.sources.SeriesStore]()

  private def compactedStore(s: SparkSession, dir: String): graft.sources.SeriesStore =
    scratchLock.synchronized {
      compactedMemo.getOrElseUpdate((s, dir), {
        val base = scratchPath("graft_compact", dir)
        val store = new graft.sources.SeriesStore(s, base)
        store.delete()
        store.create()
        val sv = Tables.series(s, dir)
          .withColumn("valid_time_end",
            col("valid_time") + expr("INTERVAL 1 HOUR"))
          .select(graft.sources.Schema.seriesValuesColumns.map(col): _*)
        (0 until 6).foreach { p =>
          store.appendValues(sv.filter(pmod(col("series_id"), lit(6)) === p))
        }
        val before = store.currentFiles().length
        val compacted = store.compactPartitions(maxFiles = 2)
        require(compacted.nonEmpty,
          s"compactedStore: no partition dir exceeded maxFiles — $before " +
            "live files; the six parity batches should over-populate every dir")
        val after = store.currentFiles().toSet
        require(after.size < before,
          s"compactedStore: compaction did not shrink the file count " +
            s"($before -> ${after.size})")
        // minAge 0: the test store's replaced files are deletable NOW;
        // production keeps the 15-minute in-flight-reader grace window.
        val deleted = store.vacuum(keepManifests = 1, minAgeMillis = 0L)
          .map(_.stripPrefix("series_values/"))
        require(deleted.nonEmpty && deleted.forall(!after.contains(_)),
          "compactedStore: vacuum must delete only the replaced pre-compact files")
        store
      })
    }

  /** Memoized duplicate-cluster frame per (session, data dir): the
    * bigram-Jaccard candidate pairs collapsed to connected components —
    * the assignment every keep/drop decision downstream consumes.
    * (duplicateClusters' final labels are already localCheckpoint'ed.) */
  private val clusterMemo = buildMemo[DataFrame]()

  private def builtClusters(s: SparkSession, dir: String): DataFrame =
    clusterMemo.getOrElseUpdate((s, dir),
      Dedup.duplicateClusters(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 2, threshold = 0.2, maxDf = 50)))

  /** DuckDB replay of `TextAnalysis.bpeTrain` for `iters` merges: one
    * CTE block per iteration — weighted adjacent-pair counts, the
    * (cnt DESC, l, r) winner, and the greedy non-overlapping re-encode.
    * Greedy left-to-right selection is expressed relationally: matches
    * at consecutive positions form a run (they share a symbol), and
    * greedy keeps exactly the odd offsets within each run, so the
    * gaps-and-islands window reproduces the Scala fold's choices. The
    * oracle assumes the corpus doesn't exhaust before `iters` merges
    * (the Scala side stops early; any non-trivial corpus has pairs). */
  private def bpeCtes(iters: Int): String = {
    val its = (1 to iters).map { k =>
      s""",
         |pairs$k AS MATERIALIZED (
         |  SELECT s[i] AS l, s[i + 1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i FROM enc${k - 1})
         |  GROUP BY 1, 2),
         |best$k AS MATERIALIZED (SELECT l, r, cnt FROM pairs$k ORDER BY cnt DESC, l, r LIMIT 1),
         |pos$k AS MATERIALIZED (
         |  SELECT word, freq, i, s[i] AS sym,
         |         (i < len(s) AND s[i] = (SELECT l FROM best$k)
         |                     AND s[i + 1] = (SELECT r FROM best$k)) AS m
         |  FROM (SELECT word, freq, s, unnest(generate_series(1, len(s))) AS i FROM enc${k - 1})),
         |sel$k AS MATERIALIZED (
         |  SELECT word, i FROM (
         |    SELECT word, i, row_number() OVER (PARTITION BY word, i - rn ORDER BY i) AS off
         |    FROM (SELECT word, i, row_number() OVER (PARTITION BY word ORDER BY i) AS rn
         |          FROM pos$k WHERE m))
         |  WHERE off % 2 = 1),
         |enc$k AS MATERIALIZED (
         |  SELECT p.word, p.freq,
         |         list(CASE WHEN t.i IS NOT NULL THEN (SELECT l || r FROM best$k)
         |              ELSE p.sym END ORDER BY p.i) AS s
         |  FROM pos$k p
         |  LEFT JOIN sel$k t ON t.word = p.word AND t.i = p.i
         |  LEFT JOIN sel$k c ON c.word = p.word AND c.i = p.i - 1
         |  WHERE c.i IS NULL
         |  GROUP BY p.word, p.freq)""".stripMargin
    }.mkString
    s"""WITH words AS MATERIALIZED (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
       |        FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$')
       |  GROUP BY 1),
       |enc0 AS MATERIALIZED (
       |  SELECT word, freq, list(substr(word, i, 1) ORDER BY i) AS s
       |  FROM (SELECT word, freq, unnest(generate_series(1, length(word))) AS i FROM words)
       |  GROUP BY word, freq)$its""".stripMargin
  }

  /** SQL replay of `Layout.zAddress` + the coarse-cell census: the
    * Morton interleave unrolls to the same literal shift/mask chain the
    * Column fold builds, and buckets share the one-IEEE-division rule
    * (rel_histogram discipline). */
  private def zOrderOracleSql(bits: Int): String = {
    val n = (1L << bits).toDouble
    val hi = (1L << bits) - 1
    def bucket(v: String, lo: String, hiB: String): String =
      s"CASE WHEN $hiB = $lo THEN 0 ELSE least($hi, " +
        s"CAST(floor(($v - $lo) / (($hiB - $lo) / $n)) AS BIGINT)) END"
    val interleave = (0 until bits).flatMap { i =>
      Seq(s"(((zx >> $i) & 1) << ${2 * i})", s"(((zy >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" | ")
    s"""WITH e AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS x, value AS y FROM events),
       |b AS (
       |  SELECT min(x) AS xlo, max(x) AS xhi, min(y) AS ylo, max(y) AS yhi
       |  FROM e),
       |z AS (
       |  SELECT ${bucket("x", "xlo", "xhi")} AS zx,
       |         ${bucket("y", "ylo", "yhi")} AS zy
       |  FROM e CROSS JOIN b),
       |addr AS (
       |  SELECT zx, zy, ($interleave) AS zaddr FROM z)
       |SELECT zaddr >> ${2 * bits - 6} AS zcell, COUNT(*) AS n,
       |       min(zx) AS x_lo, max(zx) AS x_hi,
       |       min(zy) AS y_lo, max(zy) AS y_hi
       |FROM addr GROUP BY 1
       |ORDER BY zcell""".stripMargin
  }

  private def bpeOracleSql(iters: Int): String = {
    val rows = (1 to iters).map { k =>
      if (k == 1) s"SELECT 1 AS iteration, l AS merge_left, r AS merge_right, cnt AS pair_count FROM best1"
      else s"SELECT $k, l, r, cnt FROM best$k"
    }.mkString("\n  UNION ALL ")
    s"""${bpeCtes(iters)}
       |SELECT iteration, merge_left, merge_right, pair_count FROM (
       |  $rows)
       |ORDER BY iteration""".stripMargin
  }

  /** DuckDB replay of `TextAnalysis.bpeEncode` over the merges
    * `bpeCtes` learns: every document token either takes its trained
    * word encoding (enc$iters) or passes through as a single opaque
    * symbol, flattened back in position order. */
  private def bpeEncodeOracleSql(iters: Int): String =
    s"""${bpeCtes(iters)},
       |dtoks AS (
       |  SELECT doc_id, g.i AS pos, t[g.i] AS tok
       |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i
       |        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |              FROM documents)) g),
       |encd AS (
       |  SELECT d.doc_id, d.pos,
       |         CASE WHEN regexp_matches(lower(d.tok), '^[a-z]+$$') AND e.s IS NOT NULL
       |              THEN e.s ELSE [d.tok] END AS enc
       |  FROM dtoks d LEFT JOIN enc$iters e ON e.word = lower(d.tok))
       |SELECT doc_id,
       |  array_to_string(flatten(list(enc ORDER BY pos)), ' ') AS bpe_tokens
       |FROM encd GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Drop the build-artifact memos — MUST accompany `Tables.invalidate()`
    * whenever a data directory is rewritten in-process (the bench's
    * scale-up dir): the memos pin checkpointed frames computed from the
    * directory's PREVIOUS contents, and a memo hit after a rewrite would
    * silently serve stale results. */
  def invalidateBuildMemos(): Unit = {
    buildMemos.foreach(_.clear())
    // model broadcasts are memoized by content inside the kernel object;
    // a rewritten dir retrains, so the stale handles must be destroyed
    graft.functions.NbScores.invalidateModelMemo()
  }

  /** Force every build-artifact memo for `dir` and report each build's
    * wall seconds. The bench calls this BEFORE its timed region so
    * index/store construction is charged to a named `index_build` line
    * instead of leaking into whichever timed query touches the memo
    * first (r8: `x_ann_ivf_probe` swung 0.28 ↔ 1.45 s between epochs
    * purely on build attribution). Each thunk forces materialization —
    * the localCheckpoints inside the builders are eager, and the
    * stores/parquet round-trips are synchronous writes. */
  def prewarmBuilds(s: SparkSession, dir: String): (Seq[(String, Double)], Seq[String]) = {
    val times = Seq.newBuilder[(String, Double)]
    val errors = Seq.newBuilder[String]
    // per-build fault isolation: one failing build must neither abort
    // the remaining prewarms (they'd leak back into timed queries —
    // the exact attribution bug this function exists to fix) nor
    // discard the timings already taken
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      try { f; times += name -> (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          // keep the message, same 120-char discipline as Bench's
          // timed-query errors — a failed prewarm must be diagnosable
          // from the committed artifact alone
          errors += s"$name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(120)
      }
    }
    timed("copurchase_edges") { copurchaseEdges(s, dir); () }
    timed("bm25_index") { builtBm25Index(s, dir); () }
    timed("ivf_index") { builtIvfIndex(s, dir); () }
    timed("pq_codebook") { pqTrained(s, dir); () }
    timed("neardup_index_stored") { storedNearDupIndex(s, dir); () }
    timed("ppjoin_index_stored") { storedPpJoinIndex(s, dir); () }
    timed("ppjoin_index_full_stored") { storedFullPpJoinIndex(s, dir); () }
    timed("ivf_index_stored") { storedIvfIndex(s, dir); () }
    timed("ivf_index_appended") { appendedIvfIndex(s, dir); () }
    timed("ivfpq_index_stored") { storedIvfPqIndex(s, dir); () }
    timed("bm25_index_stored") { storedBm25Index(s, dir); () }
    timed("bm25_segments") { segmentedBm25Store(s, dir, deleted = false); () }
    timed("bm25_segments_del") { segmentedBm25Store(s, dir, deleted = true); () }
    timed("dup_clusters") { builtClusters(s, dir).count(); () }
    timed("timetravel_store") { timeTravelStore(s, dir); () }
    timed("compacted_store") { compactedStore(s, dir); () }
    timed("bucketed_mirrors") { bucketedStore(s, dir); () }
    timed("zorder_mirror") { zMirroredStore(s, dir); () }
    timed("jdbc_catalog_seed") { jdbcCatalogUrl(s, dir); () }
    (times.result(), errors.result())
  }

  // ---------------------------------------------------------------------
  // Query registry — insertion order is build order
  // ---------------------------------------------------------------------

  private type QueryFn = (SparkSession, String) => DataFrame

  private val registry: Vector[(String, QueryFn, Option[String])] = Vector(

    // ----- temporal read shapes (SURVEY §2.5/2.6: A1 A3 WF1 J1 A4) -----

    ("td_latest",
      (s, dir) => ReadShapes.latest(Tables.series(s, dir))
        .orderBy("series_id", "valid_time"),
      Some(s"""$svCte
        |SELECT series_id, valid_time, value FROM (
        |  SELECT series_id, valid_time, value,
        |         row_number() OVER (PARTITION BY series_id, valid_time
        |                            ORDER BY knowledge_time DESC, change_time DESC, value DESC) AS rn
        |  FROM sv)
        |WHERE rn = 1
        |ORDER BY series_id, valid_time""".stripMargin)),

    ("td_overlapping",
      (s, dir) => ReadShapes.overlapping(Tables.series(s, dir))
        .orderBy("series_id", "valid_time", "knowledge_time"),
      Some(s"""$svCte
        |SELECT series_id, knowledge_time, valid_time, value FROM (
        |  SELECT series_id, knowledge_time, valid_time, value,
        |         row_number() OVER (PARTITION BY series_id, valid_time, knowledge_time
        |                            ORDER BY change_time DESC, value DESC) AS rn
        |  FROM sv)
        |WHERE rn = 1
        |ORDER BY series_id, valid_time, knowledge_time""".stripMargin)),

    ("td_latest_changes",
      (s, dir) => ReadShapes.latestWithChanges(Tables.series(s, dir))
        .orderBy("series_id", "valid_time", "change_time"),
      Some(s"""$svCte,
        |win AS (
        |  SELECT * FROM (
        |    SELECT *, max(knowledge_time) OVER (PARTITION BY series_id, valid_time) AS max_kt
        |    FROM sv)
        |  WHERE knowledge_time = max_kt),
        |lagged AS (
        |  SELECT series_id, valid_time, change_time, value, changed_by, annotation,
        |         lag(ROW(value, annotation, changed_by)) OVER (
        |           PARTITION BY series_id, valid_time ORDER BY change_time ASC) AS prev
        |  FROM win)
        |SELECT series_id, valid_time, change_time, value, changed_by, annotation
        |FROM lagged
        |WHERE prev IS NULL OR ROW(value, annotation, changed_by) IS DISTINCT FROM prev
        |ORDER BY series_id, valid_time, change_time""".stripMargin)),

    ("td_overlapping_changes",
      (s, dir) => ReadShapes.overlappingWithChanges(Tables.series(s, dir))
        .orderBy("series_id", "valid_time", "knowledge_time", "change_time"),
      Some(s"""$svCte,
        |lagged AS (
        |  SELECT series_id, valid_time, knowledge_time, change_time, value, changed_by, annotation,
        |         lag(ROW(value, annotation, changed_by)) OVER (
        |           PARTITION BY series_id, knowledge_time, valid_time ORDER BY change_time ASC) AS prev
        |  FROM sv)
        |SELECT series_id, valid_time, knowledge_time, change_time, value, changed_by, annotation
        |FROM lagged
        |WHERE prev IS NULL OR ROW(value, annotation, changed_by) IS DISTINCT FROM prev
        |ORDER BY series_id, valid_time, knowledge_time, change_time""".stripMargin)),

    // ----- predicate builder + projection (SURVEY §2.3: P1/P2) -----

    ("td_where",
      (s, dir) => {
        val f = ReadFilter(
          seriesIds = whereSids,
          retention = Seq("medium", "long", "forever"),
          startValid = Some(ts("2024-01-05T00:00:00Z")),
          endValid = Some(ts("2024-03-01T00:00:00Z")),
          startKnown = Some(ts("2024-01-02T00:00:00Z")))
        Tables.series(s, dir).filter(f.predicate)
          .select("series_id", "valid_time", "knowledge_time", "change_time",
            "value", "changed_by", "annotation", "retention")
          .orderBy("series_id", "valid_time", "knowledge_time", "change_time")
      },
      Some(s"""$svCte
        |SELECT series_id, valid_time, knowledge_time, change_time,
        |       value, changed_by, annotation, retention
        |FROM sv
        |WHERE series_id IN $whereSidsSql
        |  AND retention IN ('medium', 'long', 'forever')
        |  AND valid_time >= TIMESTAMP '2024-01-05'
        |  AND valid_time <  TIMESTAMP '2024-03-01'
        |  AND knowledge_time >= TIMESTAMP '2024-01-02'
        |ORDER BY series_id, valid_time, knowledge_time, change_time""".stripMargin)),

    // ----- relative (as-of) reads (SURVEY §2.5 A4 + §2.8 F1/F9) -----

    ("td_relative",
      // 6 h windows anchored at 2024-01-01, cutoff 4 h into each window:
      // knowledge_time lags valid_time by ≲1 h in the surrogate, so the
      // cutoff genuinely partitions rows (non-empty, non-total).
      (s, dir) => ReadShapes.relative(Tables.series(s, dir),
        windowSecs = 6 * 3600, offsetSecs = 4 * 3600,
        startWindow = ts("2024-01-01T00:00:00Z"))
        .orderBy("series_id", "valid_time"),
      Some(s"""$svCte,
        |cut AS (
        |  SELECT *,
        |    epoch_us(TIMESTAMP '2024-01-01')
        |      + ((epoch_us(valid_time) - epoch_us(TIMESTAMP '2024-01-01'))
        |         - (epoch_us(valid_time) - epoch_us(TIMESTAMP '2024-01-01')) % 21600000000)
        |      + 14400000000 AS cutoff_us
        |  FROM sv)
        |SELECT series_id, valid_time, value FROM (
        |  SELECT series_id, valid_time, value,
        |         row_number() OVER (PARTITION BY series_id, valid_time
        |                            ORDER BY knowledge_time DESC, change_time DESC, value DESC) AS rn
        |  FROM cut
        |  WHERE epoch_us(knowledge_time) <= cutoff_us)
        |WHERE rn = 1
        |ORDER BY series_id, valid_time""".stripMargin)),

    ("td_relative_daily",
      // Daily shorthand desugaring (timedb/read.py:480-492): days_ahead=0,
      // time_of_day=23:00 ⇒ window=1d, offset=23h−0d, origin=midnight−1d.
      // ("values known by 23:00 the same day" — non-empty for the
      // surrogate, where knowledge_time trails valid_time by ≲1 h.)
      (s, dir) => ReadShapes.relative(Tables.series(s, dir),
        windowSecs = 86400, offsetSecs = 23 * 3600,
        startWindow = ts("2023-12-31T00:00:00Z"))
        .orderBy("series_id", "valid_time"),
      Some(s"""$svCte,
        |cut AS (
        |  SELECT *,
        |    epoch_us(TIMESTAMP '2023-12-31')
        |      + ((epoch_us(valid_time) - epoch_us(TIMESTAMP '2023-12-31'))
        |         - (epoch_us(valid_time) - epoch_us(TIMESTAMP '2023-12-31')) % 86400000000)
        |      + ${23 * 3600}000000::BIGINT AS cutoff_us
        |  FROM sv)
        |SELECT series_id, valid_time, value FROM (
        |  SELECT series_id, valid_time, value,
        |         row_number() OVER (PARTITION BY series_id, valid_time
        |                            ORDER BY knowledge_time DESC, change_time DESC, value DESC) AS rn
        |  FROM cut
        |  WHERE epoch_us(knowledge_time) <= cutoff_us)
        |WHERE rn = 1
        |ORDER BY series_id, valid_time""".stripMargin)),

    // ----- run_series collapse + ordering (SURVEY §2.1 S2, §2.7 O2) -----

    ("td_run_series",
      (s, dir) => Tables.series(s, dir)
        .groupBy("series_id", "run_id")
        .agg(max("knowledge_time").as("first_seen"))
        .orderBy(col("series_id"), col("first_seen").desc, col("run_id")),
      Some(s"""$svCte
        |SELECT series_id, run_id, max(knowledge_time) AS first_seen
        |FROM sv GROUP BY series_id, run_id
        |ORDER BY series_id, first_seen DESC, run_id""".stripMargin)),

    // ----- time travel over the store's commit log (SURVEY §2.1 S1) -----

    ("td_time_travel",
      // Read the table AS OF the version committed BEFORE the second
      // batch landed: the even-series snapshot, unreachable from the
      // current manifest. The store plans against exactly the files the
      // older manifest lists (SeriesStore.scanValuesAsOf), so the oracle
      // is simply the first batch's defining predicate re-applied to the
      // source frame — files, not filters, are what's being tested.
      (s, dir) => {
        val store = timeTravelStore(s, dir)
        val evenSnapshot = store.versions()(1) // v1 = empty create
        store.scanValuesAsOf(evenSnapshot)
          .select("series_id", "valid_time", "knowledge_time", "change_time",
            "value", "changed_by", "annotation", "retention")
          .orderBy("series_id", "valid_time", "knowledge_time", "change_time")
      },
      Some(s"""$svCte
        |SELECT series_id, valid_time, knowledge_time, change_time,
        |       value, changed_by, annotation, retention
        |FROM sv
        |WHERE series_id % 2 = 0
        |ORDER BY series_id, valid_time, knowledge_time, change_time""".stripMargin)),

    ("td_change_feed",
      // Incremental consumption over the same commit log: the rows of
      // every file added between the even-series snapshot and the full
      // table — the delta a downstream index-maintenance consumer reads
      // to advance its cursor. Cost ∝ new data, never table size; the
      // oracle is the second batch's defining predicate.
      (s, dir) => {
        val store = timeTravelStore(s, dir)
        val vs = store.versions()
        store.scanChangesBetween(vs(1), vs(2))
          .select("series_id", "valid_time", "knowledge_time", "change_time",
            "value", "changed_by", "annotation", "retention")
          .orderBy("series_id", "valid_time", "knowledge_time", "change_time")
      },
      Some(s"""$svCte
        |SELECT series_id, valid_time, knowledge_time, change_time,
        |       value, changed_by, annotation, retention
        |FROM sv
        |WHERE series_id % 2 = 1
        |ORDER BY series_id, valid_time, knowledge_time, change_time""".stripMargin)),

    ("td_zmirror_read",
      // Read SERVED FROM the z-ordered mirror: the engine resolves the
      // mirror's current manifest and scans the 2-D-clustered files it
      // lists with a band predicate on BOTH clustering axes — the
      // oracle replays the defining predicate over the source frame,
      // so what's tested is that the mirror's files (written via
      // Layout.zOrdered, committed by one manifest rename) hold
      // exactly the table. Footer stats prune ~√sel of the files on
      // either axis (LayoutSpec pins the geometry). The band sits
      // inside every scale factor's series ids (0-14 at sf0.001) and
      // days (2024-01-01..30), so it selects rows at each.
      (s, dir) => {
        val store = zMirroredStore(s, dir)
        store.scanZOrdered("sv_zm")
          .filter(col("series_id").between(4, 11) &&
            col("valid_time") >= lit(ts("2024-01-03T00:00:00Z")) &&
            col("valid_time") < lit(ts("2024-01-20T00:00:00Z")))
          .select("series_id", "valid_time", "knowledge_time", "change_time",
            "value", "changed_by", "annotation", "retention")
          .orderBy("series_id", "valid_time", "knowledge_time", "change_time")
      },
      Some(s"""$svCte
        |SELECT series_id, valid_time, knowledge_time, change_time,
        |       value, changed_by, annotation, retention
        |FROM sv
        |WHERE series_id BETWEEN 4 AND 11
        |  AND valid_time >= TIMESTAMP '2024-01-03'
        |  AND valid_time <  TIMESTAMP '2024-01-20'
        |ORDER BY series_id, valid_time, knowledge_time, change_time""".stripMargin)),

    ("td_zmirror_tail",
      // MERGE-ON-READ over the z-mirror: the mirror is pinned at the
      // even-series snapshot (v2), the odd batch exists only in the
      // commit log — the engine must serve the CURRENT table as
      // clustered base ∪ change-feed tail, the lakehouse base+delta
      // pattern (rebuilds play the compaction role). The oracle is
      // simply the full table: files and the version cursor, not
      // filters, are what's being tested.
      (s, dir) => {
        val store = zMirroredStore(s, dir)
        store.scanZOrderedWithTail("sv_zmt")
          .filter(col("series_id").between(10, 80) &&
            col("valid_time") >= lit(ts("2024-01-02T00:00:00Z")))
          .select("series_id", "valid_time", "knowledge_time", "change_time",
            "value", "changed_by", "annotation", "retention")
          .orderBy("series_id", "valid_time", "knowledge_time", "change_time")
      },
      Some(s"""$svCte
        |SELECT series_id, valid_time, knowledge_time, change_time,
        |       value, changed_by, annotation, retention
        |FROM sv
        |WHERE series_id BETWEEN 10 AND 80
        |  AND valid_time >= TIMESTAMP '2024-01-02'
        |ORDER BY series_id, valid_time, knowledge_time, change_time""".stripMargin)),

    ("td_compact_read",
      // Read AFTER compaction + vacuum (SURVEY §2.1 S4 maintenance):
      // six small append batches over-populated every month dir,
      // compactPartitions rewrote each to sorted zstd files, vacuum
      // deleted the originals and superseded manifests — the scan now
      // resolves the current manifest over ONLY the rewritten files.
      // The oracle is the full table: read-after-compact ≡
      // read-before is the invariant the maintenance pair must
      // preserve (the td_time_travel discipline — files, not filters,
      // are what's tested).
      (s, dir) => compactedStore(s, dir).scanValues()
        .select("series_id", "valid_time", "knowledge_time", "change_time",
          "value", "changed_by", "annotation", "retention")
        .orderBy("series_id", "valid_time", "knowledge_time", "change_time"),
      Some(s"""$svCte
        |SELECT series_id, valid_time, knowledge_time, change_time,
        |       value, changed_by, annotation, retention
        |FROM sv
        |ORDER BY series_id, valid_time, knowledge_time, change_time""".stripMargin)),

    ("td_bucketed_join",
      // CO-LOCATED equi-join served from TWO bucketed mirrors with
      // equal bucket counts (values table ⋈ per-series aggregates,
      // both bucketed on series_id): the scans arrive already
      // hash-partitioned on the key, so the join plans with ZERO
      // exchanges — no shuffle, no broadcast build (PlanSpec pins the
      // no-Exchange shape). The merge hint keeps the catalog-sized agg
      // side out of a broadcast: at 100 TB both sides are fact-scale
      // and sort-merge-over-buckets IS the plan this layout exists for
      // (the reference's sort-key co-location, ch_create_tables.sql:42).
      // The oracle replays the aggregate + join over the source frame —
      // files and bucket layout, not filters, are what's being tested.
      (s, dir) => {
        val store = bucketedStore(s, dir)
        store.scanBucketed("sv_bk")
          .join(store.scanBucketed("sv_agg_bk").hint("merge"), "series_id")
          .filter(col("series_id").between(10, 60))
          .select(col("series_id"), col("valid_time"), col("knowledge_time"),
            col("change_time"), col("value"), col("n_rows"),
            col("first_valid"), col("last_valid"))
          .orderBy("series_id", "valid_time", "knowledge_time", "change_time")
      },
      Some(s"""$svCte,
        |agg AS (SELECT series_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |               MIN(valid_time) AS first_valid,
        |               MAX(valid_time) AS last_valid
        |        FROM sv GROUP BY series_id)
        |SELECT s.series_id, s.valid_time, s.knowledge_time, s.change_time,
        |       s.value, a.n_rows, a.first_valid, a.last_valid
        |FROM sv s JOIN agg a USING (series_id)
        |WHERE s.series_id BETWEEN 10 AND 60
        |ORDER BY s.series_id, s.valid_time, s.knowledge_time, s.change_time""".stripMargin)),

    // ----- skip-unchanged write dedup (SURVEY §2.2 W4 + §2.4 J2) -----

    ("td_skip_unchanged",
      // stored + incoming are parity slices of ONE table here, so the
      // co-located W4 variant applies: one scan, one shuffle on the scope
      // key (the two-frame filterUnchanged path costs 2 scans + 4
      // exchanges and is pinned equivalent by WritePipelineSpec).
      (s, dir) => {
        val sv = Tables.series(s, dir)
          .withColumn("value",
            when(col("value") < 25, lit(Double.NaN))
              .otherwise(floor(col("value") / 50) * 50.0))
          .withColumn("annotation", lit(""))
        val isStored = pmod(unix_micros(col("knowledge_time")), lit(2)) === 0
        maskNaN(
          WritePipeline.filterUnchangedCoLocated(sv, isStored, UnchangedScope.ValidTime)
            .select("series_id", "valid_time", "knowledge_time", "value", "changed_by"))
          .orderBy("series_id", "valid_time", "knowledge_time")
      },
      Some(s"""$svCte,
        |q AS (
        |  SELECT series_id, valid_time, knowledge_time, change_time,
        |         CASE WHEN value < 25 THEN 'NaN'::DOUBLE ELSE floor(value / 50) * 50.0 END AS value,
        |         changed_by, '' AS annotation
        |  FROM sv),
        |stored AS (SELECT * FROM q WHERE epoch_us(knowledge_time) % 2 = 0),
        |incoming AS (SELECT * FROM q WHERE epoch_us(knowledge_time) % 2 = 1),
        |stored_latest AS (
        |  SELECT series_id, valid_time, value, annotation, changed_by FROM (
        |    SELECT *, row_number() OVER (PARTITION BY series_id, valid_time
        |      ORDER BY knowledge_time DESC, change_time DESC, value DESC, annotation DESC, changed_by DESC) AS rn
        |    FROM stored)
        |  WHERE rn = 1)
        |SELECT i.series_id, i.valid_time, i.knowledge_time,
        |       CASE WHEN isnan(i.value) THEN NULL ELSE i.value END AS value,
        |       i.changed_by
        |FROM incoming i LEFT JOIN stored_latest st
        |  ON i.series_id = st.series_id AND i.valid_time = st.valid_time
        |WHERE st.series_id IS NULL
        |   OR NOT (i.value = st.value AND i.annotation = st.annotation
        |           AND i.changed_by = st.changed_by)
        |ORDER BY i.series_id, i.valid_time, i.knowledge_time""".stripMargin)),

    // ----- NaN sentinel round trip (SURVEY §2.3 P3, §2.8 F7) -----

    ("td_nan_roundtrip",
      (s, dir) => maskNaN(
        ReadShapes.latest(
          Tables.series(s, dir)
            .withColumn("value", when(col("value") < 10, lit(Double.NaN)).otherwise(col("value"))))
      ).orderBy("series_id", "valid_time"),
      Some(s"""$svCte,
        |q AS (SELECT series_id, valid_time, knowledge_time, change_time,
        |             CASE WHEN value < 10 THEN 'NaN'::DOUBLE ELSE value END AS value
        |      FROM sv)
        |SELECT series_id, valid_time,
        |       CASE WHEN isnan(value) THEN NULL ELSE value END AS value FROM (
        |  SELECT series_id, valid_time, value,
        |         row_number() OVER (PARTITION BY series_id, valid_time
        |                            ORDER BY knowledge_time DESC, change_time DESC, value DESC) AS rn
        |  FROM q)
        |WHERE rn = 1
        |ORDER BY series_id, valid_time""".stripMargin)),

    // ----- time-series extensions: as-of join, gap-fill, delta -----

    ("ts_asof_join",
      // "last purchase value known at each click" — the as-of join the
      // forecast domain needs (latest value at-or-before each event).
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        TimeSeriesOps.asOfJoin(clicks, purchases, keyCol = "user_id")
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
        |clicks AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'click'),
        |purchases AS (SELECT user_id, ts, value FROM ev WHERE event_type = 'purchase')
        |SELECT l.user_id, l.ts, l.event_id, r.value AS asof_value
        |FROM clicks l ASOF LEFT JOIN purchases r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY event_id""".stripMargin)),

    ("ts_asof_forward",
      // Forward as-of: the NEXT purchase at-or-after each click — the
      // label-generation direction ("what happened next").
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        TimeSeriesOps.asOfJoin(clicks, purchases, keyCol = "user_id",
          direction = "forward")
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
        |clicks AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'click'),
        |purchases AS (SELECT user_id, ts, value FROM ev WHERE event_type = 'purchase')
        |SELECT l.user_id, l.ts, l.event_id, r.value AS asof_value
        |FROM clicks l ASOF LEFT JOIN purchases r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY event_id""".stripMargin)),

    ("ts_asof_nearest",
      // Nearest as-of: the time-closest purchase either side of each
      // click, ties to the preceding one.
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        TimeSeriesOps.asOfJoin(clicks, purchases, keyCol = "user_id",
          direction = "nearest")
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
        |clicks AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'click'),
        |purchases AS (SELECT user_id, ts, value FROM ev WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT l.user_id, l.ts, l.event_id, r.ts AS bts, r.value AS bv
        |  FROM clicks l ASOF LEFT JOIN purchases r
        |    ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (
        |  SELECT l.event_id, r.ts AS fts, r.value AS fv
        |  FROM clicks l ASOF LEFT JOIN purchases r
        |    ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT b.user_id, b.ts, b.event_id,
        |       CASE WHEN fts IS NULL THEN bv
        |            WHEN bts IS NULL THEN fv
        |            WHEN epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts)
        |              THEN bv
        |            ELSE fv END AS asof_value
        |FROM b JOIN f ON f.event_id = b.event_id
        |ORDER BY b.event_id""".stripMargin)),

    ("ts_interval_union",
      // Union coverage of overlapping activity intervals per user:
      // event_id-derived durations so the arithmetic is integer-exact
      // on both engines.
      (s, dir) => {
        val iv = Tables.events(s, dir).select(
          col("user_id").as("series_id"),
          col("ts").as("start_ts"),
          timestamp_micros(unix_micros(col("ts"))
            + (col("event_id") % 7200 + 60) * 1000000L).as("end_ts"))
        TimeSeriesOps.intervalUnionLength(iv).orderBy("series_id")
      },
      Some("""WITH iv AS (
        |  SELECT user_id AS series_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS su,
        |         epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 7200 + 60) * 1000000 AS eu
        |  FROM events),
        |marked AS (
        |  SELECT series_id, su, eu,
        |    CASE WHEN max(eu) OVER (PARTITION BY series_id ORDER BY su, eu
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |         OR su > max(eu) OVER (PARTITION BY series_id ORDER BY su, eu
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         THEN 1 ELSE 0 END AS opens
        |  FROM iv WHERE eu > su),
        |seg AS (
        |  SELECT series_id, su, eu,
        |    SUM(opens) OVER (PARTITION BY series_id ORDER BY su, eu
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        |  FROM marked),
        |lens AS (
        |  SELECT series_id, seg, max(eu) - min(su) AS len
        |  FROM seg GROUP BY series_id, seg)
        |SELECT series_id, COUNT(*) AS n_segments,
        |       CAST(SUM(len) AS BIGINT) AS covered_us
        |FROM lens GROUP BY series_id
        |ORDER BY series_id""".stripMargin)),

    ("ts_resample_fill",
      // Hourly grid over the first week, latest value per bucket,
      // forward-filled gaps — downsampling + gap-fill in one pass.
      (s, dir) => TimeSeriesOps.resampleFill(
        Tables.events(s, dir).select(
          col("user_id").as("series_id"), col("ts"), col("value")),
        stepSec = 3600,
        start = ts("2024-01-01T00:00:00Z"), end = ts("2024-01-08T00:00:00Z"))
        .orderBy("series_id", "bucket"),
      Some("""WITH pts AS (
        |  SELECT user_id AS series_id, CAST(ts AS TIMESTAMP) AS t, value FROM events),
        |bucketed AS (
        |  SELECT series_id,
        |         make_timestamp(epoch_us(t) - (epoch_us(t) - epoch_us(TIMESTAMP '2024-01-01')) % 3600000000) AS bucket,
        |         value,
        |         row_number() OVER (PARTITION BY series_id,
        |             epoch_us(t) - (epoch_us(t) - epoch_us(TIMESTAMP '2024-01-01')) % 3600000000
        |           ORDER BY t DESC, value DESC) AS rn
        |  FROM pts
        |  WHERE t >= TIMESTAMP '2024-01-01' AND t < TIMESTAMP '2024-01-08'),
        |winners AS (SELECT series_id, bucket, value AS bucket_value FROM bucketed WHERE rn = 1),
        |grid AS (
        |  SELECT s.series_id, g.b AS bucket
        |  FROM (SELECT DISTINCT series_id FROM pts
        |        WHERE t >= TIMESTAMP '2024-01-01' AND t < TIMESTAMP '2024-01-08') s,
        |       generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-07 23:00:00', INTERVAL 1 HOUR) g(b))
        |SELECT g.series_id, g.bucket, w.bucket_value,
        |       (last_value(CASE WHEN w.series_id IS NOT NULL THEN {'v': w.bucket_value} END IGNORE NULLS) OVER (
        |         PARTITION BY g.series_id ORDER BY g.bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)).v AS filled_value
        |FROM grid g LEFT JOIN winners w
        |  ON g.series_id = w.series_id AND g.bucket = w.bucket
        |ORDER BY g.series_id, g.bucket""".stripMargin)),

    ("ts_delta_rate",
      (s, dir) => TimeSeriesOps.deltaRate(
        Tables.events(s, dir).select(
          col("user_id").as("series_id"), col("ts"), col("value")))
        .orderBy("series_id", "ts"),
      Some("""WITH pts AS (
        |  SELECT user_id AS series_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
        |SELECT series_id, ts, value,
        |  value - lag(value) OVER w AS delta,
        |  CASE WHEN epoch_us(ts) = epoch_us(lag(ts) OVER w) THEN NULL
        |       ELSE (value - lag(value) OVER w)
        |            / ((epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0) END AS rate_per_sec
        |FROM pts
        |WINDOW w AS (PARTITION BY series_id ORDER BY ts)
        |ORDER BY series_id, ts""".stripMargin)),

    ("x_funnel",
      // Ordered conversion funnel over the event stream: earliest view,
      // earliest click strictly after it, earliest purchase after that
      // — greedy-earliest (the standard funnel semantics), one row per
      // user with the step times and completion depth.
      (s, dir) => TimeSeriesOps.funnel(Tables.events(s, dir),
        steps = Seq("view", "click", "purchase"))
        .orderBy("user_id"),
      Some("""WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM ev),
        |s1 AS (SELECT user_id, MIN(t) AS t_1 FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.t) AS t_2 FROM ev e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.t > s1.t_1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.t) AS t_3 FROM ev e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.t > s2.t_2 GROUP BY 1)
        |SELECT u.user_id, s1.t_1, s2.t_2, s3.t_3,
        |  (CASE WHEN s1.t_1 IS NULL THEN 0 ELSE 1 END
        |   + CASE WHEN s2.t_2 IS NULL THEN 0 ELSE 1 END
        |   + CASE WHEN s3.t_3 IS NULL THEN 0 ELSE 1 END) AS steps_completed
        |FROM u
        |LEFT JOIN s1 USING (user_id)
        |LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin)),

    ("x_cohort_retention",
      // Weekly cohort retention matrix: users cohort by first-activity
      // week; each cell is the cohort fraction still active k weeks
      // later — funnels measure depth, cohorts measure persistence.
      (s, dir) => TimeSeriesOps.cohortRetention(Tables.events(s, dir),
        maxWeeks = 3)
        .orderBy("cohort_week", "week_offset"),
      Some("""WITH ev AS (
        |  SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS w FROM events),
        |weeks AS (SELECT DISTINCT user_id, w FROM ev),
        |cohort AS (SELECT user_id, MIN(w) AS cohort_week FROM weeks GROUP BY 1),
        |sizes AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM cohort GROUP BY 1),
        |cells AS (
        |  SELECT c.cohort_week,
        |         CAST(date_diff('day', c.cohort_week, k.w) // 7 AS INT) AS week_offset,
        |         COUNT(*) AS n_active
        |  FROM weeks k JOIN cohort c USING (user_id)
        |  WHERE date_diff('day', c.cohort_week, k.w) // 7 <= 3
        |  GROUP BY 1, 2)
        |SELECT cells.cohort_week, cells.week_offset, cells.n_active, s.cohort_size,
        |       round(CAST(cells.n_active AS DOUBLE) / s.cohort_size, 4) AS retention
        |FROM cells JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin)),

    ("ts_downsample",
      // OHLC decimation: per (series, day) the open/high/low/close bars
      // plus point count — the downsample that keeps the extremes a
      // plain average erases. Open/close ties break on event_id, so
      // bars are deterministic; both windows and the bar aggregate run
      // on one (series, bucket) exchange.
      (s, dir) => TimeSeriesOps.downsampleOhlc(
        Tables.events(s, dir).select(
          col("user_id").as("series_id"), col("ts"), col("value"), col("event_id")),
        bucket = "day")
        .orderBy("series_id", "bucket"),
      Some("""WITH pts AS (
        |  SELECT user_id AS series_id, CAST(ts AS TIMESTAMP) AS t, value, event_id FROM events),
        |rn AS (
        |  SELECT series_id, date_trunc('day', t) AS bucket, value,
        |    row_number() OVER (PARTITION BY series_id, date_trunc('day', t)
        |                       ORDER BY t, event_id) AS rf,
        |    row_number() OVER (PARTITION BY series_id, date_trunc('day', t)
        |                       ORDER BY t DESC, event_id DESC) AS rl
        |  FROM pts)
        |SELECT series_id, bucket,
        |  MIN(CASE WHEN rf = 1 THEN value END) AS open,
        |  MAX(value) AS high,
        |  MIN(value) AS low,
        |  MIN(CASE WHEN rl = 1 THEN value END) AS close,
        |  COUNT(*) AS n_points
        |FROM rn
        |GROUP BY series_id, bucket
        |ORDER BY series_id, bucket""".stripMargin)),

    // ----- external-catalog meta resolve (SURVEY §2.1 S8 + §2.4 J4) -----

    ("td_meta_read",
      // PgEngineMeta surrogate: `customer` plays the catalog; series ids
      // addressed by a path subtree (root/BUILDING/...), resolved once to
      // literal lists (the scalar-subquery trick), then the normal latest
      // read — semantics of timedb/read.py:118-180.
      (s, dir) => {
        val catalog = metaCatalogFrame(s, dir)
        // plan-side resolve (resolvedCatalog): the id and retention
        // sets ride in as broadcast semi-joins that build WHILE the
        // series scan plans/runs, replacing the blocking driver collect
        // + literal isin splice (resolve()) — one fewer job, same
        // oracle. TimeDb's store reads keep resolve(): there the
        // literal list must prune month partitions before the scan.
        val resolved = graft.sources.MetaSource(catalog, rootPath = Some("root/BUILDING"))
          .resolvedCatalog()
        // no .distinct() on the retention side: left_semi dedupes by
        // construction, and the distinct only shrank a catalog-sized
        // broadcast at the cost of an exchange inside its build
        ReadShapes.latest(Tables.series(s, dir)
          .join(broadcast(resolved.select("series_id")), Seq("series_id"), "left_semi")
          .join(broadcast(resolved.select("retention")), Seq("retention"), "left_semi"))
          .orderBy("series_id", "valid_time")
      },
      Some(s"""$svCte,
        |meta AS (
        |  SELECT c_custkey AS series_id,
        |         concat('root/', c_mktsegment, '/', CAST(c_custkey AS VARCHAR)) AS path,
        |         CASE c_custkey % 4 WHEN 0 THEN 'short' WHEN 1 THEN 'medium'
        |                            WHEN 2 THEN 'long' ELSE 'forever' END AS retention
        |  FROM customer),
        |resolved AS (
        |  SELECT * FROM meta
        |  WHERE path = 'root/BUILDING' OR path LIKE 'root/BUILDING/%')
        |SELECT series_id, valid_time, value FROM (
        |  SELECT series_id, valid_time, value,
        |         row_number() OVER (PARTITION BY series_id, valid_time
        |                            ORDER BY knowledge_time DESC, change_time DESC, value DESC) AS rn
        |  FROM sv
        |  WHERE series_id IN (SELECT series_id FROM resolved)
        |    AND retention IN (SELECT DISTINCT retention FROM resolved))
        |WHERE rn = 1
        |ORDER BY series_id, valid_time""".stripMargin)),

    ("td_meta_read_jdbc",
      // The SAME meta-scoped latest read, but the catalog is a LIVE
      // JDBC engine table (embedded Derby seeded once per epoch from
      // the identical customer derivation) — the end-to-end analog of
      // the reference's PostgreSQL PgEngineMeta (timedb/read.py:73-180),
      // where the catalog lives in an external engine and the
      // addressing predicate must push into the engine scan. resolve()
      // collects the catalog-sized match to literal isin lists (the
      // scalar-subquery trick, timedb/read.py:176-179): a JDBC relation
      // has no Spark-side statistics, so the plan-side semi-join path
      // would not auto-broadcast — the literal splice keeps the read
      // single-scan regardless. Oracle identical to `td_meta_read`
      // because the transport must not change the answer.
      (s, dir) => {
        val (ids, rets) = graft.sources.MetaSource.jdbc(
          s, jdbcCatalogUrl(s, dir), "meta", derbyProps,
          rootPath = Some("root/BUILDING")).resolve()
        ReadShapes.latest(Tables.series(s, dir)
          .filter(col("series_id").isin(ids: _*) && col("retention").isin(rets: _*)))
          .orderBy("series_id", "valid_time")
      },
      Some(s"""$svCte,
        |meta AS (
        |  SELECT c_custkey AS series_id,
        |         concat('root/', c_mktsegment, '/', CAST(c_custkey AS VARCHAR)) AS path,
        |         CASE c_custkey % 4 WHEN 0 THEN 'short' WHEN 1 THEN 'medium'
        |                            WHEN 2 THEN 'long' ELSE 'forever' END AS retention
        |  FROM customer),
        |resolved AS (
        |  SELECT * FROM meta
        |  WHERE path = 'root/BUILDING' OR path LIKE 'root/BUILDING/%')
        |SELECT series_id, valid_time, value FROM (
        |  SELECT series_id, valid_time, value,
        |         row_number() OVER (PARTITION BY series_id, valid_time
        |                            ORDER BY knowledge_time DESC, change_time DESC, value DESC) AS rn
        |  FROM sv
        |  WHERE series_id IN (SELECT series_id FROM resolved)
        |    AND retention IN (SELECT DISTINCT retention FROM resolved))
        |WHERE rn = 1
        |ORDER BY series_id, valid_time""".stripMargin)),

    // ----- generic relational shapes (SURVEY §2.1 S1, §2.3-2.7) -----

    ("rel_like",
      // F5: LIKE prefix match (subtree scoping in the reference,
      // timedb/read.py:134-135).
      (s, dir) => Tables.part(s, dir)
        .filter(col("p_type").like("S%") && col("p_name").like("%wid%"))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_type LIKE 'S%' AND p_name LIKE '%wid%'
        |ORDER BY p_partkey""".stripMargin)),

    ("rel_collect",
      // A5: groupArray / groupUniqArray → collect_list / collect_set;
      // joined to a string so the comparison is array-order deterministic.
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    ("rel_scan_filter",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01") && col("l_shipdate") < lit("1996-01-01")
          && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    ("rel_agg",
      // Exact cross-engine sums as SCALED INTEGERS (round-to-cents
      // longs), not decimals: the values are 2dp currency/quantity, so
      // round(x*100) is the exact same integer on every IEEE engine,
      // long sums are order-invariant, and Spark's hash aggregate keeps
      // them in whole-stage codegen — where a decimal(18,2) sum drops
      // to interpreted Decimal updates (A/B at sf0.1: 0.196 s decimal
      // vs 0.147 s scaled-long, identical results). Same trick both
      // sides, so the anchor comparison stays formulation-fair.
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum(round(col("l_quantity") * 100).cast("long")).cast("double") / lit(100.0)).as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100).cast("long")).cast("double") / lit(100.0)).as("sum_price"),
          (sum(round(col("l_discount") * 100).cast("long")).cast("double") / lit(100.0) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
        |  CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    ("rel_join_agg",
      // revenue as a scaled-integer sum (the rel_agg rationale): the
      // per-row product is the same IEEE double on both engines, its
      // round(×10000) the same long, and the long sum keeps the probe→
      // agg pipeline in one codegen stage (A/B at sf0.1: 0.287 s
      // decimal vs 0.252 s scaled). orders stays UNHINTED so the
      // planner picks broadcast from stats here and a shuffle join at
      // cluster scale; customer (15k rows, two columns) is always
      // broadcast-safe. (r14 interleaved A/B rejected the pre-joined
      // star shape — lineitem ⋈ broadcast(orders ⋈ customer): the
      // planner has no stats for the dim JOIN RESULT, falls back to a
      // shuffle of the 600k-row fact side, and reads 0.42 s vs 0.27 s;
      // two cheap probes beat one stats-blind exchange.)
      (s, dir) => Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
          (sum(round((col("l_extendedprice") * (lit(1.0) - col("l_discount"))) * 10000).cast("long"))
            .cast("double") / lit(10000.0)).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("c_mktsegment", "o_orderstatus"),
      Some("""SELECT c_mktsegment, o_orderstatus,
        |  CAST(SUM(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderstatus
        |ORDER BY c_mktsegment, o_orderstatus""".stripMargin)),

    ("rel_semi",
      (s, dir) => Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir).filter(col("l_quantity") > 49),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin)),

    ("rel_anti",
      // orders where no line item got a deep (>8%) discount — non-empty
      // at every scale factor, unlike customers-without-orders.
      (s, dir) => Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir).filter(col("l_discount") > 0.08),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
        |ORDER BY o_orderkey""".stripMargin)),

    ("rel_window",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, dir)
          .withColumn("order_seq", row_number().over(w))
          .withColumn("running_spend",
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double"))
          .select("o_custkey", "o_orderkey", "o_orderdate", "order_seq", "running_spend")
          .orderBy("o_custkey", "order_seq")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
        |  row_number() OVER w AS order_seq,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, order_seq""".stripMargin)),

    ("rel_topk",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, dir)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rk")
      },
      Some("""SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin)),

    ("rel_distinct",
      (s, dir) => Tables.lineitem(s, dir)
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    ("rel_minmax",
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n"),
          min("value").as("min_v"),
          max("value").as("max_v"),
          min("ts").as("first_ts"),
          max("ts").as("last_ts"))
        .orderBy("user_id"),
      Some("""SELECT user_id, COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v,
        |  MIN(CAST(ts AS TIMESTAMP)) AS first_ts, MAX(CAST(ts AS TIMESTAMP)) AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    ("rel_percentile",
      // Exact (holistic) percentiles — the aggregate family where sort
      // order is the whole cost; interpolation formula matches DuckDB's
      // quantile_cont, rounded to absorb last-ulp differences.
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    ("rel_salted_agg",
      // Skew lever: event_type has 5 hot values; the salted two-phase
      // aggregate spreads each over 8 reducers. Decomposable aggregates ⇒
      // bit-identical to the plain GROUP BY, which IS the oracle.
      (s, dir) => Salting.saltedStats(
        Tables.events(s, dir), Seq("event_type"), "value", buckets = 8)
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    ("rel_salted_collect",
      // The holistic case where salting genuinely matters: exact distinct
      // values of a hot key collected via per-bucket partial sets.
      (s, dir) => Salting.saltedCollectSet(
        Tables.events(s, dir).select("event_type", "props"),
        Seq("event_type"), "props", buckets = 8)
        .select(col("event_type"),
          array_join(col("distinct_values"), "|").as("distinct_props"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
        |  array_to_string(list_sort(list(DISTINCT props)), '|') AS distinct_props
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ----- extension: dedup (SURVEY §2.12 X1/X2) -----

    ("x_dedup_exact",
      (s, dir) => Dedup.exact(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Some("""SELECT min(doc_id) AS doc_id, md5(text) AS digest, COUNT(*) AS copies
        |FROM documents GROUP BY md5(text)
        |ORDER BY doc_id""".stripMargin)),

    // Oracle position expansions: DuckDB's TABLE-function generate_series
    // rejects correlated bounds, so every per-token/char expansion goes
    // through the scalar form — `unnest(generate_series(1, len(t)))` in a
    // subquery — sized from the row itself. No static cap: the oracle can
    // never silently truncate long documents while the Spark side stays
    // uncapped (earlier rounds capped at 2000 positions, which held only
    // because testdata maxes at ~100 tokens per doc).
    ("x_dedup_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 2, threshold = 0.05,
        maxDf = 50)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks_all AS (
        |  SELECT DISTINCT doc_id,
        |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1),
        |toks AS (
        |  SELECT * FROM toks_all
        |  WHERE sh IN (SELECT sh FROM toks_all GROUP BY sh HAVING COUNT(*) <= 50)),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM toks a JOIN toks b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.05
        |ORDER BY id_a, id_b""".stripMargin)),

    ("x_dedup_minhash",
      (s, dir) => Dedup.minHashSignatures(Tables.documents(s, dir), n = 2, numHashes = 16)
        .orderBy("doc_id", "i"),
      Some {
        val perms = (0 until 16).map { i =>
          val (a, b) = Portable.minHashCoeffs(i)
          s"($i, $a, $b)"
        }.mkString(", ")
        s"""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1),
        |perms(i, a, b) AS (VALUES $perms)
        |SELECT doc_id, i, min((a * sh + b) % 2147483647) AS sig
        |FROM grams, perms
        |GROUP BY doc_id, i
        |ORDER BY doc_id, i""".stripMargin
      }),

    ("x_dedup_lsh",
      (s, dir) => Dedup.minHashLshCandidates(Tables.documents(s, dir),
        n = 2, numHashes = 16, bands = 8)
        .orderBy("id_a", "id_b"),
      Some {
        val perms = (0 until 16).map { i =>
          val (a, b) = Portable.minHashCoeffs(i)
          s"($i, $a, $b)"
        }.mkString(", ")
        s"""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1),
        |perms(i, a, b) AS (VALUES $perms),
        |sigs AS (
        |  SELECT doc_id, i, min((a * sh + b) % 2147483647) AS sig
        |  FROM grams, perms GROUP BY doc_id, i),
        |banded AS (
        |  SELECT doc_id, i // 2 AS band, string_agg(sig::VARCHAR, ',' ORDER BY i) AS band_key
        |  FROM sigs GROUP BY doc_id, i // 2),
        |-- mirror the Spark side's DefaultMaxBucket cap so the declared
        |-- equivalence holds BY CONSTRUCTION, not by data luck
        |ok AS (
        |  SELECT band, band_key FROM banded GROUP BY band, band_key
        |  HAVING COUNT(*) <= 1000)
        |SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |FROM banded l
        |JOIN ok ON ok.band = l.band AND ok.band_key = l.band_key
        |JOIN banded r
        |  ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
        |ORDER BY id_a, id_b""".stripMargin
      }),

    ("x_dedup_incremental_lsh",
      // Incremental NEAR-dup: which incoming docs (doc_id % 5 = 0, the
      // batch) LSH-collide with the already-ingested corpus (the other
      // 80%) — the fuzzy counterpart of x_dedup_incremental; the join
      // is band-keyed against the seen side's capped posting lists,
      // O(batch + collisions), never history x batch.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.incrementalNearDup(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          n = 2, numHashes = 16, bands = 8)
          .orderBy("new_id", "seen_id")
      },
      Some(incrementalLshOracleSql)),

    ("x_dedup_index_stored",
      // The SAME screening, but against the PERSISTED epoch index:
      // the seen side's posting lists are written to parquet once per
      // (session, dir) and every screen reads the stored table — the
      // build-once / screen-many contract an ingest loop actually
      // runs (one-shot incrementalNearDup re-pays the whole history's
      // signature cost per batch). The storage round-trip is
      // semantics-preserving, so the oracle is identical to
      // x_dedup_incremental_lsh — a hash-match here proves the stored
      // form loses nothing.
      (s, dir) => {
        val batch = Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(5)) === 0)
        Dedup.incrementalNearDupAgainst(batch, storedNearDupIndex(s, dir),
          n = 2, numHashes = 16, bands = 8)
          .orderBy("new_id", "seen_id")
      },
      Some(incrementalLshOracleSql)),

    ("x_dedup_lsh_verified",
      // Generate-then-verify: LSH banding proposes candidates, exact
      // Jaccard on ONLY those pairs drops the banding false-positives.
      (s, dir) => Dedup.minHashLshVerified(Tables.documents(s, dir),
        n = 2, numHashes = 16, bands = 8, threshold = 0.2)
        .orderBy("id_a", "id_b"),
      Some {
        val perms = (0 until 16).map { i =>
          val (a, b) = Portable.minHashCoeffs(i)
          s"($i, $a, $b)"
        }.mkString(", ")
        s"""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1),
        |perms(i, a, b) AS (VALUES $perms),
        |sigs AS (
        |  SELECT doc_id, i, min((a * sh + b) % 2147483647) AS sig
        |  FROM grams, perms GROUP BY doc_id, i),
        |banded AS (
        |  SELECT doc_id, i // 2 AS band, string_agg(sig::VARCHAR, ',' ORDER BY i) AS band_key
        |  FROM sigs GROUP BY doc_id, i // 2),
        |-- mirror the Spark side's DefaultMaxBucket cap so the declared
        |-- equivalence holds BY CONSTRUCTION, not by data luck
        |ok AS (
        |  SELECT band, band_key FROM banded GROUP BY band, band_key
        |  HAVING COUNT(*) <= 1000),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM banded l
        |  JOIN ok ON ok.band = l.band AND ok.band_key = l.band_key
        |  JOIN banded r
        |    ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
        |toks AS (SELECT DISTINCT doc_id, sh FROM grams),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        |inter AS (
        |  SELECT c.id_a, c.id_b, COUNT(*) AS inter
        |  FROM cand c
        |  JOIN toks a ON a.doc_id = c.id_a
        |  JOIN toks b ON b.doc_id = c.id_b AND b.sh = a.sh
        |  GROUP BY c.id_a, c.id_b)
        |SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin
      }),

    ("x_sql_neardup",
      // The whole generate-then-verify near-dup pipeline as ONE
      // spark.sql(...) statement — proof that the GraftExtensions SQL
      // surface carries the dedup family end-to-end (shingle_hashes →
      // minhash_from_grams → banding → capped buckets →
      // sorted_intersect_count verify), the differentiator a
      // Spark-native engine claims over a client library. Same
      // parameters as x_dedup_lsh_verified (n=2, 16 hashes, 8 bands,
      // threshold 0.2, maxBucket 1000), so the two paths must agree
      // row-for-row; reads the parquet directly (`FROM parquet.`…``) —
      // no DataFrame API anywhere in the data path.
      (s, dir) => {
        GraftExtensions.register(s)
        // r16 rework: candidate generation is the Column path's shape —
        // ONE (band, band_key) aggregate into sorted posting lists, pairs
        // exploded IN-ARRAY (ids sorted, i < j ⇒ id_a < id_b) — instead
        // of the r15 banded⋈ok⋈banded self-join. CTEs inline in Spark, so
        // the self-join re-derived the shingle+signature kernels per
        // branch: 5 documents scans (banded ×2, ok, sets ×2) drop to 3
        // (buckets, sets ×2 — the two verify joins are the same join-back
        // the Column path does against its checkpointed per-doc frame).
        // The WHERE also stops re-calling minhash_from_grams: the kernel
        // is null iff the gram array is empty, which `size(s) > 0` tests
        // without a second signature pass.
        s.sql(s"""
          |WITH perdoc AS (
          |  SELECT doc_id, s, minhash_from_grams(s, 16) AS sigs
          |  FROM (SELECT doc_id, shingle_hashes(text, 2, true) AS s
          |        FROM parquet.`$dir/documents.parquet`)
          |  WHERE s IS NOT NULL AND size(s) > 0),
          |buckets AS (
          |  SELECT sort_array(collect_list(doc_id)) AS ids
          |  FROM (SELECT doc_id,
          |               array_join(transform(slice(sigs, band * 2 + 1, 2),
          |                          x -> CAST(x AS STRING)), ',') AS band_key, band
          |        FROM perdoc LATERAL VIEW explode(sequence(0, 7)) t AS band)
          |  GROUP BY band, band_key
          |  HAVING COUNT(*) BETWEEN 2 AND 1000),
          |cand AS (
          |  SELECT DISTINCT p.id_a, p.id_b
          |  FROM buckets
          |  LATERAL VIEW explode(flatten(transform(sequence(0, size(ids) - 2),
          |    i -> transform(slice(ids, i + 2, size(ids)),
          |         j -> struct(ids[i] AS id_a, j AS id_b))))) t AS p),
          |sets AS (SELECT doc_id, s, CAST(size(s) AS BIGINT) AS sz FROM perdoc),
          |scored AS (
          |  SELECT id_a, id_b, sorted_intersect_count(a.s, b.s) AS inter,
          |         a.sz AS sz_a, b.sz AS sz_b
          |  FROM cand
          |  JOIN sets a ON a.doc_id = cand.id_a
          |  JOIN sets b ON b.doc_id = cand.id_b)
          |SELECT id_a, id_b, inter, sz_a, sz_b,
          |       round(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter), 6) AS jaccard
          |FROM scored
          |WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= 0.2
          |ORDER BY id_a, id_b""".stripMargin)
      },
      Some {
        val perms = (0 until 16).map { i =>
          val (a, b) = Portable.minHashCoeffs(i)
          s"($i, $a, $b)"
        }.mkString(", ")
        s"""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1),
        |perms(i, a, b) AS (VALUES $perms),
        |sigs AS (
        |  SELECT doc_id, i, min((a * sh + b) % 2147483647) AS sig
        |  FROM grams, perms GROUP BY doc_id, i),
        |banded AS (
        |  SELECT doc_id, i // 2 AS band, string_agg(sig::VARCHAR, ',' ORDER BY i) AS band_key
        |  FROM sigs GROUP BY doc_id, i // 2),
        |ok AS (
        |  SELECT band, band_key FROM banded GROUP BY band, band_key
        |  HAVING COUNT(*) <= 1000),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM banded l
        |  JOIN ok ON ok.band = l.band AND ok.band_key = l.band_key
        |  JOIN banded r
        |    ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
        |toks AS (SELECT DISTINCT doc_id, sh FROM grams),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        |inter AS (
        |  SELECT c.id_a, c.id_b, COUNT(*) AS inter
        |  FROM cand c
        |  JOIN toks a ON a.doc_id = c.id_a
        |  JOIN toks b ON b.doc_id = c.id_b AND b.sh = a.sh
        |  GROUP BY c.id_a, c.id_b)
        |SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin
      }),

    ("x_dedup_lsh_dropped",
      // Drop-accounting audit of the LSH banding: the (band, band_key)
      // buckets a given maxBucket cap would discard, with sizes —
      // maxBucket=1 turns it into the full collision census, so the cap
      // logic is exercised on real buckets at every scale factor.
      (s, dir) => Dedup.minHashLshDroppedBuckets(Tables.documents(s, dir),
        n = 2, numHashes = 16, bands = 8, maxBucket = 1)
        .orderBy("band", "band_key"),
      Some {
        val perms = (0 until 16).map { i =>
          val (a, b) = Portable.minHashCoeffs(i)
          s"($i, $a, $b)"
        }.mkString(", ")
        s"""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1),
        |perms(i, a, b) AS (VALUES $perms),
        |sigs AS (
        |  SELECT doc_id, i, min((a * sh + b) % 2147483647) AS sig
        |  FROM grams, perms GROUP BY doc_id, i),
        |banded AS (
        |  SELECT doc_id, i // 2 AS band, string_agg(sig::VARCHAR, ',' ORDER BY i) AS band_key
        |  FROM sigs GROUP BY doc_id, i // 2)
        |SELECT CAST(band AS INT) AS band, band_key, COUNT(*) AS bucket_size
        |FROM banded GROUP BY band, band_key HAVING COUNT(*) > 1
        |ORDER BY band, band_key""".stripMargin
      }),

    ("x_simhash_dropped",
      // Same audit for the SimHash pigeonhole banding: (band, key)
      // buckets above the cap — maxBucket=1 = the collision census.
      (s, dir) => Dedup.simHashDroppedBuckets(Tables.documents(s, dir),
        n = 2, maxBucket = 1)
        .orderBy("band", "key"),
      Some("""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1),
        |hashed AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5(CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM grams),
        |votes AS (
        |  SELECT doc_id, b.b,
        |         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hashed, generate_series(0, 47) b(b)
        |  GROUP BY doc_id, b.b),
        |sims AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id),
        |bandkeys AS (
        |  SELECT doc_id, b.band, (simhash >> (b.band * 12)) & 4095 AS key
        |  FROM sims, (VALUES (0), (1), (2), (3)) b(band))
        |SELECT CAST(band AS INT) AS band, key, COUNT(*) AS bucket_size
        |FROM bandkeys GROUP BY band, key HAVING COUNT(*) > 1
        |ORDER BY band, key""".stripMargin)),

    ("x_quality_gopher",
      // The canonical published pretraining quality gate (Gopher rules,
      // Rae et al. 2021 Table A1): per-doc signals, one boolean per
      // rule, and the keep conjunction — scan → project, no shuffle.
      (s, dir) => TextAnalysis.gopherRules(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Some("""WITH base AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(COALESCE(text, ''), '[ \t\n\r]'), x -> x <> '') AS w,
        |    string_split(COALESCE(text, ''), chr(10)) AS l,
        |    COALESCE(text, '') AS t
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    len(w) AS n_words,
        |    round(CASE WHEN len(w) = 0 THEN NULL ELSE
        |      CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) END, 6) AS mean_word_len,
        |    round(CASE WHEN len(w) = 0 THEN NULL ELSE
        |      CAST(length(t) - length(replace(t, '#', '')) AS DOUBLE) / len(w) END, 6) AS hash_word_ratio,
        |    round(CASE WHEN len(w) = 0 THEN NULL ELSE
        |      CAST((length(t) - length(replace(t, '...', ''))) / 3
        |           + (length(t) - length(replace(t, '…', ''))) AS DOUBLE) / len(w) END, 6) AS ellipsis_word_ratio,
        |    round(CASE WHEN len(l) = 0 THEN NULL ELSE
        |      CAST(len(list_filter(l, x -> starts_with(ltrim(x), '-')
        |        OR starts_with(ltrim(x), '*') OR starts_with(ltrim(x), '•'))) AS DOUBLE) / len(l) END, 6) AS bullet_line_ratio,
        |    round(CASE WHEN len(l) = 0 THEN NULL ELSE
        |      CAST(len(list_filter(l, x -> right(rtrim(x), 3) = '...'
        |        OR right(rtrim(x), 1) = '…')) AS DOUBLE) / len(l) END, 6) AS ellipsis_line_ratio,
        |    round(CASE WHEN len(w) = 0 THEN NULL ELSE
        |      CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(w) END, 6) AS alpha_word_ratio,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> len(list_filter(w, x -> lower(x) = s)) > 0)) AS BIGINT) AS stopwords_present,
        |    round(CASE WHEN len(l) = 0 THEN NULL ELSE
        |      CAST(len(l) - len(list_distinct(l)) AS DOUBLE) / len(l) END, 6) AS dup_line_frac,
        |    round(CASE WHEN list_sum(list_transform(l, x -> length(x))) = 0 THEN NULL ELSE
        |      CAST(list_sum(list_transform(l, x ->
        |        CASE WHEN len(list_filter(l, y -> y = x)) > 1 THEN length(x) ELSE 0 END)) AS DOUBLE)
        |      / list_sum(list_transform(l, x -> length(x))) END, 6) AS dup_line_char_frac
        |  FROM base),
        |ruled AS (
        |  SELECT *,
        |    (n_words >= 50 AND n_words <= 100000) AS r_word_count,
        |    (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_word_len,
        |    (hash_word_ratio <= 0.1) AS r_hash_ratio,
        |    (ellipsis_word_ratio <= 0.1) AS r_ellipsis_ratio,
        |    (bullet_line_ratio <= 0.9) AS r_bullet_lines,
        |    (ellipsis_line_ratio <= 0.3) AS r_ellipsis_lines,
        |    (alpha_word_ratio >= 0.8) AS r_alpha_words,
        |    (stopwords_present >= 2) AS r_stopwords,
        |    (dup_line_frac <= 0.3) AS r_dup_lines,
        |    (dup_line_char_frac <= 0.2) AS r_dup_line_chars
        |  FROM sig)
        |SELECT *,
        |  (COALESCE(r_word_count, FALSE) AND COALESCE(r_mean_word_len, FALSE)
        |   AND COALESCE(r_hash_ratio, FALSE) AND COALESCE(r_ellipsis_ratio, FALSE)
        |   AND COALESCE(r_bullet_lines, FALSE)
        |   AND COALESCE(r_ellipsis_lines, FALSE) AND COALESCE(r_alpha_words, FALSE)
        |   AND COALESCE(r_stopwords, FALSE) AND COALESCE(r_dup_lines, FALSE)
        |   AND COALESCE(r_dup_line_chars, FALSE)) AS gopher_keep
        |FROM ruled
        |ORDER BY doc_id""".stripMargin)),

    ("x_quality_gate",
      // Per-stratum quantile gate: keep the top 30% of each language by
      // document length (deterministic doc_id tie-break) — the curation
      // step between quality scoring and mixture weighting.
      (s, dir) => Curation.keepTopQuantile(
        Tables.documents(s, dir).select("doc_id", "lang", "n_chars"),
        stratumCol = "lang", scoreCol = "n_chars", tieCol = "doc_id", q = 0.3)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         PERCENT_RANK() OVER (PARTITION BY lang
        |                              ORDER BY n_chars DESC, doc_id) AS pr
        |  FROM documents)
        |WHERE pr <= 0.3
        |ORDER BY doc_id""".stripMargin)),

    ("x_quality_gate_approx",
      // Threshold-based (scale-path) stratum gate beside the exact one:
      // keepTopQuantileApprox cuts on a per-stratum percentile_approx
      // threshold instead of a per-stratum sort, so it survives strata
      // larger than an executor's sort budget. The score embeds the
      // doc_id tie-break into its low digits (a value cut cannot see a
      // tie column), so both gates act on the same total order and the
      // kept-count difference is pure sketch rank error. Declared
      // output: per-stratum exact kept count plus a boolean asserting
      // the approx count landed inside a 5× rank-error corridor —
      // deterministic on fixed data, so the oracle hash-matches literal
      // TRUEs and a violated bound FAILS the driver check (the
      // x_approx_quantiles trick).
      // r18 (optimization round): fused audit — ONE vocab aggregate
      // carries totals + thresholds, ONE post-window aggregate carries
      // both gate counts (2 documents scans + 2 corpus exchanges vs
      // the three-leg original's 3 + 3; job budget 4 → 2). Promoted by
      // interleaved A/B min 0.187 vs 0.340 / med 0.207 vs 0.362;
      // value-equality vs the split reference is spec-pinned and was
      // collect-compared at sf0.001/sf0.01.
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          (col("n_chars").cast("long") * lit(1000000L)
            + pmod(col("doc_id"), lit(1000000L))).as("score"))
        Curation.quantileGateAudit(docs, "lang", "score", "doc_id",
          q = 0.3, accuracy = 1000)
          .orderBy("lang")
      },
      Some("""WITH scored AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) * 1000000 + doc_id % 1000000 AS score
        |  FROM documents),
        |ranked AS (
        |  SELECT lang, PERCENT_RANK() OVER (PARTITION BY lang ORDER BY score DESC) AS pr
        |  FROM scored)
        |SELECT lang, COUNT(*) AS n_rows,
        |       CAST(SUM(CASE WHEN pr <= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |       TRUE AS within_bound
        |FROM ranked GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    ("x_dedup_contamination",
      // Benchmark decontamination: score every training doc by its
      // bigram overlap with a held-out "benchmark" slice (doc_id % 20).
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.contaminationScores(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0), n = 2)
          .orderBy("doc_id")
      },
      Some("""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1),
        |toks AS (SELECT DISTINCT doc_id, sh FROM grams),
        |bench AS (SELECT DISTINCT sh FROM toks WHERE doc_id % 20 = 0),
        |train AS (SELECT * FROM toks WHERE doc_id % 20 <> 0),
        |scored AS (
        |  SELECT t.doc_id, COUNT(*) AS n_shingles, COUNT(b.sh) AS contaminated
        |  FROM train t LEFT JOIN bench b ON b.sh = t.sh
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id AS doc_id,
        |       COALESCE(s.n_shingles, 0) AS n_shingles,
        |       COALESCE(s.contaminated, 0) AS contaminated,
        |       round(COALESCE(CAST(s.contaminated AS DOUBLE) / s.n_shingles, 0.0), 6) AS contamination
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN scored s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    ("x_text_repetition",
      // Within-doc repetition (Gopher-style quality signal):
      // 1 − distinct bigrams / total bigrams.
      (s, dir) => Dedup.repetitionScores(Tables.documents(s, dir), n = 2)
        .orderBy("doc_id"),
      Some("""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1)
        |SELECT doc_id, COUNT(*) AS total_ngrams,
        |       COUNT(DISTINCT sh) AS distinct_ngrams,
        |       round(1.0 - CAST(COUNT(DISTINCT sh) AS DOUBLE) / COUNT(*), 6) AS repetition
        |FROM grams GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    ("x_simhash",
      (s, dir) => Dedup.simHash(Tables.documents(s, dir), n = 2)
        .orderBy("doc_id"),
      Some("""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1),
        |hashed AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5(CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM grams),
        |votes AS (
        |  SELECT doc_id, b.b,
        |         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hashed, generate_series(0, 47) b(b)
        |  GROUP BY doc_id, b.b)
        |SELECT doc_id,
        |       CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    // ----- extension: similarity search (SURVEY §2.12 X3) -----

    ("x_ann_brute",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |         round(list_inner_product(q.e, c.e) / NULLIF(sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 8) q,
        |       (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) c
        |  WHERE q.vec_id <> c.vec_id)
        |SELECT query_id, cand_id, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY score DESC, cand_id) AS rank
        |  FROM pairs)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    ("x_ann_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH pairs AS (
        |  SELECT q.label AS cell, q.vec_id AS query_id, c.vec_id AS cand_id,
        |         round(list_inner_product(q.e, c.e) / NULLIF(sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 8) q
        |  JOIN (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) c
        |    ON q.label = c.label AND q.vec_id <> c.vec_id)
        |SELECT cell, query_id, cand_id, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY score DESC, cand_id) AS rank
        |  FROM pairs)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    ("x_ann_neardup",
      (s, dir) => Dedup.embeddingNearDup(Tables.embeddings(s, dir), threshold = 0.35)
        .orderBy("id_a", "id_b"),
      Some("""SELECT a.label AS blk, a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |    / NULLIF(sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |       * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0), 6) AS cos
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |    / NULLIF(sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |       * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin)),

    ("x_lsh_buckets",
      (s, dir) => Similarity.lshBuckets(Tables.embeddings(s, dir), numPlanes = 12, dim = 64)
        .orderBy("vec_id"),
      // Hyperplane weights are md5-parity-derived, so the oracle can
      // recompute the same ±1 matrix from md5('p:d').
      Some("""WITH w AS (
        |  SELECT p.p, d.d,
        |         CASE WHEN (CAST(concat('0x', left(md5(concat(CAST(p.p AS VARCHAR), ':', CAST(d.d - 1 AS VARCHAR))), 1)) AS INT) & 1) = 1
        |              THEN 1.0 ELSE -1.0 END AS wt
        |  FROM generate_series(0, 11) p(p), generate_series(1, 64) d(d)),
        |dots AS (
        |  SELECT e.vec_id, w.p, SUM(CAST(e.embedding[w.d] AS DOUBLE) * w.wt) AS dot
        |  FROM embeddings e, w
        |  GROUP BY e.vec_id, w.p)
        |SELECT vec_id,
        |       CAST(SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
        |FROM dots GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin)),

    ("x_embed_centroids",
      // IVF training step: per-cell mean vectors, dimension-wise.
      (s, dir) => Similarity.cellCentroids(Tables.embeddings(s, dir))
        .orderBy("cell", "dim"),
      Some("""SELECT label AS cell, d.d - 1 AS dim,
        |  round(CAST(SUM(CAST(CAST(embedding[d.d] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
        |    / COUNT(*), 6) AS mean_v,
        |  COUNT(*) AS n_vectors
        |FROM embeddings, generate_series(1, 64) d(d)
        |GROUP BY label, d.d
        |ORDER BY cell, dim""".stripMargin)),

    ("x_embed_kmeans",
      // Unsupervised centroid TRAINING: 2 Lloyd iterations from the
      // deterministic lowest-id seeds. Per-iteration 6dp centroid
      // rounding + 4dp assignment scores make the whole chain
      // bit-identical across engines, so the oracle replays both
      // iterations in SQL.
      (s, dir) => Similarity.kmeansTrain(Tables.embeddings(s, dir), k = 4, iters = 2)
        .orderBy("cell", "dim"),
      Some("""WITH seeds AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, embedding
        |  FROM embeddings ORDER BY vec_id LIMIT 4),
        |c0 AS (
        |  SELECT cell, d.i - 1 AS dim, round(CAST(embedding[d.i] AS DOUBLE), 6) AS mean_v
        |  FROM seeds, generate_series(1, 64) d(i)),
        |c0v AS (
        |  SELECT cell, CAST(CAST(list(mean_v ORDER BY dim) AS FLOAT[]) AS DOUBLE[]) AS centroid
        |  FROM c0 GROUP BY cell),
        |s1 AS (
        |  SELECT e.vec_id, c.cell,
        |    round(list_inner_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
        |      / NULLIF(sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |         * sqrt(list_inner_product(c.centroid, c.centroid)), 0), 4) + 0.0 AS cscore
        |  FROM embeddings e, c0v c),
        |a1 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC NULLS LAST, cell) AS rn FROM s1)
        |  WHERE rn = 1),
        |c1 AS (
        |  SELECT a1.cell, d.i - 1 AS dim,
        |    round(CAST(SUM(CAST(CAST(e.embedding[d.i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
        |      / COUNT(*), 6) AS mean_v
        |  FROM embeddings e JOIN a1 USING (vec_id), generate_series(1, 64) d(i)
        |  GROUP BY a1.cell, d.i),
        |c1v AS (
        |  SELECT cell, CAST(CAST(list(mean_v ORDER BY dim) AS FLOAT[]) AS DOUBLE[]) AS centroid
        |  FROM c1 GROUP BY cell),
        |s2 AS (
        |  SELECT e.vec_id, c.cell,
        |    round(list_inner_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
        |      / NULLIF(sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |         * sqrt(list_inner_product(c.centroid, c.centroid)), 0), 4) + 0.0 AS cscore
        |  FROM embeddings e, c1v c),
        |a2 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC NULLS LAST, cell) AS rn FROM s2)
        |  WHERE rn = 1)
        |SELECT a2.cell, d.i - 1 AS dim,
        |  round(CAST(SUM(CAST(CAST(e.embedding[d.i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
        |    / COUNT(*), 6) AS mean_v,
        |  COUNT(*) AS n_vectors
        |FROM embeddings e JOIN a2 USING (vec_id), generate_series(1, 64) d(i)
        |GROUP BY a2.cell, d.i
        |ORDER BY cell, dim""".stripMargin)),

    ("x_embed_pq",
      // Product-quantization codebook TRAINING: 2 subspaces × 4 codes,
      // 2 Lloyd iterations from deterministic lowest-id seed slices.
      // The same bit-identical-chain discipline as x_embed_kmeans
      // (6dp centroids, 4dp assignment scores), so the oracle replays
      // the full per-subspace training in SQL. Fresh training end to
      // end — the memoized book is for the search/recall consumers.
      (s, dir) => Similarity.pqTrain(Tables.embeddings(s, dir),
        m = 2, k = 4, iters = 2, dim = 64)
        .orderBy("subspace", "cell", "dim"),
      Some(s"""WITH ${pqTrainOracleCtes(m = 2, k = 4, iters = 2, dim = 64)}
        |SELECT subspace, cell, dim, mean_v, n_vectors FROM pq
        |ORDER BY subspace, cell, dim""".stripMargin)),

    ("x_ann_pq",
      // ADC top-k over PQ codes: corpus rows are scored as m LUT
      // lookups + an exact DECIMAL sum — no per-pair float math; the
      // LUT (queries × codebook entries, 6dp partial inner products)
      // broadcasts and the corpus streams as (id, m codes). Consumes
      // the memoized trained book (build-once contract, like the IVF
      // probe queries); the oracle replays training + encoding + the
      // LUT join end-to-end.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.pqAdcTopK(emb, emb.filter(col("vec_id") < 8),
          pqTrained(s, dir), k = 5, m = 2, dim = 64)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${pqTrainOracleCtes(m = 2, k = 4, iters = 2, dim = 64)},
        |${pqAdcOracleCtes(m = 2, dim = 64)}
        |SELECT query_id, cand_id, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, cand_id) AS rank
        |  FROM scored)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    ("x_ann_pq_recall",
      // Index evaluation: recall@5 of the ADC search against the
      // brute-force float ground truth — what decides m/k before a
      // corpus commits to codes. m=2×4 codes compresses 64 floats to
      // 2 bytes, so recall is expected well under 1.0; the point is
      // the measurement loop, bit-identical across engines.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 8)
        val approx = Similarity.pqAdcTopK(emb, queries,
          pqTrained(s, dir), k = 5, m = 2, dim = 64)
        val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
        Similarity.recallAtK(approx, exact).orderBy("query_id")
      },
      Some(s"""WITH ${pqTrainOracleCtes(m = 2, k = 4, iters = 2, dim = 64)},
        |${pqAdcOracleCtes(m = 2, dim = 64)},
        |approx AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, cand_id) AS rank
        |    FROM scored)
        |  WHERE rank <= 5),
        |bpairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |         round(list_inner_product(q.e, c.e)
        |           / NULLIF(sqrt(list_inner_product(q.e, q.e))
        |              * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings WHERE vec_id < 8) q,
        |       (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) c
        |  WHERE q.vec_id <> c.vec_id),
        |exact AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, cand_id) AS rank
        |    FROM bpairs)
        |  WHERE rank <= 5)
        |SELECT e.query_id AS query_id, COUNT(*) AS truth_k, COUNT(a.cand_id) AS hits,
        |       round(CAST(COUNT(a.cand_id) AS DOUBLE) / COUNT(*), 4) AS recall
        |FROM exact e LEFT JOIN approx a
        |  ON a.query_id = e.query_id AND a.cand_id = e.cand_id
        |GROUP BY e.query_id
        |ORDER BY e.query_id""".stripMargin)),

    ("x_ann_pq_rerank",
      // Two-stage retrieval: ADC codes score the whole corpus, the top
      // 20 per query re-rank through full-precision cosine, top 5 win
      // — the production shape that buys back the recall the 2-byte
      // codes gave up while touching only 20 float vectors per query.
      // The oracle replays training, encoding, the ADC shortlist, and
      // the exact re-rank end-to-end.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.pqRerankTopK(emb, emb.filter(col("vec_id") < 8),
          pqTrained(s, dir), k = 5, shortlistK = 20, m = 2, dim = 64)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${pqTrainOracleCtes(m = 2, k = 4, iters = 2, dim = 64)},
        |${pqAdcOracleCtes(m = 2, dim = 64)},
        |short AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, cand_id) AS srank
        |    FROM scored)
        |  WHERE srank <= 20),
        |rer AS (
        |  SELECT s.query_id, s.cand_id,
        |    round(list_inner_product(q.e, c.e)
        |      / NULLIF(sqrt(list_inner_product(q.e, q.e))
        |         * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |  FROM short s
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) q
        |    ON q.vec_id = s.query_id
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) c
        |    ON c.vec_id = s.cand_id)
        |SELECT query_id, cand_id, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, cand_id) AS rank
        |  FROM rer)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    ("x_ann_ivfpq",
      // IVF+PQ — the production ANN composition: the coarse quantizer
      // prunes each query to its 2 nearest cells' vectors (the
      // x_ann_ivf_probe step) and the survivors score through the
      // fused ADC kernel over m codes — candidates shrink by the cell
      // count AND carry bytes instead of floats. Consumes both built
      // artifacts (IVF index + trained PQ book); the oracle replays
      // coarse assignment, probing, PQ training, encoding, and the
      // cell-restricted LUT scoring end-to-end.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (cent, corpus) = builtIvfIndex(s, dir)
        Similarity.ivfPqTopK(corpus, emb.filter(col("vec_id") < 8), cent,
          pqTrained(s, dir), k = 5, nprobe = 2, m = 2, dim = 64, cellCol = "cell")
          .orderBy("query_id", "rank")
      },
      Some(ivfPqProbeOracleSql)),

    ("x_ann_ivfpq_stored",
      // IVF+PQ served from the ENCODED-AT-REST store: the code table
      // (cell, vec_id, m codes) is what a 100 TB vector index actually
      // persists — ~2 orders of magnitude smaller than the float
      // corpus — written partitionBy(cell) so the fused probe+LUT
      // frame's cells push as a STATIC partition filter: serve IO is
      // O(probed cells) of CODE bytes; the float table is never read
      // (queries aside). Same oracle as x_ann_ivfpq because the
      // storage form must not change the answer (codes are ints,
      // lossless through parquet).
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (cent, codes, pq) = storedIvfPqIndex(s, dir)
        Similarity.ivfPqTopKFromCodes(codes, emb.filter(col("vec_id") < 8),
          cent, pq, k = 5, nprobe = 2, m = 2, dim = 64)
          .orderBy("query_id", "rank")
      },
      Some(ivfPqProbeOracleSql)),

    ("x_sample_stratified",
      // Deterministic per-language sampling: membership is a pure hash
      // function of doc_id — reproducible across runs/engines/retries.
      (s, dir) => Sampling.stratified(Tables.documents(s, dir),
        idCol = "doc_id", stratumCol = "lang",
        rates = Map("en" -> 10, "de" -> 50, "zh" -> 50), default = 25)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
        |      < (CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 50 WHEN 'zh' THEN 50 ELSE 25 END)
        |ORDER BY doc_id""".stripMargin)),

    ("x_sample_pergroup",
      // Exact-k deterministic per-group sample: every source yields
      // exactly min(k, group size) docs, ranked by the portable id hash
      // — the eval-set construction primitive (rate-based sampling only
      // hits the target in expectation).
      (s, dir) => Sampling.samplePerGroup(Tables.documents(s, dir),
        idCol = "doc_id", groupCol = "source", k = 15)
        .select("doc_id", "source", "sample_rank")
        .orderBy("source", "sample_rank"),
      Some("""SELECT doc_id, source, sample_rank FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |                    doc_id) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 15
        |ORDER BY source, sample_rank""".stripMargin)),

    ("x_sample_weighted",
      // Weighted sampling without replacement (Efraimidis–Spirakis):
      // exactly 10 docs per source, win probability proportional to
      // n_chars — the length/quality-weighted eval-set primitive. The
      // priority u^(1/w) is a pure function of the portable id hash,
      // so the winner set is reproducible across runs and engines.
      (s, dir) => Sampling.sampleWeightedPerGroup(Tables.documents(s, dir),
        idCol = "doc_id", weightCol = "n_chars", groupCol = "source", k = 10)
        .select("doc_id", "source", "priority", "sample_rank")
        .orderBy("source", "sample_rank"),
      Some("""SELECT doc_id, source, priority, sample_rank FROM (
        |  SELECT doc_id, source, priority,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY priority DESC, doc_id) AS sample_rank
        |  FROM (
        |    SELECT doc_id, source,
        |      round(pow(
        |        (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |           % 1000000 + 0.5) / 1000000.0,
        |        1.0 / CAST(n_chars AS DOUBLE)), 8) AS priority
        |    FROM documents WHERE CAST(n_chars AS DOUBLE) > 0))
        |WHERE sample_rank <= 10
        |ORDER BY source, sample_rank""".stripMargin)),

    ("x_shard_assign",
      // Deterministic global shuffle: every doc lands in one of 8
      // training shards by id hash, with a dense within-shard position
      // from an independently-salted hash — the epoch-order step before
      // distributed training, reproducible across engines and retries.
      (s, dir) => Sampling.shardAssign(Tables.documents(s, dir),
        idCol = "doc_id", numShards = 8)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos"),
      Some("""SELECT doc_id, shard, pos FROM (
        |  SELECT doc_id,
        |    CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT) AS shard,
        |    row_number() OVER (
        |      PARTITION BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8
        |      ORDER BY CAST(concat('0x', substr(md5(concat('pos:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT),
        |               doc_id) AS pos
        |  FROM documents)
        |ORDER BY shard, pos""".stripMargin)),

    ("x_skew_profile",
      // Key-distribution diagnosis before a shuffle: is user_id skewed,
      // how hard (heaviest key's share of the rows), and the minimum
      // salt fan-out that levels it. One exchange (the same shuffle the
      // diagnosed join/agg would pay) + O(keys) aggregates; the top-5
      // heavy-hitter mass rides a TakeOrdered, never a full sort.
      (s, dir) => Skew.keyProfile(
        Tables.events(s, dir).select("user_id", "event_id"),
        keyCol = "user_id", k = 5),
      Some("""WITH c AS (
        |  SELECT user_id AS k, COUNT(*) AS cnt FROM events GROUP BY 1),
        |g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
        |        MAX(cnt) AS max_cnt FROM c),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS topk_cnt
        |      FROM (SELECT cnt FROM c ORDER BY cnt DESC, k ASC LIMIT 5))
        |SELECT n_rows, n_keys, max_cnt,
        |  round(CAST(max_cnt AS DOUBLE) / n_rows, 6) AS max_share,
        |  topk_cnt,
        |  CAST(ceil(max_cnt * n_keys * 1.0 / n_rows) AS BIGINT) AS salt_factor
        |FROM g, t""".stripMargin)),

    ("x_corpus_report",
      // Dataset card: doc counts, char/token mass, and mean length per
      // (lang), (source), (lang, source), and overall in ONE cube pass
      // — the corpus-composition summary every training-data release
      // ships. grouping() flags disambiguate rolled-up nulls.
      (s, dir) => Tables.documents(s, dir)
        .withColumn("n_tokens",
          size(filter(split(col("text"), " "), t => t =!= "")).cast("long"))
        .cube(col("lang"), col("source"))
        .agg(
          grouping(col("lang")).cast("int").as("g_lang"),
          grouping(col("source")).cast("int").as("g_source"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_tokens")).as("total_tokens"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy(col("g_lang"), col("g_source"),
          col("lang").asc_nulls_first, col("source").asc_nulls_first),
      Some("""WITH t AS (
        |  SELECT lang, source, n_chars,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        |  FROM documents)
        |SELECT lang, source,
        |  CAST(GROUPING(lang) AS INT) AS g_lang,
        |  CAST(GROUPING(source) AS INT) AS g_source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  round(AVG(n_chars), 4) AS avg_chars
        |FROM t
        |GROUP BY CUBE (lang, source)
        |ORDER BY g_lang, g_source, lang NULLS FIRST, source NULLS FIRST""".stripMargin)),

    ("x_split_decontam",
      // Leak-free train/eval split: deterministic 20% eval by id hash,
      // then every train doc sharing a distinct word trigram with any
      // eval doc is flagged and dropped from the kept set.
      (s, dir) => Sampling.splitDecontaminated(Tables.documents(s, dir),
        evalPct = 20, n = 3, maxOverlap = 0L)
        .orderBy("doc_id"),
      Some("""WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 20
        |         THEN 'eval' ELSE 'train' END AS split
        |  FROM documents),
        |ft AS (
        |  SELECT doc_id, split, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM base),
        |grams AS (
        |  SELECT DISTINCT doc_id, split,
        |    ((CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |      + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647
        |     * 1000003
        |     + CAST(concat('0x', substr(md5(t[g.i + 2]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 2),
        |evalset AS (SELECT DISTINCT sh FROM grams WHERE split = 'eval'),
        |hits AS (
        |  SELECT g.doc_id, COUNT(*) AS leaked
        |  FROM grams g JOIN evalset e USING (sh)
        |  WHERE g.split = 'train' GROUP BY 1)
        |SELECT b.doc_id, b.split,
        |  CAST(CASE WHEN b.split = 'train' THEN COALESCE(h.leaked, 0) ELSE 0 END AS BIGINT)
        |    AS leaked_shingles,
        |  (b.split = 'eval' OR COALESCE(h.leaked, 0) <= 0) AS kept
        |FROM base b LEFT JOIN hits h ON b.doc_id = h.doc_id
        |ORDER BY b.doc_id""".stripMargin)),

    ("x_pipeline_curate",
      // Composed curation pipeline: exact-dedup winners → quality gate →
      // greedy token-budget cut by quality. The running total over the
      // global priority order is Curation's distributed prefix sum — a
      // quantile-bucketed window, never a single-partition one.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // keep-min-doc_id-per-digest as ONE digest-keyed window — same
        // winner set as Dedup.exact + semi-join, two shuffles and a
        // join cheaper (the digest window is the only exchange before
        // the prefix sum). Profile columns are projected BEFORE the
        // window and the text column dropped, so the exchange carries
        // (id, digest, quality, tokens) — not document bodies: at
        // 100 TB the winner shuffle moves ~50× less than rows that
        // still hold text. Winner choice (min doc_id per digest) is
        // independent of the profile values, so the reorder is exact.
        // min-doc_id-per-digest as THREE scalar mins: duplicate rows
        // share the text byte-for-byte, so quality/approx_bpe_tokens
        // are constant across a digest group and min() of each equals
        // the winner row's value — and scalar mins keep the aggregate
        // a HashAggregate with map-side partial combine (the earlier
        // min(struct(...)) formulation silently planned as
        // SortAggregate — struct ordering isn't hash-aggregable — and
        // paid three per-partition sorts). The quality gate moves
        // BEFORE the exchange: duplicates share text, so gating first
        // drops the same winners while shrinking the shuffle.
        // unhex: 16-byte BINARY digest keys through the winner
        // exchange, not 32-char hex strings — same grouping (the hex
        // form is a bijection of the bytes), ~25% off the composed
        // wall (r15 interleaved A/B: 0.255 vs 0.344 min-of-9). The
        // digest never surfaces, so the oracle is untouched.
        val cand = TextAnalysis.withProfile(
            docs.withColumn("__digest", unhex(md5(col("text").cast("binary")))))
          .filter(col("quality") >= 0.5)
          .groupBy("__digest")
          .agg(min(col("doc_id")).as("doc_id"), min(col("quality")).as("quality"),
            min(col("approx_bpe_tokens")).as("approx_bpe_tokens"))
          .select("doc_id", "quality", "approx_bpe_tokens")
          // partition sizing, not semantics: the gated winner frame at
          // this SF is ~5k rows / 4 columns, so the prefix-sum stages
          // should not spawn 8 map tasks over crumbs (r15 interleaved
          // A/B: 0.264 vs 0.301 min-of-9). A 100 TB caller keeps the
          // natural partitioning — its winner frame is corpus-sized —
          // or lets AQE coalesce post-shuffle partitions; the bench
          // session runs AQE off, so the query sizes its own frame.
          .coalesce(1)
        // quality is a known [0,1] score — fixed thresholds skip the
        // quantile-estimation scan. materialize=Some(true), re-decided
        // in r14: the r5-era claim that ReuseExchange shares the digest
        // exchange across the prefix-sum branches no longer holds —
        // column pruning drops doc_id from the offsets branch, the two
        // digest exchanges stop canonicalizing equal, and the plan
        // SCANS+PROFILES+DIGESTS the corpus twice (PLANS.md showed two
        // Scan parquet nodes). One checkpoint job of the 4-column
        // winner frame beats the second evaluation of the kernel chain
        // (same-session A/B at sf0.1: 0.347 vs 0.425 s); at 100 TB
        // callers pass a persisted input anyway.
        Curation.runningTotalByPriority(cand, "quality", "doc_id",
            "approx_bpe_tokens", "running_tokens",
            fixedThresholds = (1 to 19).map(_ * 0.05).toArray,
            materialize = Some(true))
          .filter(col("running_tokens") <= 20000)
          .select("doc_id", "quality", "approx_bpe_tokens", "running_tokens")
          .orderBy(col("quality").desc, col("doc_id"))
      },
      Some("""WITH base AS (
        |  SELECT doc_id, text,
        |    length(text) AS n_chars,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS n_stop,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
        |  FROM documents),
        |quality AS (
        |  SELECT doc_id,
        |    CASE WHEN n_tokens = 0 OR n_chars = 0 THEN 0.0 ELSE round(
        |      least(1.0, CAST(n_tokens AS DOUBLE) / 64)
        |        * (1.0 - CAST(n_digits AS DOUBLE) / n_chars)
        |        * (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.05
        |                  AND CAST(n_stop AS DOUBLE) / n_tokens < 0.6
        |                THEN 1.0 ELSE 0.5 END), 4) END AS quality,
        |    CAST(floor(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS approx_bpe_tokens
        |  FROM base),
        |winners AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |cand AS (
        |  SELECT q.* FROM quality q
        |  WHERE q.quality >= 0.5 AND q.doc_id IN (SELECT doc_id FROM winners)),
        |sel AS (
        |  SELECT *, CAST(SUM(approx_bpe_tokens) OVER (
        |    ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_tokens
        |  FROM cand)
        |SELECT doc_id, quality, approx_bpe_tokens, running_tokens
        |FROM sel WHERE running_tokens <= 20000
        |ORDER BY quality DESC, doc_id""".stripMargin)),

    // ----- extension: text analysis (SURVEY §2.12 X4) -----

    ("x_text_lang",
      (s, dir) => TextAnalysis.langId(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Some(s"""WITH $langIdOracleCtes
        |SELECT doc_id, lang AS pred_lang, score FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin)),

    ("x_text_lang_eval",
      // Classifier eval against the labeled corpus: the confusion
      // matrix of the marker-heuristic language ID vs the documents
      // table's own lang labels — the accuracy audit that decides
      // whether a cheap heuristic is good enough before a corpus
      // commits to per-language routing.
      (s, dir) => {
        val pred = TextAnalysis.langId(Tables.documents(s, dir))
          .select(col("doc_id"), col("pred_lang"))
        Tables.documents(s, dir).select(col("doc_id"), col("lang"))
          .join(pred, "doc_id")
          .groupBy("lang", "pred_lang")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred_lang")
      },
      Some(s"""WITH $langIdOracleCtes
        |SELECT d.lang AS lang, r.lang AS pred_lang, COUNT(*) AS n
        |FROM ranked r JOIN documents d USING (doc_id)
        |WHERE r.rn = 1
        |GROUP BY d.lang, r.lang
        |ORDER BY lang, pred_lang""".stripMargin)),

    ("x_text_quality",
      (s, dir) => TextAnalysis.quality(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Some("""WITH base AS (
        |  SELECT doc_id, text,
        |    length(text) AS n_chars,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS n_stop,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
        |  FROM documents)
        |SELECT doc_id, n_chars, n_tokens,
        |  round(CAST(n_chars - (n_tokens - 1) AS DOUBLE) / NULLIF(n_tokens, 0), 4) AS avg_token_len,
        |  round(CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0), 4) AS stopword_ratio,
        |  round(CAST(n_digits AS DOUBLE) / NULLIF(n_chars, 0), 4) AS digit_ratio,
        |  CASE WHEN n_tokens = 0 OR n_chars = 0 THEN 0.0 ELSE round(
        |    least(1.0, CAST(n_tokens AS DOUBLE) / 64)
        |      * (1.0 - CAST(n_digits AS DOUBLE) / n_chars)
        |      * (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.05
        |                AND CAST(n_stop AS DOUBLE) / n_tokens < 0.6
        |              THEN 1.0 ELSE 0.5 END), 4) END AS quality
        |FROM base
        |ORDER BY doc_id""".stripMargin)),

    ("x_text_tokens",
      (s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
        |  len(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'), x -> x <> '')) AS word_tokens,
        |  CAST(floor(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS approx_bpe_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    ("x_text_terms",
      (s, dir) => TextAnalysis.termFrequencies(Tables.documents(s, dir))
        .orderBy(col("freq").desc, col("token")).limit(100),
      Some("""SELECT tok AS token, COUNT(*) AS freq
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |WHERE tok <> ''
        |GROUP BY tok
        |ORDER BY freq DESC, token
        |LIMIT 100""".stripMargin)),

    ("x_embed_quantize",
      // Per-vector int8 quantization of the embedding store: scale +
      // int8 array + reconstruction bound, hash-matched element-wise
      // against DuckDB computing the identical floor-based round. The
      // 4x storage cut is the point; the oracle proves both engines
      // agree on every quantized byte. The operator keeps its array
      // output; the declared COMPARISON projection stringifies it
      // (the rel_collect convention) so the driver comparator can
      // sort/hash the column.
      (s, dir) => Similarity.quantizeInt8(Tables.embeddings(s, dir))
        .withColumn("qvec", array_join(col("qvec").cast("array<string>"), ","))
        .orderBy("vec_id"),
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |         round(list_max(list_transform(v, x -> abs(x))) / 127.0, 6) AS scale
        |  FROM e)
        |SELECT vec_id, scale,
        |  array_to_string(
        |    CASE WHEN scale = 0
        |         THEN list_transform(v, x -> CAST(CAST(0 AS TINYINT) AS VARCHAR))
        |         ELSE list_transform(v, x -> CAST(CAST(
        |                greatest(-127, least(127, floor(x / scale + 0.5))) AS TINYINT) AS VARCHAR)) END,
        |    ',') AS qvec,
        |  CASE WHEN scale = 0 THEN 0.0
        |       ELSE round(list_max(list_transform(v, x -> abs(
        |              x - greatest(-127, least(127, floor(x / scale + 0.5))) * scale))), 6) END
        |    AS max_err
        |FROM s
        |ORDER BY vec_id""".stripMargin)),

    ("x_ann_quantized",
      // Search over the quantized store: cosine top-5 where scoring is
      // pure integer dot products (scales cancel under symmetric
      // quantization). DuckDB recomputes the identical int pipeline, so
      // every score and rank hash-matches — quantized search is exact
      // BY CONSTRUCTION given the same quantized bytes.
      (s, dir) => {
        val quant = Similarity.quantizeInt8(Tables.embeddings(s, dir))
        Similarity.quantizedTopK(quant, quant.filter(col("vec_id") < 8), k = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |         round(list_max(list_transform(v, x -> abs(x))) / 127.0, 6) AS scale
        |  FROM e),
        |q AS (
        |  SELECT vec_id,
        |         CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |              ELSE list_transform(v, x -> CAST(
        |                greatest(-127, least(127, floor(x / scale + 0.5))) AS BIGINT)) END
        |           AS qv
        |  FROM s),
        |n AS (
        |  SELECT vec_id, qv,
        |         list_sum(list_transform(qv, x -> x * x)) AS nn
        |  FROM q),
        |pairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
        |         round(CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
        |                 i -> a.qv[i] * b.qv[i])) AS DOUBLE)
        |               / NULLIF(sqrt(CAST(a.nn * b.nn AS DOUBLE)), 0), 4) AS score
        |  FROM n a, n b
        |  WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY score DESC, cand_id) AS rank
        |  FROM pairs WHERE score IS NOT NULL)
        |SELECT query_id, cand_id, score, rank FROM ranked
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    ("x_text_encode",
      // Vocabulary encoding: top-50 token vocab (freq DESC, token ASC
      // ties), every doc as its id sequence, OOV → 0 — the corpus→ids
      // handoff a pretraining pipeline feeds the tokenizer shard step.
      // Comparison projection joins the id sequence to a string (the
      // rel_collect convention) — the operator itself returns arrays.
      (s, dir) => TextAnalysis.encodeWithVocab(Tables.documents(s, dir), vocabSize = 50)
        .withColumn("token_ids",
          array_join(col("token_ids").cast("array<string>"), ","))
        .orderBy("doc_id"),
      Some("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |counts AS (
        |  SELECT tok, COUNT(*) AS freq
        |  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
        |vocab AS (
        |  SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS INTEGER) AS id
        |  FROM counts ORDER BY freq DESC, tok LIMIT 50),
        |pos AS (
        |  SELECT doc_id, g.i AS pos, t[g.i] AS tok
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM toks) g),
        |enc AS (
        |  SELECT p.doc_id, p.pos, COALESCE(v.id, 0) AS id
        |  FROM pos p LEFT JOIN vocab v ON v.tok = p.tok)
        |SELECT doc_id,
        |  array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos), ',') AS token_ids
        |FROM enc GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    ("x_text_bpe",
      // Distributed BPE tokenizer training: 6 merges learned from the
      // corpus's word-frequency table (one corpus pass; iterations are
      // vocab-sized). Output is the trained artifact — the ordered
      // merge table. The oracle replays every iteration relationally
      // (weighted pair counts → winner → greedy re-encode).
      (s, dir) => TextAnalysis.bpeTrain(Tables.documents(s, dir), iters = 6)
        .orderBy("iteration"),
      Some(bpeOracleSql(6))),

    ("x_text_bpe_encode",
      // End-to-end tokenizer: train 6 merges, then encode the corpus —
      // merges fold over the DISTINCT vocab and docs take their word
      // encodings through a broadcast dictionary join (the corpus is
      // never re-folded). Non-alphabetic tokens pass through opaque.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = TextAnalysis.bpeTrain(docs, iters = 6)
          .orderBy("iteration").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        TextAnalysis.bpeEncode(docs, merges)
          // Comparison projection (rel_collect convention): space-join
          // the token stream so the driver can sort/hash the column.
          .withColumn("bpe_tokens", array_join(col("bpe_tokens"), " "))
          .orderBy("doc_id")
      },
      Some(bpeEncodeOracleSql(6))),

    ("x_text_heavy_hitters",
      // Misra-Gries heavy hitters audited against exact counts: the
      // declared output is the (deterministic) exact top-25 plus a
      // sketch_consistent verdict that the MG guarantees make
      // theorem-true for every merge order — the same
      // exact-plus-bound trick as x_approx_distinct.
      (s, dir) => TextAnalysis.heavyHitters(Tables.documents(s, dir),
        sketchK = 200, topN = 25)
        .orderBy(col("cnt").desc, col("token")),
      Some("""SELECT tok AS token, COUNT(*) AS cnt, TRUE AS sketch_consistent
        |FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |      FROM documents)
        |GROUP BY tok
        |ORDER BY cnt DESC, token
        |LIMIT 25""".stripMargin)),

    ("x_sketch_cms",
      // Count-Min sketch (4×64) audited against exact counts for the
      // exact top-25 tokens. The CMS matrix is an order-invariant sum,
      // so the ESTIMATES are bit-identical across partitionings and
      // the oracle replays them in SQL (bucket = md5-portable hash of
      // "cms<d>:"+token mod width; estimate = min of the 4 bucket
      // sums) — stronger evidence than the theorem-only verdict MG's
      // order-dependent counters allow.
      (s, dir) => TextAnalysis.cmsFrequencies(Tables.documents(s, dir),
        depth = 4, width = 64, topN = 25)
        .orderBy(col("exact_count").desc, col("token")),
      Some("""WITH tok AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents),
        |counts AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY 1),
        |cells AS (
        |  SELECT g.d,
        |    CAST(concat('0x', substr(md5(concat('cms', g.d, ':', token)), 1, 8)) AS BIGINT) % 64 AS b,
        |    SUM(c) AS cell
        |  FROM counts, generate_series(0, 3) g(d)
        |  GROUP BY 1, 2),
        |probes AS (SELECT token, c FROM counts ORDER BY c DESC, token LIMIT 25),
        |pb AS (
        |  SELECT token, c, g.d,
        |    CAST(concat('0x', substr(md5(concat('cms', g.d, ':', token)), 1, 8)) AS BIGINT) % 64 AS b
        |  FROM probes, generate_series(0, 3) g(d))
        |SELECT pb.token AS token, CAST(pb.c AS BIGINT) AS exact_count,
        |       CAST(MIN(cells.cell) AS BIGINT) AS cms_est,
        |       (MIN(cells.cell) >= pb.c) AS never_undercounts
        |FROM pb JOIN cells USING (d, b)
        |GROUP BY pb.token, pb.c
        |ORDER BY exact_count DESC, token""".stripMargin)),

    ("x_text_bm25",
      // BM25 top-10 for the query "hash join scan" — lexical retrieval
      // for query-driven corpus slicing. ln and each contribution
      // round to 8dp, the per-doc sum runs in DECIMAL, the score
      // rounds to 6dp — the lm-score determinism discipline.
      // default-on uniqueness guard (r16): it rides the collected
      // stats aggregate (no extra corpus pass) and unlocks the
      // exchange-free serving plan — with ids enforced unique, one row
      // IS one document, so scoring is a pure projection over the
      // checkpointed counts frame and the only exchange left is the
      // TakeOrdered driver merge
      (s, dir) => TextAnalysis.bm25TopK(Tables.documents(s, dir),
        queryTerms = Seq("hash", "join", "scan"), k = 10)
        .orderBy(col("bm25").desc, col("doc_id")),
      Some("""WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM tok
        |  WHERE tok IN ('hash', 'join', 'scan') GROUP BY 1, 2),
        |dfv AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |contrib AS (
        |  SELECT tf.doc_id,
        |    round(round(ln((stats.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1.0), 8)
        |          * tf.tf * 2.2
        |          / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)), 8) AS c
        |  FROM tf JOIN dfv USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS matched_terms,
        |       -- decimal-round BEFORE the double cast: see pqAdcOracleCtes
        |       CAST(round(SUM(CAST(c AS DECIMAL(28,10))), 6) AS DOUBLE) AS bm25
        |FROM contrib
        |GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 10""".stripMargin)),

    ("x_text_bm25_stored",
      // Related-doc BM25 top-10 per query doc served from the BUCKETED
      // parquet store — the search index AT REST: the tf table's
      // doc_id-bucketed layout survives the session, so the scoring
      // aggregate (whose grouping keys include the doc id) plans with
      // no corpus-side exchange from the files themselves; query-time
      // work is one broadcast terms join + the per-query top-k window.
      // Same scoring/rounding discipline as x_text_bm25 and the
      // x_hybrid_rrf lexical leg; the storage form must not change
      // the answer.
      (s, dir) => {
        val (tf, stats) = storedBm25Index(s, dir)
        TextAnalysis.bm25RelatedTopKFrom(tf, queryIds = (0L to 7L), k = 10,
          statsOpt = Some(stats))
          .orderBy("query_id", "rank")
      },
      Some(bm25RelatedOracleSql)),

    ("x_text_bm25_incremental",
      // SEGMENTED BM25 — the incremental form of the stored index
      // (the Lucene-segment design): documents arrive as immutable
      // per-batch segments (bm25AppendSegment — tf rows plus the
      // segment's own term dictionary and stats row, because global
      // df is the one statistic an append invalidates), and the serve
      // folds df/n/avgdl across segments at query time (disjoint doc
      // sets make both folds exact sums) — so appends are O(batch)
      // and never rewrite resident segments. SAME oracle as
      // x_text_bm25_stored: a hash match proves segmentation +
      // append-then-serve ≡ whole-corpus rebuild.
      (s, dir) => {
        val (segTf, segDf, segMeta, _) = segmentedBm25Store(s, dir, deleted = false)
        TextAnalysis.bm25SegmentedTopK(segTf, segDf, segMeta,
          queryIds = (0L to 7L), k = 10)
          .orderBy("query_id", "rank")
      },
      Some(bm25RelatedOracleSql)),

    ("x_text_bm25_deleted",
      // TOMBSTONED segmented BM25 — Lucene's delete design on the
      // store: deletion is an immutable tombstone segment (doomed-id
      // list + NEGATIVE dictionary/stats rows mirroring the doomed
      // postings), applied at query time as one broadcast anti-join
      // while the negative rows flow through the additive df/stats
      // folds unchanged; physical removal waits for the next
      // compaction. Oracle = whole-corpus rebuild on the SURVIVING
      // docs (deleted set includes query doc 5 — it must vanish from
      // the output, not just the candidates), so a hash match proves
      // tombstoning ≡ rebuild-without-the-docs.
      (s, dir) => {
        val (segTf, segDf, segMeta, segDel) = segmentedBm25Store(s, dir, deleted = true)
        TextAnalysis.bm25SegmentedTopK(segTf, segDf, segMeta,
          queryIds = (0L to 7L), k = 10, segDel = segDel)
          .orderBy("query_id", "rank")
      },
      Some(bm25DeletedOracleSql)),

    ("x_text_lm_score",
      // Bigram-LM quality scoring: the corpus's own add-k bigram model
      // scores every doc by mean log-probability — low = line noise /
      // OOV-dense, high = in-domain. All keys are kernel token hashes;
      // the oracle replicates the hash pipeline and the DECIMAL-summed
      // rounded log-probs bit-exactly.
      (s, dir) => TextAnalysis.lmScores(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Some("""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) AS w1,
        |    (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |     + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS bg
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1),
        |grouped AS (
        |  SELECT doc_id, w1, bg, COUNT(*) AS m FROM pairs GROUP BY 1, 2, 3),
        |uni AS (SELECT w1, SUM(m) AS cu FROM grouped GROUP BY 1),
        |bi AS (SELECT bg, SUM(m) AS cb FROM grouped GROUP BY 1),
        |v AS (SELECT COUNT(*) AS vocab FROM uni),
        |scored AS (
        |  SELECT g.doc_id, g.m,
        |    round(ln((cb + 0.5) / (cu + 0.5 * vocab)), 8) AS lp
        |  FROM grouped g JOIN bi USING (bg) JOIN uni USING (w1) CROSS JOIN v),
        |per AS (
        |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
        |    round(CAST(SUM(CAST(m * lp AS DECIMAL(28,10))) AS DOUBLE)
        |          / SUM(m), 6) AS lm_score
        |  FROM scored GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_bigrams, 0) AS n_bigrams, per.lm_score
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    ("x_fingerprint",
      (s, dir) => TextAnalysis.fingerprint(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Some("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |ph_terms AS (
        |  SELECT doc_id,
        |         (g.i * CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT)) % 2147483647 AS ph
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM toks) g
        |  WHERE g.i <= len(t))
        |SELECT doc_id, CAST(SUM(ph) % 2147483647 AS BIGINT) AS fingerprint
        |FROM ph_terms
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    // ----- extension: multimodal columns (SURVEY §2.12 X5) -----

    ("x_multimodal_meta",
      (s, dir) => Multimodal.assetsFromText(
        Tables.documents(s, dir).join(Tables.embeddings(s, dir),
          col("doc_id") === col("vec_id"), "inner"))
        .select(col("asset_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.n_frames").as("n_frames"),
          octet_length(col("media")).as("n_bytes"))
        .orderBy("asset_id"),
      Some("""SELECT doc_id AS asset_id, 'fake/raw' AS format,
        |  CAST(octet_length(encode(text)) % 64 + 1 AS INT) AS width,
        |  CAST(octet_length(encode(text)) // 64 + 1 AS INT) AS height,
        |  CAST(octet_length(encode(text)) // 32 + 1 AS INT) AS n_frames,
        |  octet_length(encode(text)) AS n_bytes
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY asset_id""".stripMargin)),

    ("x_multimodal_frames",
      (s, dir) => Multimodal.sampleFrames(
        Multimodal.assetsFromText(Tables.documents(s, dir)), frameBytes = 16, stride = 4)
        .select(col("asset_id"), col("frame_no"), md5(col("frame")).as("frame_digest"))
        .orderBy("asset_id", "frame_no"),
      // Texts are ASCII, so byte offsets == char offsets and a VARCHAR
      // substring mirrors the Spark-side binary slice byte-for-byte.
      Some("""WITH assets AS (SELECT doc_id AS asset_id, text AS media FROM documents),
        |frames AS (
        |  SELECT asset_id, g.i AS frame_no,
        |         substring(media, g.i * 64 + 1, 16) AS frame
        |  FROM (SELECT *, unnest(generate_series(0,
        |          greatest((octet_length(encode(media)) + 63) // 64 - 1, 0))) AS i
        |        FROM assets) g)
        |SELECT asset_id, frame_no, md5(frame) AS frame_digest
        |FROM frames
        |ORDER BY asset_id, frame_no""".stripMargin)),

    ("x_multimodal_features",
      (s, dir) => Multimodal.decodeFeatures(
        Multimodal.assetsFromText(Tables.documents(s, dir)), dim = 8)
        .select(col("asset_id"), posexplode(col("features")).as(Seq("j", "feat")))
        .select(col("asset_id"), col("j"), round(col("feat"), 6).as("feat"))
        .orderBy("asset_id", "j"),
      Some("""WITH chars AS (
        |  SELECT doc_id AS asset_id, (g.i - 1) % 8 AS j,
        |         CAST(ascii(substring(text, g.i, 1)) AS DOUBLE) / 255.0 AS contrib
        |  FROM (SELECT *, unnest(generate_series(1, length(text))) AS i FROM documents) g)
        |SELECT asset_id, j, round(SUM(contrib), 6) AS feat
        |FROM chars
        |GROUP BY asset_id, j
        |ORDER BY asset_id, j""".stripMargin)),

    ("x_image_decode",
      // REAL image codec loop (r15): render each asset's deterministic
      // 32×32 RGB test pattern, ENCODE through the JDK's PNG writer,
      // DECODE with javax.imageio, and emit exact integer channel sums.
      // PNG is lossless, so the oracle recomputes the sums from the
      // pixel FORMULA with no codec anywhere — a hash match proves the
      // encode→decode round trip is bit-exact end-to-end. The pipeline
      // shape (binary column in, mapPartitions batch decode, columnar
      // stats out) is the mapInPandas contract with a live codec.
      (s, dir) => Multimodal.decodeImageFeatures(
        Multimodal.renderPng(Tables.documents(s, dir).select("doc_id"), 32, 32,
          idCol = "doc_id"))
        .orderBy("asset_id"),
      Some(s"""WITH $imagePixelCtes
        |SELECT asset_id, 32 AS width, 32 AS height,
        |  CAST(SUM(r) AS BIGINT) AS sum_r,
        |  CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(b) AS BIGINT) AS sum_b
        |FROM rgb GROUP BY 1
        |ORDER BY asset_id""".stripMargin)),

    ("x_image_dhash",
      // dHash perceptual fingerprint over DECODED pixels: integer gray,
      // integer box-average onto a 9×8 grid, one bit per horizontally
      // adjacent cell pair, returned as two non-negative 32-bit halves.
      // Every step is integer division on decoded values, so the oracle
      // replays gray → cells → bits from the pixel formula and the hash
      // match pins the codec loop AND the hash math bit-for-bit.
      (s, dir) => Multimodal.imageDHash(
        Multimodal.renderPng(Tables.documents(s, dir).select("doc_id"), 32, 32,
          idCol = "doc_id"))
        .orderBy("asset_id"),
      Some(s"""WITH $imageDHashCtes
        |SELECT asset_id, dhash_hi, dhash_lo FROM dh
        |ORDER BY asset_id""".stripMargin)),

    ("x_image_neardup",
      // Image near-dup end to end: PNG render → decode → dHash →
      // pigeonhole Hamming screen (8 byte-bands over the 64-bit hash,
      // popcount verify ≤ 4). The render plants sibling pairs (asset
      // 2q/2q+1 differ by a 4×4 corner perturbation), and the oracle
      // computes the FULL all-pairs Hamming answer from the pixel
      // formula — a hash match proves the banding loses nothing at
      // this radius (8 bands pigeonhole ≤ 7 flipped bits).
      // maxBucket effectively UNCAPPED (ADVICE r17): the DuckDB oracle
      // computes the full all-pairs Hamming answer, so the paired query
      // must not silently drop hot-bucket pairs at larger SFs —
      // production screens keep the DefaultMaxBucket cost bound.
      (s, dir) => Dedup.hammingNearDup64(
        Multimodal.imageDHash(
          Multimodal.renderPng(Tables.documents(s, dir).select("doc_id"), 32, 32,
            idCol = "doc_id")),
        maxHamming = 4, maxBucket = Int.MaxValue)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $imageDHashCtes
        |SELECT a.asset_id AS id_a, b.asset_id AS id_b,
        |  CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
        |     + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS INT) AS hamming
        |FROM dh a JOIN dh b ON a.asset_id < b.asset_id
        |WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
        |    + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 4
        |ORDER BY id_a, id_b""".stripMargin)),

    ("x_image_incremental",
      // Incremental image-dedup ingest screen: which incoming images
      // (asset_id % 5 = 0, the batch) are within Hamming 4 of the
      // already-ingested 80% — dHash both sides through the REAL codec
      // loop, then the cross-set 8-byte-band screen (seen-side bucket
      // cap, O(batch + collisions)). The oracle computes the FULL
      // batch × corpus Hamming answer from the pixel formula, so a
      // hash match proves the codec loop AND the cross-set banding
      // lose nothing at this radius.
      (s, dir) => {
        // split the IDS before the codec chain: a filter cannot push
        // through mapPartitions, so filtering the fingerprint frame
        // rendered+decoded the WHOLE corpus once per side — 2x the
        // codec work (r17 fix; wall-neutral at sf0.1 where per-asset
        // codec CPU is small, but the halving is the term that
        // matters at real asset sizes)
        def dh(pred: Column => Column) = Multimodal.imageDHash(
          Multimodal.renderPng(Tables.documents(s, dir).select("doc_id")
            .filter(pred(pmod(col("doc_id"), lit(5)))), 32, 32,
            idCol = "doc_id"))
        // uncapped for the same oracle-pairing reason as x_image_neardup
        Dedup.hammingScreen64(
          dh(_ === 0), dh(_ =!= 0), maxHamming = 4, maxBucket = Int.MaxValue)
          .orderBy("new_id", "seen_id")
      },
      Some(s"""WITH $imageDHashCtes
        |SELECT n.asset_id AS new_id, s.asset_id AS seen_id,
        |  CAST(bit_count(xor(n.dhash_hi, s.dhash_hi))
        |     + bit_count(xor(n.dhash_lo, s.dhash_lo)) AS INT) AS hamming
        |FROM dh n JOIN dh s
        |  ON n.asset_id % 5 = 0 AND s.asset_id % 5 <> 0
        |WHERE bit_count(xor(n.dhash_hi, s.dhash_hi))
        |    + bit_count(xor(n.dhash_lo, s.dhash_lo)) <= 4
        |ORDER BY new_id, seen_id""".stripMargin)),

    ("x_audio_decode",
      // REAL audio codec loop: synthesize each asset's deterministic
      // 16-bit PCM signal, ENCODE through the JDK's WAV writer
      // (javax.sound.sampled), DECODE it back, and emit exact integer
      // signal statistics (Σ|s|, max |s|, zero crossings). PCM-in-WAV
      // is lossless, so the oracle recomputes the stats from the
      // sample FORMULA with no codec — the audio twin of
      // x_image_decode's round-trip proof.
      (s, dir) => Multimodal.decodeAudioFeatures(
        Multimodal.renderWav(Tables.documents(s, dir).select("doc_id"),
          nSamples = 512, idCol = "doc_id"))
        .orderBy("asset_id"),
      Some("""WITH sm AS (
        |  SELECT d.doc_id AS asset_id, t.t,
        |    ((d.doc_id // 2) * 37 + t.t * 113 + (t.t * t.t % 97) * 5
        |      + CASE WHEN d.doc_id % 2 = 1 AND t.t < 16 THEN 257 ELSE 0 END) % 65536
        |      - 32768 AS s
        |  FROM documents d, generate_series(0, 511) t(t)),
        |flags AS (
        |  SELECT asset_id, t, s,
        |    CASE WHEN t > 0 AND (s < 0) <>
        |      (lag(s) OVER (PARTITION BY asset_id ORDER BY t) < 0)
        |    THEN 1 ELSE 0 END AS zc
        |  FROM sm)
        |SELECT asset_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(abs(s)) AS BIGINT) AS sum_abs,
        |  CAST(MAX(abs(s)) AS BIGINT) AS max_abs,
        |  CAST(SUM(zc) AS BIGINT) AS zero_crossings
        |FROM flags GROUP BY 1
        |ORDER BY asset_id""".stripMargin)),

    ("x_video_decode",
      // REAL video-container codec loop (r16): render each asset's
      // deterministic 8-frame 16×16 grayscale animation, ENCODE it as
      // ONE animated GIF through the JDK's sequence writer, DECODE all
      // frames back, and emit exact per-frame integer statistics.
      // GIF's LZW+palette coding is lossless for 8-bit grayscale, so
      // the oracle recomputes the stats from the frame-pixel FORMULA
      // with no codec anywhere — a hash match proves the multi-frame
      // container round trip end-to-end (the video twin of
      // x_image_decode / x_audio_decode).
      (s, dir) => Multimodal.decodeVideoFeatures(
        Multimodal.renderGif(Tables.documents(s, dir).select("doc_id"),
          16, 16, nFrames = 8, idCol = "doc_id"))
        .orderBy("asset_id", "frame_no"),
      Some(s"""WITH $videoPixelCte
        |SELECT asset_id, CAST(f AS INT) AS frame_no,
        |  16 AS width, 16 AS height,
        |  CAST(SUM(g) AS BIGINT) AS sum_gray, CAST(MAX(g) AS INT) AS max_gray
        |FROM vpx GROUP BY asset_id, f
        |ORDER BY asset_id, frame_no""".stripMargin)),

    ("x_video_sample",
      // Frame SAMPLING on the real container: decode only every 2nd
      // frame via the GIF reader's random-access read(i) — skipped
      // frames are never decoded, the work-skipping contract frame
      // sampling exists for at 100 TB. The oracle filters the same
      // frame numbers out of the formula replay, so a hash match
      // proves the sampled decode touches exactly the right frames.
      (s, dir) => Multimodal.decodeVideoFeatures(
        Multimodal.renderGif(Tables.documents(s, dir).select("doc_id"),
          16, 16, nFrames = 8, idCol = "doc_id"), stride = 2)
        .orderBy("asset_id", "frame_no"),
      Some(s"""WITH $videoPixelCte
        |SELECT asset_id, CAST(f AS INT) AS frame_no,
        |  16 AS width, 16 AS height,
        |  CAST(SUM(g) AS BIGINT) AS sum_gray, CAST(MAX(g) AS INT) AS max_gray
        |FROM vpx WHERE f % 2 = 0
        |GROUP BY asset_id, f
        |ORDER BY asset_id, frame_no""".stripMargin)),

    ("x_video_dhash",
      // 64-bit perceptual VIDEO fingerprint through the real container
      // codec (r17): decode every 2nd frame of the animated GIF
      // (random-access read(i) — skipped frames never decoded),
      // accumulate the per-pixel integer gray SUM, and difference-hash
      // the summed plane on the standard 9×8 grid. Every step is
      // integer math on losslessly decoded values, so the oracle
      // replays pixels → frame-sum → cells → bits from the render
      // formula and the hash match pins the multi-frame codec loop AND
      // the temporal fold bit-for-bit — the video twin of
      // x_image_dhash.
      (s, dir) => Multimodal.videoDHash(
        Multimodal.renderGif(Tables.documents(s, dir).select("doc_id"),
          16, 16, nFrames = 8, idCol = "doc_id"), stride = 2)
        .orderBy("asset_id"),
      Some(s"""WITH $videoDHashCtes
        |SELECT asset_id, dhash_hi, dhash_lo FROM vdh
        |ORDER BY asset_id""".stripMargin)),

    ("x_video_neardup",
      // Video near-dup end to end: GIF render → sampled decode →
      // temporal-mean dHash → pigeonhole Hamming screen (8 byte-bands
      // over the 64-bit fingerprint, popcount verify ≤ 4) — the video
      // modality running the image tier's near-dup stack unchanged.
      // The render plants sibling pairs (asset 2q/2q+1 differ by a
      // 4×4 corner perturbation in every frame), and the oracle
      // computes the FULL all-pairs Hamming answer from the frame
      // formula — a hash match proves the banding loses nothing at
      // this radius (8 bands pigeonhole ≤ 7 flipped bits). Radius 4
      // matches the image tier and reads the planted structure
      // cleanly: measured at sf0.01, siblings sit at Hamming 0-5
      // (248/250 within 4) while the nearest UNRELATED pair sits at 5
      // — so the output is sibling pairs, linear in corpus size, with
      // the quadratic accident term at zero.
      // maxBucket effectively UNCAPPED (ADVICE r17): the oracle is the
      // full all-pairs answer — see x_image_neardup.
      (s, dir) => Dedup.hammingNearDup64(
        Multimodal.videoDHash(
          Multimodal.renderGif(Tables.documents(s, dir).select("doc_id"),
            16, 16, nFrames = 8, idCol = "doc_id"), stride = 2),
        maxHamming = 4, maxBucket = Int.MaxValue)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $videoDHashCtes
        |SELECT a.asset_id AS id_a, b.asset_id AS id_b,
        |  CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
        |     + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS INT) AS hamming
        |FROM vdh a JOIN vdh b ON a.asset_id < b.asset_id
        |WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
        |    + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 4
        |ORDER BY id_a, id_b""".stripMargin)),

    ("x_video_incremental",
      // Incremental video-dedup ingest screen — the video modality
      // completing the image tier's LAST face (r17): which incoming
      // videos (asset_id % 5 = 0, the batch) are within Hamming 4 of
      // the already-ingested 80%, fingerprinting both sides through
      // the REAL multi-frame codec loop and screening with the same
      // cross-set 8-byte-band pigeonhole (seen-side bucket cap,
      // O(batch + collisions)) the image screen uses — zero new
      // operator code, pure composition. The oracle computes the FULL
      // batch × corpus Hamming answer from the frame formula, so a
      // hash match proves the codec loop, the temporal fold, AND the
      // cross-set banding lose nothing at this radius.
      (s, dir) => {
        // ids split BEFORE the codec chain — the image screen's
        // mapPartitions pushdown lesson (see x_image_incremental)
        def dh(pred: Column => Column) = Multimodal.videoDHash(
          Multimodal.renderGif(Tables.documents(s, dir).select("doc_id")
            .filter(pred(pmod(col("doc_id"), lit(5)))),
            16, 16, nFrames = 8, idCol = "doc_id"), stride = 2)
        // uncapped for the same oracle-pairing reason as x_image_neardup
        Dedup.hammingScreen64(
          dh(_ === 0), dh(_ =!= 0), maxHamming = 4, maxBucket = Int.MaxValue)
          .orderBy("new_id", "seen_id")
      },
      Some(s"""WITH $videoDHashCtes
        |SELECT n.asset_id AS new_id, s.asset_id AS seen_id,
        |  CAST(bit_count(xor(n.dhash_hi, s.dhash_hi))
        |     + bit_count(xor(n.dhash_lo, s.dhash_lo)) AS INT) AS hamming
        |FROM vdh n JOIN vdh s
        |  ON n.asset_id % 5 = 0 AND s.asset_id % 5 <> 0
        |WHERE bit_count(xor(n.dhash_hi, s.dhash_hi))
        |    + bit_count(xor(n.dhash_lo, s.dhash_lo)) <= 4
        |ORDER BY new_id, seen_id""".stripMargin)),

    ("rel_rollup",
      // Hierarchical totals in one pass: ROLLUP emits (flag, status),
      // (flag, ALL), (ALL, ALL) grouping sets from a single shuffle —
      // subtotal levels NULL out to the 'ALL' sentinel (source columns
      // are never null in this schema).
      (s, dir) => Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)"))
            .cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("revenue"), col("n"))
        .orderBy("returnflag", "linestatus"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin)),

    ("rel_setops",
      // Set operators (distinct semantics): high-value custkeys ∩ 1996
      // buyers, minus small finished orders. Spark plans each as an
      // aggregate-style shuffle on the full row — no driver-side sets.
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.filter(col("o_totalprice") > 300000).select("o_custkey")
          .intersect(o.filter(col("o_orderdate") >= lit("1996-01-01")
            && col("o_orderdate") < lit("1997-01-01")).select("o_custkey"))
          .except(o.filter(col("o_orderstatus") === "F"
            && col("o_totalprice") < 100000).select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' AND o_totalprice < 100000
        |ORDER BY o_custkey""".stripMargin)),

    ("ts_moving_zscore",
      // Trailing 24-row moving avg/std + z-score per user over the event
      // stream — the streaming anomaly-score shape, one shuffle on the key.
      // event_id rides through to the final ORDER BY so tied (user, ts)
      // rows — which carry different values/zscores — order the same in
      // both engines, then drops from the projection (a Project preserves
      // its child's ordering).
      (s, dir) => TimeSeriesOps.movingStats(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "value"),
        windowRows = 24, keyCol = "user_id", tsCol = "ts", valueCol = "value",
        tieCol = "event_id")
        .orderBy("user_id", "ts", "event_id")
        .select("user_id", "ts", "value", "moving_avg", "moving_std", "zscore"),
      Some("""WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM events),
        |stats AS (
        |  SELECT user_id, ts, event_id, value,
        |    COUNT(*) OVER w AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sumd,
        |    CAST(SUM(CAST(value * value AS DECIMAL(28,10))) OVER w AS DOUBLE) AS sumsq
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |derived AS (
        |  SELECT user_id, ts, event_id, value,
        |    sumd / n AS ma,
        |    CASE WHEN n > 1
        |      THEN sqrt(greatest((sumsq - sumd * sumd / n) / (n - 1), 0.0)) END AS std
        |  FROM stats)
        |SELECT user_id, ts, value,
        |  round(ma, 6) AS moving_avg,
        |  round(std, 6) AS moving_std,
        |  CASE WHEN std > 0 THEN round((value - ma) / std, 6) + 0.0 END AS zscore
        |FROM derived
        |ORDER BY user_id, ts, event_id""".stripMargin)),

    ("x_sessionize",
      // Gap-based sessionization (30-min silence) summarized per session.
      // The session assignment and the per-session aggregate ride ONE
      // shuffle on user_id.
      (s, dir) => TimeSeriesOps.sessionize(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "value"),
        gapSec = 1800, keyCol = "user_id", tsCol = "ts", tieCol = "event_id")
        .groupBy(col("user_id"), col("session_no"))
        .agg(
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("user_id", "session_no"),
      Some("""WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM events),
        |lagd AS (
        |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts FROM e),
        |flagged AS (
        |  SELECT *, CASE WHEN pts IS NULL
        |    OR date_diff('microsecond', pts, ts) > 1800000000 THEN 1 ELSE 0 END AS nw
        |  FROM lagd),
        |sess AS (
        |  SELECT *, CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM flagged)
        |SELECT user_id, session_no,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess
        |GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin)),

    ("x_dedup_clusters",
      // Near-dup pairs → duplicate clusters: connected components by
      // iterative min-label propagation (oracle: recursive-CTE reachability).
      (s, dir) => Dedup.duplicateClusters(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 2, threshold = 0.2, maxDf = 50))
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $jaccardPairsCte,
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b)
        |SELECT id AS doc_id, MIN(lab) AS cluster
        |FROM reach GROUP BY id
        |ORDER BY doc_id""".stripMargin)),

    ("x_dedup_winners",
      // Clusters → one keeper per cluster: highest quality, then smallest
      // id. Consumes the SHARED cluster frame ([[builtClusters]]) — the
      // winner pick is what this query measures; the clustering build is
      // `x_dedup_clusters`' own line. (Round 4 recomputed pairs + CC from
      // scratch here, doubling the most expensive pipeline in the bench.)
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val clusters = builtClusters(s, dir)
          .select(col("id").as("doc_id"), col("cluster"))
        val w = Window.partitionBy(col("cluster"))
          .orderBy(col("quality").desc, col("doc_id"))
        clusters.join(TextAnalysis.quality(docs).select("doc_id", "quality"), "doc_id")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select("cluster", "doc_id", "quality")
          .orderBy("cluster")
      },
      Some(s"""WITH RECURSIVE $jaccardPairsCte,
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
        |comp AS (SELECT id AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY id),
        |base AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS n_stop,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
        |  FROM documents),
        |quality AS (
        |  SELECT doc_id,
        |    CASE WHEN n_tokens = 0 OR n_chars = 0 THEN 0.0 ELSE round(
        |      least(1.0, CAST(n_tokens AS DOUBLE) / 64)
        |        * (1.0 - CAST(n_digits AS DOUBLE) / n_chars)
        |        * (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.05
        |                  AND CAST(n_stop AS DOUBLE) / n_tokens < 0.6
        |                THEN 1.0 ELSE 0.5 END), 4) END AS quality
        |  FROM base),
        |ranked AS (
        |  SELECT c.cluster, c.doc_id, q.quality,
        |    row_number() OVER (PARTITION BY c.cluster
        |                       ORDER BY q.quality DESC, c.doc_id) AS rk
        |  FROM comp c JOIN quality q ON q.doc_id = c.doc_id)
        |SELECT cluster, doc_id, quality FROM ranked WHERE rk = 1
        |ORDER BY cluster""".stripMargin)),

    ("x_range_join",
      // Non-equi containment join via the bucketed-equi rewrite: value
      // bands register per fixed-width bucket, probes land in exactly
      // one, and the residual filter restores exact [lo, hi) semantics —
      // no BroadcastNestedLoopJoin anywhere in the plan.
      (s, dir) => {
        val bands = s.range(50).select(col("id").as("band_id"),
          (col("id") * 10.0).as("lo"), ((col("id") + 1) * 10.0).as("hi"))
        RangeJoin.bucketedRangeJoin(
          Tables.events(s, dir).select("event_id", "value"), "value",
          bands, "lo", "hi", bucketWidth = 10.0)
          .select("event_id", "value", "band_id")
          .orderBy("event_id")
      },
      Some("""WITH bands AS (
        |  SELECT g.i AS band_id, g.i * 10.0 AS lo, (g.i + 1) * 10.0 AS hi
        |  FROM generate_series(0, 49) g(i))
        |SELECT event_id, value, band_id
        |FROM events JOIN bands ON value >= lo AND value < hi
        |ORDER BY event_id""".stripMargin)),

    ("x_text_tfidf",
      (s, dir) => TextAnalysis.tfIdf(Tables.documents(s, dir))
        .orderBy("doc_id", "token"),
      Some("""WITH terms AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM terms GROUP BY doc_id, token),
        |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY token),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT doc_id, token, tf, df,
        |  round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
        |FROM tf JOIN df USING (token), n
        |ORDER BY doc_id, token""".stripMargin)),

    ("x_ann_ivf_assigned",
      // IVF index BUILD: every corpus vector assigned to its nearest
      // TRAINED centroid — cells come from the training output, not a
      // pre-existing label (raw 100 TB embeddings have none).
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.assignCells(emb, Similarity.cellCentroids(emb))
          .orderBy("vec_id")
      },
      Some(s"""WITH $IvfScoreCtes
        |SELECT vec_id, cell, cscore FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cscore DESC NULLS LAST, cell) AS rn
        |  FROM scores)
        |WHERE rn = 1
        |ORDER BY vec_id""".stripMargin)),

    ("x_ann_ivf_probe",
      // Multi-probe search over the BUILT index ([[builtIvfIndex]]):
      // assign each query to its 2 nearest cells, search only those
      // cells' assigned vectors. The index construction is amortized
      // build product — `x_ann_ivf_assigned` measures it fresh.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (cent, corpus) = builtIvfIndex(s, dir)
        Similarity.ivfProbeTopK(corpus, emb.filter(col("vec_id") < 8), cent,
          k = 5, nprobe = 2, cellCol = "cell")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $IvfScoreCtes,
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC NULLS LAST, cell) AS rn
        |    FROM scores)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC NULLS LAST, cell) AS crank
        |    FROM scores WHERE vec_id < 8)
        |  WHERE crank <= 2),
        |pairs AS (
        |  SELECT p.query_id, c.vec_id AS cand_id, a.cell,
        |         round(list_inner_product(q.e, c.e)
        |           / NULLIF(sqrt(list_inner_product(q.e, q.e))
        |              * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |  FROM probes p
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings WHERE vec_id < 8) q ON q.vec_id = p.query_id
        |  JOIN assigned a ON a.cell = p.cell
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings) c ON c.vec_id = a.vec_id AND c.vec_id <> p.query_id)
        |SELECT query_id, cand_id, cell, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, cand_id) AS rank
        |  FROM pairs)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    ("x_ann_index_stored",
      // Multi-probe search over the PARQUET-STORED index: the same
      // probe as x_ann_ivf_probe, but centroids and cell-assigned
      // corpus are written to a scratch store and read back first —
      // proving the build-once/serve-many contract for the vector side
      // (the index is a table, not a session artifact). Floats
      // round-trip parquet losslessly, so the oracle is identical.
      // r18: the stored corpus is cell-PARTITIONED and the serve path
      // pushes a static probed-cell partition filter — scan IO is
      // O(probed cells), the layout IVF exists for (PlanSpec-pinned;
      // value-identical by construction, same oracle).
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (cent, corpus) = storedIvfIndex(s, dir)
        Similarity.ivfProbeTopKPruned(corpus, emb.filter(col("vec_id") < 8), cent,
          k = 5, nprobe = 2, cellCol = "cell")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $IvfScoreCtes,
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC NULLS LAST, cell) AS rn
        |    FROM scores)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC NULLS LAST, cell) AS crank
        |    FROM scores WHERE vec_id < 8)
        |  WHERE crank <= 2),
        |pairs AS (
        |  SELECT p.query_id, c.vec_id AS cand_id, a.cell,
        |         round(list_inner_product(q.e, c.e)
        |           / NULLIF(sqrt(list_inner_product(q.e, q.e))
        |              * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |  FROM probes p
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings WHERE vec_id < 8) q ON q.vec_id = p.query_id
        |  JOIN assigned a ON a.cell = p.cell
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings) c ON c.vec_id = a.vec_id AND c.vec_id <> p.query_id)
        |SELECT query_id, cand_id, cell, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, cand_id) AS rank
        |  FROM pairs)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    ("x_ann_incremental",
      // IVF index MAINTENANCE end-to-end: centroids train on the
      // resident 3/4 slice; the held-out quarter arrives later,
      // is ASSIGNED against the frozen codebook (standard IVF append —
      // no retrain; a broadcast-kernel projection, zero shuffles), and
      // lands as new files under the existing cell directories
      // (Similarity.ivfAppend). The SAME pruned serve path then
      // answers over the merged store. The oracle assigns every
      // vector against the resident-trained centroids in one pass, so
      // a hash match proves append-then-serve ≡ assign-all-at-once:
      // the index does not degrade by being maintained incrementally.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (cent, corpus, _) = appendedIvfIndex(s, dir)
        Similarity.ivfProbeTopKPruned(corpus, emb.filter(col("vec_id") < 8), cent,
          k = 5, nprobe = 2, cellCol = "cell")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${ivfScoreCtesWhere("vec_id % 4 <> 3")},
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC NULLS LAST, cell) AS rn
        |    FROM scores)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC NULLS LAST, cell) AS crank
        |    FROM scores WHERE vec_id < 8)
        |  WHERE crank <= 2),
        |pairs AS (
        |  SELECT p.query_id, c.vec_id AS cand_id, a.cell,
        |         round(list_inner_product(q.e, c.e)
        |           / NULLIF(sqrt(list_inner_product(q.e, q.e))
        |              * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |  FROM probes p
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings WHERE vec_id < 8) q ON q.vec_id = p.query_id
        |  JOIN assigned a ON a.cell = p.cell
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings) c ON c.vec_id = a.vec_id AND c.vec_id <> p.query_id)
        |SELECT query_id, cand_id, cell, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, cand_id) AS rank
        |  FROM pairs)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    ("x_ann_deleted",
      // DELETE-BY-ID on the maintained IVF store — the vector-side
      // tombstone face (simpler than the text twin: no corpus-global
      // statistics, so the tombstone is just the doomed id list in a
      // sibling tree, O(ids) to land). The SAME pruned serve answers
      // over the same corpus with the tombstone screen applied AFTER
      // the static cell prune (r18 optimization round: small del
      // lists collect once and push as a NOT-IN scan filter beside
      // the cell filter — the bm25 twin's delPushdownMax discipline —
      // with the broadcast anti-join kept above the threshold);
      // physical removal waits for the
      // next compaction (spec-pinned). Oracle = the incremental
      // oracle with the deleted ids screened from the candidates
      // (deleted vec 5 still QUERIES — query vectors are external to
      // the store — but may no longer be anyone's candidate), so a
      // hash match proves tombstoning ≡ serve-without-the-rows.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (cent, corpus, del) = appendedIvfIndex(s, dir)
        Similarity.ivfProbeTopKPruned(corpus, emb.filter(col("vec_id") < 8), cent,
          k = 5, nprobe = 2, cellCol = "cell", delOpt = Some(del))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${ivfScoreCtesWhere("vec_id % 4 <> 3")},
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC NULLS LAST, cell) AS rn
        |    FROM scores)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC NULLS LAST, cell) AS crank
        |    FROM scores WHERE vec_id < 8)
        |  WHERE crank <= 2),
        |pairs AS (
        |  SELECT p.query_id, c.vec_id AS cand_id, a.cell,
        |         round(list_inner_product(q.e, c.e)
        |           / NULLIF(sqrt(list_inner_product(q.e, q.e))
        |              * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |  FROM probes p
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings WHERE vec_id < 8) q ON q.vec_id = p.query_id
        |  JOIN assigned a ON a.cell = p.cell
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings
        |        WHERE vec_id NOT IN (${annDeletedIds.mkString(", ")})) c
        |    ON c.vec_id = a.vec_id AND c.vec_id <> p.query_id)
        |SELECT query_id, cand_id, cell, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, cand_id) AS rank
        |  FROM pairs)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),


    ("x_ann_recall",
      // Index evaluation: recall@5 of the multi-probe IVF search (built
      // index, nprobe=2) against the brute-force ground truth — the
      // tuning measurement that decides nprobe/centroid count.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 8)
        // the index is a shared build product; recall evaluation measures
        // the probe + ground-truth comparison, not index construction
        val (cent, corpus) = builtIvfIndex(s, dir)
        val approx = Similarity.ivfProbeTopK(corpus, queries, cent,
          k = 5, nprobe = 2, cellCol = "cell")
        val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
        Similarity.recallAtK(approx, exact).orderBy("query_id")
      },
      Some(s"""WITH $IvfScoreCtes,
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC NULLS LAST, cell) AS rn
        |    FROM scores)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC NULLS LAST, cell) AS crank
        |    FROM scores WHERE vec_id < 8)
        |  WHERE crank <= 2),
        |apairs AS (
        |  SELECT p.query_id, c.vec_id AS cand_id,
        |         round(list_inner_product(q.e, c.e)
        |           / NULLIF(sqrt(list_inner_product(q.e, q.e))
        |              * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |  FROM probes p
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings WHERE vec_id < 8) q ON q.vec_id = p.query_id
        |  JOIN assigned a ON a.cell = p.cell
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings) c ON c.vec_id = a.vec_id AND c.vec_id <> p.query_id),
        |approx AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, cand_id) AS rank
        |    FROM apairs)
        |  WHERE rank <= 5),
        |bpairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |         round(list_inner_product(q.e, c.e)
        |           / NULLIF(sqrt(list_inner_product(q.e, q.e))
        |              * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings WHERE vec_id < 8) q,
        |       (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) c
        |  WHERE q.vec_id <> c.vec_id),
        |exact AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, cand_id) AS rank
        |    FROM bpairs)
        |  WHERE rank <= 5)
        |SELECT e.query_id AS query_id, COUNT(*) AS truth_k, COUNT(a.cand_id) AS hits,
        |       round(CAST(COUNT(a.cand_id) AS DOUBLE) / COUNT(*), 4) AS recall
        |FROM exact e LEFT JOIN approx a
        |  ON a.query_id = e.query_id AND a.cand_id = e.cand_id
        |GROUP BY e.query_id
        |ORDER BY e.query_id""".stripMargin)),

    ("x_ann_label_purity",
      // Embedding-quality eval: per label class, the fraction of each
      // query's 10 exact nearest neighbors sharing the query's label —
      // the cheap space-separation check before trusting embeddings for
      // semantic dedup/curation. Labels ride the scored pair; integer
      // match counts divide once at the end (engine-exact).
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.labelPurity(emb, emb.filter(col("vec_id") < 32), k = 10)
          .orderBy("label")
      },
      Some("""WITH pairs AS (
        |  SELECT q.vec_id AS query_id, q.label AS qlabel, c.label AS clabel,
        |         c.vec_id AS cand_id,
        |         round(list_inner_product(q.e, c.e)
        |           / NULLIF(sqrt(list_inner_product(q.e, q.e))
        |              * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings WHERE vec_id < 32) q,
        |       (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings) c
        |  WHERE q.vec_id <> c.vec_id),
        |top AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, cand_id) AS rank
        |    FROM pairs)
        |  WHERE rank <= 10)
        |SELECT qlabel AS label, COUNT(DISTINCT query_id) AS n_queries,
        |       CAST(SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |       round(CAST(SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS DOUBLE)
        |         / (COUNT(DISTINCT query_id) * 10), 6) AS purity
        |FROM top GROUP BY qlabel
        |ORDER BY label""".stripMargin)),

    ("x_simhash_neardup",
      // Hamming-banded simhash near-dup: pigeonhole candidates via an
      // equi-join on 12-bit bands, exact bit_count(xor) on collisions only.
      (s, dir) => Dedup.simHashNearDup(Tables.documents(s, dir), n = 2)
        .orderBy("id_a", "id_b"),
      Some("""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS sh
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1),
        |hashed AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5(CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM grams),
        |votes AS (
        |  SELECT doc_id, b.b,
        |         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hashed, generate_series(0, 47) b(b)
        |  GROUP BY doc_id, b.b),
        |sims AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, simhash, b.b AS band, (simhash >> (b.b * 12)) & 4095 AS key
        |  FROM sims, generate_series(0, 3) b(b)),
        |-- mirror the Spark side's DefaultMaxBucket cap so the declared
        |-- equivalence holds BY CONSTRUCTION, not by data luck
        |ok AS (
        |  SELECT band, key FROM bands GROUP BY band, key
        |  HAVING COUNT(*) <= 1000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |         a.simhash AS sh_a, b.simhash AS sh_b
        |  FROM bands a
        |  JOIN ok ON ok.band = a.band AND ok.key = a.key
        |  JOIN bands b ON a.band = b.band AND a.key = b.key
        |               AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
        |ORDER BY id_a, id_b""".stripMargin)),

    ("ts_seasonal",
      // Seasonal-naive baseline + residual: mean per (user, hour-of-day)
      // broadcast back onto the stream — "how unusual is this value for
      // this hour".
      (s, dir) => TimeSeriesOps.seasonalResiduals(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "value"),
        keyCol = "user_id")
        .orderBy("user_id", "ts", "event_id")
        .select("user_id", "ts", "value", "seasonal_mean", "residual"),
      Some("""WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM events),
        |prof AS (
        |  SELECT user_id, EXTRACT(hour FROM ts) AS slot,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_v
        |  FROM e GROUP BY user_id, EXTRACT(hour FROM ts))
        |SELECT e.user_id, e.ts, e.value,
        |  round(p.mean_v, 6) AS seasonal_mean,
        |  round(e.value - p.mean_v, 6) + 0.0 AS residual
        |FROM e JOIN prof p
        |  ON p.user_id = e.user_id AND p.slot = EXTRACT(hour FROM e.ts)
        |ORDER BY e.user_id, e.ts, e.event_id""".stripMargin)),

    ("x_feature_lags",
      // Supervised-training lag features; all lags collapse into ONE
      // Window node over one shuffle.
      (s, dir) => TimeSeriesOps.lagFeatures(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "value"),
        lags = Seq(1, 2, 24), keyCol = "user_id", tieCol = "event_id")
        .orderBy("user_id", "ts", "event_id")
        .select("user_id", "ts", "value", "lag_1", "lag_2", "lag_24"),
      Some("""WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM events)
        |SELECT user_id, ts, value,
        |  lag(value, 1) OVER w AS lag_1,
        |  lag(value, 2) OVER w AS lag_2,
        |  lag(value, 24) OVER w AS lag_24
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin)),

    ("x_dedup_incremental",
      // Incremental ingest: docs 0..249 are the already-seen corpus; keep
      // only genuinely new content from the rest (anti-join on digest).
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.incrementalNew(
          docs.filter(col("doc_id") >= 250),
          Dedup.exact(docs.filter(col("doc_id") < 250)).select("digest"))
          .select("doc_id", "digest")
          .orderBy("doc_id")
      },
      Some("""WITH seen AS (
        |  SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id < 250)
        |SELECT doc_id, md5(text) AS digest
        |FROM documents
        |WHERE doc_id >= 250 AND md5(text) NOT IN (SELECT digest FROM seen)
        |ORDER BY doc_id""".stripMargin)),

    ("x_dedup_spans",
      // Span-level duplicated-boilerplate census: every occurrence of an
      // 8-token span whose exact sequence appears in >1 document. The
      // cross-document step whole-document dedup cannot see (distinct
      // docs sharing a repeated header/license block).
      (s, dir) => Dedup.duplicatedSpans(Tables.documents(s, dir), spanTokens = 8)
        .orderBy("doc_id", "span_no", "span_digest"),
      Some("""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |spans AS (
        |  SELECT doc_id, g.i AS span_no,
        |         md5(array_to_string(t[CAST(g.i * 8 + 1 AS BIGINT)
        |                               : CAST(g.i * 8 + 8 AS BIGINT)], ' ')) AS span_digest
        |  FROM (SELECT *, unnest(generate_series(0, (len(t) + 7) // 8 - 1)) AS i
        |        FROM ft WHERE len(t) > 0) g),
        |dups AS (
        |  SELECT span_digest, COUNT(DISTINCT doc_id) AS n_docs
        |  FROM spans GROUP BY span_digest HAVING COUNT(DISTINCT doc_id) > 1)
        |SELECT s.doc_id, s.span_no, s.span_digest, d.n_docs
        |FROM spans s JOIN dups d USING (span_digest)
        |ORDER BY doc_id, span_no, span_digest""".stripMargin)),

    ("x_dedup_spans_removed",
      // The removal half of span-level dedup: keep each 8-token span's
      // globally first occurrence, reassemble every document from its
      // kept spans (empty clean_text when everything was boilerplate) —
      // the full C4-style cleanup, not just the census.
      (s, dir) => Dedup.removeDuplicatedSpans(Tables.documents(s, dir), spanTokens = 8)
        .orderBy("doc_id"),
      Some("""WITH ft AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |spans AS (
        |  SELECT doc_id, g.i AS span_no,
        |         array_to_string(t[CAST(g.i * 8 + 1 AS BIGINT)
        |                          : CAST(g.i * 8 + 8 AS BIGINT)], ' ') AS sp
        |  FROM (SELECT *, unnest(generate_series(0, (len(t) + 7) // 8 - 1)) AS i
        |        FROM ft WHERE len(t) > 0) g),
        |marked AS (
        |  SELECT *, row_number() OVER (PARTITION BY sp
        |                               ORDER BY doc_id, span_no) AS occ
        |  FROM spans),
        |agg AS (
        |  SELECT doc_id,
        |         string_agg(CASE WHEN occ = 1 THEN sp END, ' ' ORDER BY span_no)
        |           AS clean_text,
        |         CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |         CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |  FROM marked GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
        |       COALESCE(a.n_kept, 0) AS n_kept,
        |       COALESCE(a.n_dropped, 0) AS n_dropped
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    ("x_dedup_cdc",
      // Content-defined chunk census: rolling-hash boundaries (window
      // 4, avg chunk 64 chars) make chunk identity robust to edits —
      // the FastCDC-style primitive fixed spans can't give. The oracle
      // replays positions, rolls, boundaries, and digests in SQL (lag
      // windows over per-char code points; no recursion needed because
      // the classic unbounded form keeps boundaries content-local).
      (s, dir) => Dedup.cdcChunkCensus(Tables.documents(s, dir),
        window = 4, avgSize = 64, minDocs = 2)
        .orderBy("digest"),
      Some(s"""WITH $cdcChunksOracleCtes
        |SELECT digest, MAX(len) AS chunk_len,
        |       COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
        |FROM chunks
        |GROUP BY digest
        |HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY digest""".stripMargin)),

    ("x_dedup_cdc_bounded",
      // The BOUNDED (production) CDC form through the oracle gate:
      // minSize = maxSize = 64 forces a boundary at exactly 64 code
      // points before any hash test can fire, so the sequential
      // boundary set degenerates to a fixed grid — the one bounded
      // configuration a non-recursive oracle can replay exactly. The
      // general min<max path stays spec-pinned (FunctionsKernelSpec
      // "CdcChunks bounds"); this query proves the forcing logic and
      // the census plumbing end-to-end against SQL.
      (s, dir) => Dedup.cdcChunkCensus(Tables.documents(s, dir),
        window = 4, avgSize = 64, minDocs = 2, minSize = 64, maxSize = 64)
        .orderBy("digest"),
      Some("""WITH gl AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0),
        |chunks AS (
        |  SELECT doc_id,
        |         least(64, n - st + 1) AS len,
        |         CAST(concat('0x', substr(md5(substr(text, st, 64)), 1, 15)) AS BIGINT) AS digest
        |  FROM (SELECT doc_id, text, n, unnest(generate_series(1, n, 64)) AS st FROM gl))
        |SELECT digest, MAX(len) AS chunk_len,
        |       COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
        |FROM chunks
        |GROUP BY digest
        |HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY digest""".stripMargin)),

    ("x_dedup_cdc_pairs",
      // The pair face of CDC dedup: documents sharing >= 3 distinct
      // chunk digests, scored by containment (shared / smaller doc's
      // chunk count) — the near-identical-blob detector that catches
      // long shared runs token-shingle Jaccard dilutes away. Posting
      // lists are capped like every candidate generator here.
      (s, dir) => Dedup.cdcContainmentPairs(Tables.documents(s, dir),
        window = 4, avgSize = 64, minShared = 3)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $cdcChunksOracleCtes,
        |dch AS (SELECT DISTINCT doc_id, digest FROM chunks),
        |nch AS (SELECT doc_id, COUNT(*) AS n_chunks FROM dch GROUP BY 1),
        |small AS (
        |  SELECT digest FROM dch GROUP BY digest
        |  HAVING COUNT(*) BETWEEN 2 AND 1000),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_chunks
        |  FROM dch a JOIN dch b ON a.digest = b.digest AND a.doc_id < b.doc_id
        |  JOIN small s ON s.digest = a.digest
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 3)
        |SELECT p.id_a, p.id_b, p.shared_chunks,
        |       round(CAST(p.shared_chunks AS DOUBLE)
        |             / least(na.n_chunks, nb.n_chunks), 4) AS containment
        |FROM pairs p
        |JOIN nch na ON na.doc_id = p.id_a
        |JOIN nch nb ON nb.doc_id = p.id_b
        |ORDER BY id_a, id_b""".stripMargin)),

    ("x_dedup_incremental_bloom",
      // Same semantics as x_dedup_incremental through the Bloom-prefilter
      // path: the filter only ROUTES rows (definitely-new skips the
      // anti-join; maybe-seen is verified by it), so the result is
      // EXACTLY the plain anti-join's and the oracle is IDENTICAL — a
      // probabilistic structure with a deterministic, hash-matched
      // contract. fpp=0.5 on purpose: a sloppy filter routes plenty of
      // rows down BOTH branches at every scale factor, so the equality
      // is exercised, not vacuous.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.incrementalNewBloom(
          docs.filter(col("doc_id") >= 250),
          Dedup.exact(docs.filter(col("doc_id") < 250)).select("digest"),
          expectedDigests = 10000, fpp = 0.5)
          .select("doc_id", "digest")
          .orderBy("doc_id")
      },
      Some("""WITH seen AS (
        |  SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id < 250)
        |SELECT doc_id, md5(text) AS digest
        |FROM documents
        |WHERE doc_id >= 250 AND md5(text) NOT IN (SELECT digest FROM seen)
        |ORDER BY doc_id""".stripMargin)),

    ("x_text_normalize",
      (s, dir) => TextAnalysis.normalize(Tables.documents(s, dir))
        .select("doc_id", "norm_text")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
        |       ' +', ' ', 'g')) AS norm_text
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    ("x_approx_quantiles",
      // Sketch quantiles (GK, bounded rank error 1/accuracy) beside the
      // exact holistic percentile — constant state per group vs. a full
      // sort of each group's values. The sketch ESTIMATE is
      // engine-specific, so the declared output carries the exact
      // percentiles plus booleans asserting the estimate landed inside a
      // 10× rank-error corridor (the estimate must lie between the exact
      // q∓0.01 quantiles) — deterministic on fixed data, so the oracle
      // hash-matches it with literal TRUEs and a violated bound fails
      // the driver check instead of hiding behind "rows-only".
      (s, dir) => Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          expr("approx_percentile(value, 0.5, 1000)").as("ap50"),
          expr("approx_percentile(value, 0.95, 1000)").as("ap95"),
          round(expr("percentile(value, 0.5)"), 4).as("exact_p50"),
          round(expr("percentile(value, 0.95)"), 4).as("exact_p95"),
          expr("percentile(value, 0.49)").as("lo50"),
          expr("percentile(value, 0.51)").as("hi50"),
          expr("percentile(value, 0.94)").as("lo95"),
          expr("percentile(value, 0.96)").as("hi95"))
        .select(col("event_type"), col("exact_p50"), col("exact_p95"),
          col("ap50").between(col("lo50"), col("hi50")).as("p50_within_bound"),
          col("ap95").between(col("lo95"), col("hi95")).as("p95_within_bound"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS exact_p50,
        |  round(quantile_cont(value, 0.95), 4) AS exact_p95,
        |  TRUE AS p50_within_bound,
        |  TRUE AS p95_within_bound
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    ("x_approx_distinct",
      // Approximate distinct (HyperLogLog++) next to the exact count —
      // the sketch the reference lacks but a 100 TB engine needs:
      // constant-size state per group vs. a full distinct shuffle. Same
      // deterministic-bound trick as x_approx_quantiles: the declared
      // output is (exact count, |approx−exact|/exact ≤ 5·rsd), which
      // both engines can hash-match; the tighter 2% rsd behavior is
      // additionally spec-pinned in OperatorsSpec.
      (s, dir) => Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id"), rsd = 0.02).as("au"),
          count_distinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("au") - col("exact_users")).cast("double") / col("exact_users")
            <= lit(0.1)).as("within_bound"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_bound
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    ("x_sketch_kmv",
      // KMV distinct sketch next to the exact count. Unlike HLL++, KMV
      // is deterministic given the hash column (the k smallest of a
      // set are merge-order invariant), so the ESTIMATE hash-matches
      // the oracle value-for-value — no within_bound indirection.
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"), col("user_id"),
          Portable.hash60(col("user_id").cast("string")).as("__h"))
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_users"),
          round(graft.functions.KMinValues(col("__h"), 64), 4).as("kmv_estimate"))
        .orderBy("event_type"),
      Some("""WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (
        |  SELECT event_type, hv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nh
        |  FROM h),
        |est AS (
        |  SELECT event_type,
        |    round(CASE WHEN MAX(nh) < 64 THEN CAST(MAX(nh) AS DOUBLE)
        |          ELSE 63.0 * 1152921504606846976.0
        |               / CAST(MAX(CASE WHEN rn = 64 THEN hv END) AS DOUBLE) END,
        |      4) AS kmv_estimate
        |  FROM r GROUP BY 1),
        |ex AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY 1)
        |SELECT ex.event_type, ex.exact_users, est.kmv_estimate
        |FROM ex JOIN est USING (event_type)
        |ORDER BY event_type""".stripMargin)),

    ("x_sketch_kmv_setops",
      // Sketch ALGEBRA: union / intersection / Jaccard estimates
      // between two segments' audiences from their KMV sketches alone
      // — the cross-segment overlap questions (dedup rate between
      // crawls, audience overlap between cohorts) answered WITHOUT
      // rescanning either side. One aggregate pass builds both k-min
      // arrays (conditional inputs — null-skipped, so one exchange);
      // the algebra is pure codegen'd array functions: union = k
      // smallest of the concatenation, intersection via the Beyer et
      // al. (SIGMOD'07) membership ratio c/k scaled by the union
      // estimate, with k_eff = |union sketch| so the sub-k case
      // degrades to EXACT set arithmetic (pinned tri-scale: sf0.001
      // runs the exact path, sf0.01+ the estimator path). KMV is
      // deterministic given the hash column, so every estimate
      // hash-matches the oracle value-for-value.
      (s, dir) => {
        val k = 32
        val h = Tables.events(s, dir)
          .filter(col("user_id").isNotNull &&
            col("event_type").isin("click", "view"))
          .select(col("event_type"),
            Portable.hash60(col("user_id").cast("string")).as("__h"))
        h.agg(
          graft.functions.KMinSet(
            when(col("event_type") === "click", col("__h")), k).as("__ma"),
          graft.functions.KMinSet(
            when(col("event_type") === "view", col("__h")), k).as("__mb"))
          .withColumn("__mu",
            slice(array_sort(array_distinct(concat(col("__ma"), col("__mb")))),
              1, k))
          .withColumn("__szu", size(col("__mu")))
          .withColumn("__uest",
            when(col("__szu") < k, col("__szu").cast("double"))
              .otherwise(lit((k - 1).toDouble) *
                lit(graft.functions.KMinValues.HashSpace) /
                element_at(col("__mu"), k).cast("double")))
          .withColumn("__c", size(array_intersect(
            array_intersect(col("__mu"), col("__ma")), col("__mb"))))
          .select(
            size(col("__ma")).as("n_a"), size(col("__mb")).as("n_b"),
            round(col("__uest"), 4).as("union_est"),
            round(col("__c").cast("double") / col("__szu") * col("__uest"), 4)
              .as("inter_est"),
            round(col("__c").cast("double") / col("__szu"), 4).as("jaccard_est"))
      },
      Some("""WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL AND event_type IN ('click', 'view')),
        |ma AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
        |       FROM h WHERE event_type = 'click') WHERE rn <= 32),
        |mb AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
        |       FROM h WHERE event_type = 'view') WHERE rn <= 32),
        |mu AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
        |       FROM (SELECT DISTINCT hv
        |             FROM (SELECT hv FROM ma UNION ALL SELECT hv FROM mb)))
        |       WHERE rn <= 32),
        |st AS (SELECT COUNT(*) AS szu, MAX(hv) AS kth FROM mu),
        |cc AS (SELECT COUNT(*) AS c FROM mu
        |       WHERE hv IN (SELECT hv FROM ma) AND hv IN (SELECT hv FROM mb)),
        |sz AS (SELECT (SELECT COUNT(*) FROM ma) AS n_a,
        |              (SELECT COUNT(*) FROM mb) AS n_b),
        |est AS (SELECT CASE WHEN szu < 32 THEN CAST(szu AS DOUBLE)
        |          ELSE 31.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE) END AS uest,
        |          szu FROM st)
        |SELECT n_a, n_b, round(uest, 4) AS union_est,
        |  round(CAST(c AS DOUBLE) / szu * uest, 4) AS inter_est,
        |  round(CAST(c AS DOUBLE) / szu, 4) AS jaccard_est
        |FROM sz, est, cc""".stripMargin)),

    ("x_sketch_kmv_anotb",
      // The difference (A-not-B) leg of the KMV algebra: how many
      // 'view' users never 'purchase' — "how much genuinely NEW data
      // does this crawl/segment bring" — estimated from the sketches
      // alone as |A| − |A∩B|, where |A| is A's own KMV estimate and
      // the intersection rides the same membership-ratio path as
      // x_sketch_kmv_setops. Both terms are deterministic given the
      // hash, so the difference is oracle-checked value-for-value;
      // sub-k degrades to exact set subtraction (sf0.001 pins it).
      (s, dir) => {
        val k = 32
        val h = Tables.events(s, dir)
          .filter(col("user_id").isNotNull &&
            col("event_type").isin("view", "purchase"))
          .select(col("event_type"),
            Portable.hash60(col("user_id").cast("string")).as("__h"))
        h.agg(
          graft.functions.KMinSet(
            when(col("event_type") === "view", col("__h")), k).as("__ma"),
          graft.functions.KMinSet(
            when(col("event_type") === "purchase", col("__h")), k).as("__mb"))
          .withColumn("__sza", size(col("__ma")))
          .withColumn("__aest",
            when(col("__sza") < k, col("__sza").cast("double"))
              .otherwise(lit((k - 1).toDouble) *
                lit(graft.functions.KMinValues.HashSpace) /
                element_at(col("__ma"), k).cast("double")))
          .withColumn("__mu",
            slice(array_sort(array_distinct(concat(col("__ma"), col("__mb")))),
              1, k))
          .withColumn("__szu", size(col("__mu")))
          .withColumn("__uest",
            when(col("__szu") < k, col("__szu").cast("double"))
              .otherwise(lit((k - 1).toDouble) *
                lit(graft.functions.KMinValues.HashSpace) /
                element_at(col("__mu"), k).cast("double")))
          .withColumn("__c", size(array_intersect(
            array_intersect(col("__mu"), col("__ma")), col("__mb"))))
          .withColumn("__iest",
            col("__c").cast("double") / col("__szu") * col("__uest"))
          .select(
            col("__sza").as("n_a"),
            round(col("__aest"), 4).as("a_est"),
            round(col("__iest"), 4).as("inter_est"),
            round(col("__aest") - col("__iest"), 4).as("anotb_est"))
      },
      Some("""WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL AND event_type IN ('view', 'purchase')),
        |ma AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
        |       FROM h WHERE event_type = 'view') WHERE rn <= 32),
        |mb AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
        |       FROM h WHERE event_type = 'purchase') WHERE rn <= 32),
        |mu AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
        |       FROM (SELECT DISTINCT hv
        |             FROM (SELECT hv FROM ma UNION ALL SELECT hv FROM mb)))
        |       WHERE rn <= 32),
        |sa AS (SELECT COUNT(*) AS sza, MAX(hv) AS ktha FROM ma),
        |st AS (SELECT COUNT(*) AS szu, MAX(hv) AS kth FROM mu),
        |cc AS (SELECT COUNT(*) AS c FROM mu
        |       WHERE hv IN (SELECT hv FROM ma) AND hv IN (SELECT hv FROM mb)),
        |ests AS (
        |  SELECT sza,
        |    CASE WHEN sza < 32 THEN CAST(sza AS DOUBLE)
        |      ELSE 31.0 * 1152921504606846976.0 / CAST(ktha AS DOUBLE) END AS aest,
        |    CAST(c AS DOUBLE) / szu *
        |      (CASE WHEN szu < 32 THEN CAST(szu AS DOUBLE)
        |        ELSE 31.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE) END) AS iest
        |  FROM sa, st, cc)
        |SELECT sza AS n_a, round(aest, 4) AS a_est,
        |  round(iest, 4) AS inter_est, round(aest - iest, 4) AS anotb_est
        |FROM ests""".stripMargin)),

    // ----- rounds-3/4 operators, now oracle-declared (r4 verdict #2) -----

    ("x_pii_redact",
      // PII scrubbing over text that deterministically CONTAINS PII: the
      // raw corpus has none, so both engines append a synthetic
      // email/IP/phone derived from doc_id before redacting — the
      // patterns are exercised for real, and the redacted text plus
      // per-class counts hash-match.
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"),
            lit(" contact u"), col("doc_id").cast("string"), lit("@example.org via 10.2."),
            pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 or +33 1404"),
            pmod(col("doc_id"), lit(10)).cast("string"), lit("552")).as("text"))
        TextAnalysis.redactPii(docs).orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.org via 10.2.'
        |      || CAST(doc_id % 256 AS VARCHAR) || '.7 or +33 1404'
        |      || CAST(doc_id % 10 AS VARCHAR) || '552' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'),
        |    '\+[0-9][0-9()\- ]{6,}[0-9]', '[PHONE]', 'g') AS redacted,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip,
        |  len(regexp_extract_all(text, '\+[0-9][0-9()\- ]{6,}[0-9]')) AS n_phone
        |FROM d
        |ORDER BY doc_id""".stripMargin)),

    ("x_pack_sequences",
      // Sequence packing: global token offsets in doc_id order, cut into
      // 2048-token context windows — the distributed prefix sum under a
      // single-partition-window-free plan (Curation scaladoc).
      (s, dir) => {
        // repartition(1): partition sizing for the ~5k-row/2-col token
        // frame (the curate coalesce rationale — the prefix-sum stages
        // should not spawn map tasks over crumbs; repartition beats
        // coalesce here because it keeps the tokenize scan parallel,
        // r15 A/B on the stats twin: 0.247 vs 0.281 vs 0.334). A
        // 100 TB caller keeps the natural partitioning.
        val toks = Tables.documents(s, dir).select(col("doc_id"),
          size(filter(split(col("text"), " "), t => t =!= "")).as("n_tokens"))
          .repartition(1)
        // fixedWidth + no checkpoint (r19, verdict #5): floor(id/64k)
        // bucketing needs no quantile scan and the 2-column token
        // frame is cheap enough to evaluate twice, so the whole
        // packing is ONE action (+ the offsets broadcast build) —
        // interleaved A/B at the swap: 0.158/0.167 min/med vs the
        // checkpoint+quantile form's 0.238/0.265 (OPTIMIZATION_r19.md
        // §5). Width is
        // priority-domain knowledge (dense doc ids), not scale tuning:
        // buckets stay ≤64k docs at every corpus size while the
        // bucket COUNT grows with the data.
        Curation.packSequences(toks, "doc_id", "n_tokens", packTokens = 2048L,
            materialize = Some(false), fixedWidth = 65536.0)
          .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
            col("token_start"), col("pack_id"), col("pack_offset"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_start
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, token_start,
        |  token_start // 2048 AS pack_id,
        |  token_start % 2048 AS pack_offset
        |FROM r
        |ORDER BY doc_id""".stripMargin)),

    ("x_pack_stats",
      // Per-pack composition audit of the packing above: docs
      // contributing to each 2048-token window, how many sit entirely
      // inside it, and the token fill — the loader-side sanity check
      // (fill = 2048 everywhere but the final window; boundary-crossing
      // docs are the loss-masking special case).
      (s, dir) => {
        // repartition(1): see x_pack_sequences — r15 A/B here read
        // 0.247 (repartition) vs 0.281 (coalesce) vs 0.334 (none).
        val toks = Tables.documents(s, dir).select(col("doc_id"),
          size(filter(split(col("text"), " "), t => t =!= "")).as("n_tokens"))
          .repartition(1)
        // fixedWidth KILLS the quantile job (r19, verdict #5) while
        // materialize=Some(true) KEEPS the checkpoint: unlike the
        // sequences twin, the stats audit re-consumes the prefix sum
        // through an explode+aggregate tail, and the r14
        // pruning-diverges-the-branches finding still bites — the
        // 3-way interleaved A/B read width+ckpt 0.272/0.316 min/med
        // vs width-no-ckpt 0.303/0.368 vs the old quantile+ckpt form
        // 0.307/0.388 (OPTIMIZATION_r19.md §5).
        // Jobs 4 → 3: the checkpoint, the offsets broadcast build,
        // and the serve.
        Curation.packStats(toks, "doc_id", "n_tokens", packTokens = 2048L,
            materialize = Some(true), fixedWidth = 65536.0)
          .orderBy("pack_id")
      },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_start
        |  FROM t WHERE n_tokens > 0),
        |spans AS (
        |  SELECT token_start, n_tokens,
        |    token_start // 2048 AS p0,
        |    (token_start + n_tokens - 1) // 2048 AS p1,
        |    unnest(generate_series(token_start // 2048,
        |                           (token_start + n_tokens - 1) // 2048)) AS pack_id
        |  FROM r)
        |SELECT CAST(pack_id AS BIGINT) AS pack_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN p0 = p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_full_docs,
        |  CAST(SUM(least((pack_id + 1) * 2048, token_start + n_tokens)
        |      - greatest(pack_id * 2048, token_start)) AS BIGINT) AS n_tokens
        |FROM spans
        |GROUP BY pack_id
        |ORDER BY pack_id""".stripMargin)),

    ("x_mix_proportions",
      // Mixture re-weighting: down-sample the corpus toward a 50/30/20
      // en/de/zh language mix (es/fr dropped) via the deterministic
      // fractional hash bucket; rates are derived from per-stratum
      // counts, so the oracle re-derives them relationally.
      (s, dir) => Sampling.mixToProportions(Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.3, "zh" -> 0.2))
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some("""WITH counts AS (
        |  SELECT lang AS s, COUNT(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang),
        |t(s, tgt) AS (VALUES ('en', 0.5), ('de', 0.3), ('zh', 0.2)),
        |kk AS (SELECT MIN(n / tgt) AS k FROM counts JOIN t USING (s)),
        |rates AS (
        |  SELECT s, least(1.0, kk.k * tgt / n) AS rate
        |  FROM counts JOIN t USING (s), kk)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN rates r ON r.s = d.lang
        |WHERE (CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |       % 10000) / 10000.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin)),

    ("x_semantic_winners",
      // SemDeDup composition: embedding near-dup pairs (blocked by
      // label) → connected components → one keeper per semantic cluster
      // by (score desc, id); singletons always keep. Scores join in from
      // the documents table (doc length as the quality proxy).
      (s, dir) => {
        val scores = Tables.documents(s, dir)
          .select(col("doc_id").as("vec_id"), col("n_chars").cast("double").as("score"))
        Dedup.semanticWinners(Tables.embeddings(s, dir), scores, threshold = 0.35)
          .orderBy("vec_id")
      },
      Some("""WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |      / NULLIF(sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |         * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0) >= 0.35),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
        |comp AS (SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id),
        |labeled AS (
        |  SELECT e.vec_id AS id, COALESCE(c.cluster, e.vec_id) AS cluster
        |  FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id),
        |scored AS (
        |  SELECT l.id, l.cluster, CAST(d.n_chars AS DOUBLE) AS score
        |  FROM labeled l JOIN documents d ON d.doc_id = l.id)
        |SELECT id AS vec_id, cluster, score,
        |  CASE WHEN row_number() OVER (PARTITION BY cluster
        |                               ORDER BY score DESC, id) = 1
        |       THEN 1 ELSE 0 END AS keep
        |FROM scored
        |ORDER BY vec_id""".stripMargin)),

    ("x_json_fields",
      // Semi-structured promotion: the event `props` JSON sidecar parsed
      // once, scalar field extracted to a typed column — pure codegen'd
      // projection.
      (s, dir) => SemiStructured.extractJsonFields(
        Tables.events(s, dir).select("event_id", "props"), "props",
        Seq(("k", "$.k", "int")))
        .select("event_id", "k")
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events
        |ORDER BY event_id""".stripMargin)),

    ("x_json_variant",
      // The Spark-4-native VARIANT path for the same promotion:
      // parse_json → binary variant encoding (the storage form) →
      // variant_get typed extraction. Same answer as x_json_fields by
      // construction — the query pins that the variant path changes
      // the encoding, never the values.
      (s, dir) => SemiStructured.extractVariantFields(
        Tables.events(s, dir).select("event_id", "props"), "props",
        Seq(("k", "$.k", "int")))
        .select("event_id", "k")
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events
        |ORDER BY event_id""".stripMargin)),

    ("x_hybrid_rrf",
      // Hybrid retrieval: dense cosine top-20
      // (embeddings) and lexical related-doc BM25 top-20 (documents —
      // vec_id ≡ doc_id in this corpus) fused by reciprocal-rank
      // fusion, top-10 out. The lexical leg scores from the MEMOIZED
      // bm25 index (the build-once contract of builtIvfIndex); the
      // fusion needs no score calibration between legs; each RRF term
      // is one IEEE division of small ints, so the whole merge
      // hash-matches.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val dense = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 20)
        val (bmTf, bmStats) = builtBm25Index(s, dir)
        val lex = TextAnalysis.bm25RelatedTopKFrom(
          bmTf, queryIds = (0L to 7L), k = 20, statsOpt = Some(bmStats))
        Similarity.rrfFuse(dense, lex, k = 10).orderBy("query_id", "rank")
      },
      Some("""WITH dense AS (
        |  SELECT query_id, cand_id, rank FROM (
        |    SELECT query_id, cand_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
        |    FROM (
        |      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |        round(list_inner_product(q.e, c.e) / NULLIF(sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 8) q,
        |           (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) c
        |      WHERE q.vec_id <> c.vec_id))
        |  WHERE rank <= 20),
        |tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfv AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |qt AS (SELECT doc_id AS query_id, tok FROM tf WHERE doc_id < 8),
        |contrib AS (
        |  SELECT qt.query_id, tf.doc_id AS cand_id,
        |    round(round(ln((stats.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1.0), 8)
        |          * tf.tf * 2.2
        |          / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)), 8) AS c
        |  FROM qt JOIN tf USING (tok) JOIN dfv USING (tok)
        |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
        |  WHERE tf.doc_id <> qt.query_id),
        |lexscore AS (
        |  SELECT query_id, cand_id,
        |    CAST(round(SUM(CAST(c AS DECIMAL(28,10))), 6) AS DOUBLE) AS bm25
        |  FROM contrib GROUP BY 1, 2),
        |lex AS (
        |  SELECT query_id, cand_id, rank FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, cand_id) AS rank
        |    FROM lexscore)
        |  WHERE rank <= 20),
        |fused AS (
        |  SELECT COALESCE(d.query_id, l.query_id) AS query_id,
        |         COALESCE(d.cand_id, l.cand_id) AS cand_id,
        |         d.rank AS rank_a, l.rank AS rank_b,
        |         round(COALESCE(1.0 / (60 + d.rank), 0.0)
        |             + COALESCE(1.0 / (60 + l.rank), 0.0), 8) AS rrf
        |  FROM dense d FULL JOIN lex l
        |    ON d.query_id = l.query_id AND d.cand_id = l.cand_id)
        |SELECT query_id, cand_id, rank_a, rank_b, rrf, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, cand_id) AS rank
        |  FROM fused)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin)),

    ("x_ann_ndcg",
      // NDCG@5 of the IVF cell-restricted ranking against the exact
      // cosine top-5 — rank-AWARE retrieval quality (recall treats a
      // hit at rank 1 and rank 5 alike; NDCG discounts by position).
      // Discount terms round 8dp before an exact decimal sum (log2 ulps
      // across engines), final ratio one double division at 6dp.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") < 8)
        Similarity.ndcgAtK(
          Similarity.ivfTopK(emb, q, k = 5),
          Similarity.bruteForceTopK(emb, q, k = 5), k = 5)
          .orderBy("query_id")
      },
      Some("""WITH approx AS (
        |  SELECT query_id, cand_id, rank FROM (
        |    SELECT query_id, cand_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
        |    FROM (
        |      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |        round(list_inner_product(q.e, c.e) / NULLIF(sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |      FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 8) q
        |      JOIN (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) c
        |        ON q.label = c.label AND q.vec_id <> c.vec_id))
        |  WHERE rank <= 5),
        |exact AS (
        |  SELECT query_id, cand_id, rank FROM (
        |    SELECT query_id, cand_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
        |    FROM (
        |      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |        round(list_inner_product(q.e, c.e) / NULLIF(sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e)), 0), 4) AS score
        |      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 8) q,
        |           (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) c
        |      WHERE q.vec_id <> c.vec_id))
        |  WHERE rank <= 5),
        |dcg AS (
        |  SELECT a.query_id,
        |    SUM(CASE WHEN e.cand_id IS NOT NULL
        |      THEN CAST(round(1.0 / log2(a.rank + 1.0), 8) AS DECIMAL(18,10))
        |      ELSE CAST(0 AS DECIMAL(18,10)) END) AS dcg
        |  FROM approx a LEFT JOIN exact e
        |    ON e.query_id = a.query_id AND e.cand_id = a.cand_id
        |  GROUP BY 1),
        |idcg AS (
        |  SELECT query_id,
        |    SUM(CAST(round(1.0 / log2(rank + 1.0), 8) AS DECIMAL(18,10))) AS idcg,
        |    COUNT(*) AS truth_k
        |  FROM exact GROUP BY 1)
        |SELECT i.query_id, i.truth_k,
        |  round(CAST(COALESCE(d.dcg, 0) AS DOUBLE) / CAST(i.idcg AS DOUBLE), 6) AS ndcg
        |FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
        |ORDER BY i.query_id""".stripMargin)),

    ("x_dedup_ppjoin",
      // PPJoin prefix-filtered EXACT set-similarity join: all 5-gram-set
      // Jaccard >= 0.5 pairs, deterministically — the oracle computes the
      // FULL all-pairs answer with no prefix logic, so a hash match
      // proves the filter loses nothing (the exactness theorem, checked
      // per-value). Complement to the probabilistic MinHash/LSH family.
      // 5-gram sets (vs the bigram LSH family) are the near-identical-doc
      // grain where exact Jaccard earns its cost. ONE-SHOT build+join:
      // set preparation, prefix indexing, pair-gen, and verify all
      // inside the timed query — the r13 protocol, restored in r15 so
      // the cross-round timeline for this name compares equal work.
      // The stored-index serving path is its own query,
      // `x_dedup_ppjoin_stored` (same oracle).
      (s, dir) => Dedup.ppJoinPairs(Tables.documents(s, dir), n = 5, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(fullPpjoinOracleSql)),

    ("x_dedup_ppjoin_stored",
      // The SERVING face of the same exact-Jaccard self-join: pair-gen
      // + verify from the PERSISTED full-table prefix index (df table,
      // posting lists, rarity-keyed sets — parquet round-tripped once
      // per epoch; the build is the bench's untimed
      // `ppjoin_index_full_stored` line). Same oracle as the one-shot
      // `x_dedup_ppjoin`, so a hash match proves the storage layer
      // loses nothing on top of the filter-chain exactness theorem —
      // the build-once/serve-many contract the PpJoinIndex scaladoc
      // prescribes, mirroring the LSH leg's `x_dedup_index_stored`.
      (s, dir) => {
        val (idx, postingLists) = storedFullPpJoinIndex(s, dir)
        Dedup.ppJoinPairsFromIndex(idx, Some(postingLists))
          .orderBy("id_a", "id_b")
      },
      Some(fullPpjoinOracleSql)),

    ("x_dedup_incremental_ppjoin",
      // Incremental EXACT near-dup: which incoming docs (doc_id % 5 =
      // 0, the batch) have exact 5-gram-set Jaccard >= 0.5 against the
      // already-ingested corpus (the other 80%) — the deterministic
      // leg of the incremental family (exact digests: byte-identical;
      // LSH banding: probabilistic; this: exact similarity, no recall
      // knob). The screen runs against the PERSISTED per-epoch prefix
      // index (dfTable + posting rows + rarity-keyed sets, parquet
      // round-tripped once per (session, dir)) — the build-once /
      // screen-many contract the PpJoinIndex scaladoc prescribes, and
      // the LSH leg's x_dedup_index_stored shape. O(batch +
      // collisions): the corpus is touched only through its stored
      // index tables. The oracle computes the FULL batch x corpus
      // answer with no prefix logic, so a hash match proves the
      // cross-set filter chain AND the storage layer lose nothing.
      // (The one-shot build+screen path, Dedup.incrementalPpJoin, is
      // spec-pinned against the brute-force cross join.)
      (s, dir) => {
        val batch = Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(5)) === 0)
        Dedup.ppJoinAgainst(batch, storedPpJoinIndex(s, dir))
          .orderBy("new_id", "seen_id")
      },
      Some(incrementalPpjoinOracleSql)),

    ("x_graph_pagerank",
      // Fixed-point PageRank (3 iterations, d = 0.85) over the
      // symmetrized customer<->supplier trade graph. Every iteration
      // quantity is LONG micro-units with truncating division, so the
      // whole chain is bit-portable — the oracle replays all three
      // iterations in integer SQL and the rank_units column hash-matches
      // exactly, no float tolerance anywhere.
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val cs = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .select(col("o_custkey").as("c"), (col("l_suppkey") + lit(1000000L)).as("sup"))
          .distinct()
        val edges = cs.select(col("c").as("src"), col("sup").as("dst"))
          .union(cs.select(col("sup").as("src"), col("c").as("dst")))
        // the symmetric union of a distinct frame over disjoint id
        // ranges is distinct by shape — skip the defensive dedup
        Graph.pageRank(edges, iters = 3, assumeDistinct = true).orderBy("id")
      },
      Some("""WITH cs AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS sup
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, sup AS dst FROM cs
        |      UNION SELECT sup AS src, c AS dst FROM cs),
        |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
        |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT id, 1000000000000 // n AS ru FROM nodes CROSS JOIN nn),
        |m1 AS (SELECT e.dst AS id, SUM(r0.ru // deg.outdeg) AS m
        |       FROM e JOIN deg USING (src) JOIN r0 ON r0.id = e.src GROUP BY 1),
        |r1 AS (SELECT nodes.id,
        |         (15 * 1000000000000) // (100 * n) + (85 * COALESCE(m, 0)) // 100 AS ru
        |       FROM nodes CROSS JOIN nn LEFT JOIN m1 ON m1.id = nodes.id),
        |m2 AS (SELECT e.dst AS id, SUM(r1.ru // deg.outdeg) AS m
        |       FROM e JOIN deg USING (src) JOIN r1 ON r1.id = e.src GROUP BY 1),
        |r2 AS (SELECT nodes.id,
        |         (15 * 1000000000000) // (100 * n) + (85 * COALESCE(m, 0)) // 100 AS ru
        |       FROM nodes CROSS JOIN nn LEFT JOIN m2 ON m2.id = nodes.id),
        |m3 AS (SELECT e.dst AS id, SUM(r2.ru // deg.outdeg) AS m
        |       FROM e JOIN deg USING (src) JOIN r2 ON r2.id = e.src GROUP BY 1),
        |r3 AS (SELECT nodes.id,
        |         (15 * 1000000000000) // (100 * n) + (85 * COALESCE(m, 0)) // 100 AS ru
        |       FROM nodes CROSS JOIN nn LEFT JOIN m3 ON m3.id = nodes.id)
        |SELECT id, CAST(ru AS BIGINT) AS rank_units,
        |  round(CAST(ru AS DOUBLE) / 1000000000000.0, 12) AS rank
        |FROM r3 ORDER BY id""".stripMargin)),

    ("x_graph_triangles",
      // Per-vertex triangle counts over the repeat co-purchase graph
      // (parts appearing together in >= 2 orders): degree-ordered
      // orientation bounds the wedge join at O(m^1.5). The clique
      // structure of a co-occurrence graph is the signal the pairwise
      // edge list can't show.
      (s, dir) => Graph.triangleCounts(copurchaseEdges(s, dir)).orderBy("id"),
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |edges AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (SELECT id, COUNT(*) AS deg FROM (
        |    SELECT a AS id FROM edges UNION ALL SELECT b AS id FROM edges)
        |  GROUP BY 1),
        |oriented AS (
        |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |              THEN e.a ELSE e.b END AS u,
        |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |              THEN e.b ELSE e.a END AS v
        |  FROM edges e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b),
        |wedges AS (
        |  SELECT w1.u, w1.v AS x, w2.v AS y
        |  FROM oriented w1 JOIN oriented w2 ON w1.u = w2.u AND w1.v < w2.v),
        |tris AS (
        |  SELECT w.u, w.x, w.y FROM wedges w
        |  WHERE EXISTS (SELECT 1 FROM oriented o
        |    WHERE least(o.u, o.v) = w.x AND greatest(o.u, o.v) = w.y)),
        |pv AS (
        |  SELECT id, COUNT(*) AS triangles FROM (
        |    SELECT u AS id FROM tris UNION ALL SELECT x FROM tris UNION ALL SELECT y FROM tris)
        |  GROUP BY 1)
        |SELECT deg.id, COALESCE(pv.triangles, 0) AS triangles
        |FROM deg LEFT JOIN pv ON pv.id = deg.id
        |ORDER BY deg.id""".stripMargin)),

    ("x_graph_kcore",
      // 2-core of the repeat co-purchase graph: iterative low-degree
      // peeling until fixpoint (the operator throws past maxRounds, so
      // the 8-round unrolled oracle is exact by construction — sf0.1
      // converges in 6 rounds, sf0.01 in 4).
      (s, dir) => Graph.kCore(copurchaseEdges(s, dir), k = 2, maxRounds = 8)
        .orderBy("id"),
      Some(kCoreOracleSql(k = 2, rounds = 8))),

    ("ts_trend",
      // Per-user OLS drift over the event stream: slope per day +
      // intercept from exact decimal moments (n, Σx, Σy, Σxy, Σx²) — the
      // one-aggregate-pass trend summary. Only the closed-form division
      // runs in double; the moments are accumulation-order-exact, so the
      // statistic hash-matches across engines.
      (s, dir) => TimeSeriesOps.trend(
        Tables.events(s, dir).select("user_id", "ts", "value"),
        originTs = ts("2024-01-01T00:00:00Z"))
        .orderBy("user_id"),
      Some("""WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |xe AS (
        |  SELECT user_id, value,
        |    date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts) // 1000000 AS x
        |  FROM e),
        |m AS (
        |  SELECT user_id, COUNT(*) AS n,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sy,
        |    SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,6))) AS sxy,
        |    SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxx
        |  FROM xe GROUP BY 1),
        |d AS (
        |  SELECT user_id, n,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS det,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
        |  FROM m)
        |SELECT user_id, n,
        |  CASE WHEN n > 1 AND det <> 0 THEN round(num / det * 86400.0, 8) END AS slope_per_day,
        |  CASE WHEN n > 1 AND det <> 0 THEN round((syd - num / det * sxd) / n, 8) END AS intercept
        |FROM d ORDER BY user_id""".stripMargin)),

    ("ts_cusum",
      // CUSUM drift flagging per user: exact-decimal running sum of
      // deviations from the user's own 6dp mean, |S| > 250 flags. The
      // whole statistic is order-immune decimal arithmetic — only the
      // final readout casts to double.
      (s, dir) => TimeSeriesOps.cusum(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "value"),
        threshold = 250.0)
        .withColumn("drifted", col("drifted").cast("int"))
        .orderBy("user_id", "ts", "event_id"),
      Some("""WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM events),
        |mn AS (
        |  SELECT user_id,
        |    CAST(round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
        |      AS DECIMAL(18,6)) AS m
        |  FROM e GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, e.ts, e.event_id, e.value,
        |    CAST(SUM(CAST(CAST(e.value AS DECIMAL(18,6)) - mn.m AS DECIMAL(28,6)))
        |      OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id
        |            ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,6)) AS cs
        |  FROM e JOIN mn USING (user_id))
        |SELECT user_id, ts, event_id, value,
        |  CAST(cs AS DOUBLE) AS cusum,
        |  CAST(abs(cs) > 250.0 AS INT) AS drifted
        |FROM c ORDER BY user_id, ts, event_id""".stripMargin)),

    ("x_ts_holt",
      // Holt double-exponential smoothing per user (alpha=0.5,
      // beta=0.25 — dyadic, so 1-beta hand-inlined as 0.75 in SQL is
      // the kernel's exact double): final (level, trend) + one-step
      // forecast of the recursive fold over the (ts, event_id)-ordered
      // series. The oracle spells the SAME fold as a per-step
      // recursive CTE — the form a SQL engine is forced into because
      // each step feeds the next — while the Spark plan is one
      // exchange + a compiled per-series kernel; bit-identical doubles
      // prove the kernel IS the recurrence, not an approximation.
      // value IS NOT NULL on BOTH sides: the operator keeps an
      // all-null series as a (key, null, null, null) row (null-skip
      // semantics), but the oracle's pre-filter drops that key's rows
      // entirely — filtering here keeps the two result SETS aligned
      (s, dir) => TimeSeriesOps.holtLinear(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "value")
          .filter(col("value").isNotNull),
        alpha = 0.5, beta = 0.25)
        .select(col("user_id"), round(col("level"), 6).as("level"),
          round(col("trend"), 6).as("trend"),
          round(col("forecast"), 6).as("forecast"))
        .orderBy("user_id"),
      Some("""WITH RECURSIVE v AS (
        |  SELECT user_id, CAST(value AS DOUBLE) AS value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT user_id, i, n, value AS level, CAST(0 AS DOUBLE) AS trend
        |  FROM v WHERE i = 1
        |  UNION ALL
        |  SELECT v.user_id, v.i, r.n,
        |    0.5 * v.value + 0.5 * (r.level + r.trend) AS level,
        |    0.25 * ((0.5 * v.value + 0.5 * (r.level + r.trend)) - r.level)
        |      + 0.75 * r.trend AS trend
        |  FROM r JOIN v ON v.user_id = r.user_id AND v.i = r.i + 1)
        |SELECT user_id, round(level, 6) AS level, round(trend, 6) AS trend,
        |  round(level + trend, 6) AS forecast
        |FROM r WHERE i = n ORDER BY user_id""".stripMargin)),

    ("x_ts_lttb",
      // LTTB display-grade downsampling: 12 shape-preserving points
      // per user series (Steinarsson 2013). Like x_ts_holt, the greedy
      // selection recursion has no SQL window form — the oracle
      // unrolls one (bucket-average, argmax) CTE pair per bucket —
      // while the Spark plan is one exchange + a compiled per-series
      // kernel pass + explode. Exact-integer geometry (epoch-µs x,
      // 6dp micro-unit y, Long bucket sums) makes the argmax
      // bit-identical across engines.
      (s, dir) => TimeSeriesOps.lttb(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "value"),
        k = 12)
        .orderBy("user_id", "ts_us", "event_id"),
      Some(lttbOracleSql)),

    ("rel_histogram",
      // Equi-width histogram of extended price (5000-wide bins): the
      // profile-report primitive. Bin arithmetic is one shared IEEE
      // double division + floor on both engines; mass sums ride DECIMAL.
      (s, dir) => Tables.lineitem(s, dir)
        .select(
          least(floor(col("l_extendedprice") / 5000.0), lit(23)).cast("int").as("bucket"),
          col("l_extendedprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("bucket"),
      Some("""SELECT CAST(least(floor(l_extendedprice / 5000.0), 23) AS INT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    ("x_json_keys",
      // Schema-discovery pass: top-level key frequency across the JSON
      // sidecar — decides which fields to promote to typed columns.
      (s, dir) => SemiStructured.jsonKeyProfile(Tables.events(s, dir), "props")
        .orderBy("key"),
      Some("""SELECT k AS key, COUNT(*) AS freq FROM (
        |  SELECT unnest(json_keys(props)) AS k FROM events)
        |GROUP BY k
        |ORDER BY key""".stripMargin)),

    ("x_text_nb",
      // Multinomial Naive Bayes domain classifier, trained on the
      // corpus's own source labels and scoring every doc — the
      // quality/domain-classifier step of an LLM data pipeline. The
      // sparse-model score decomposition (present (token, class) pairs
      // + per-class base constant) is replayed term-for-term in SQL;
      // every log is 8dp-rounded and sums ride DECIMAL, so predictions
      // AND winning scores hash-match.
      (s, dir) => TextAnalysis.nbClassify(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Some("""WITH ft AS (
        |  SELECT doc_id, source AS c,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |lab AS (SELECT doc_id, c FROM ft),
        |tok AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) AS w
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g),
        |tf AS (SELECT doc_id, w, COUNT(*) AS m FROM tok GROUP BY 1, 2),
        |pair AS (
        |  SELECT l.c, t.w, SUM(t.m) AS cnt
        |  FROM tf t JOIN lab l USING (doc_id) GROUP BY 1, 2),
        |ctok AS (SELECT c, SUM(cnt) AS nc FROM pair GROUP BY 1),
        |cdoc AS (SELECT c, COUNT(*) AS dc FROM lab GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w) AS vocab FROM pair),
        |n AS (SELECT COUNT(*) AS total FROM lab),
        |cls AS (
        |  -- LEFT JOIN + COALESCE: a class whose documents are all
        |  -- token-free has no ctok row but is still scored by the
        |  -- engine's model (vocabAndTotals.getOrElse(c, 0L)), so the
        |  -- oracle must keep it with nc = 0 too.
        |  SELECT c, round(ln(CAST(dc AS DOUBLE) / total), 8) AS prior,
        |         COALESCE(nc, 0) AS nc,
        |         round(ln(0.5 / (COALESCE(nc, 0) + 0.5 * vocab)), 8) AS base
        |  FROM cdoc LEFT JOIN ctok USING (c) CROSS JOIN v CROSS JOIN n),
        |delta AS (
        |  SELECT p.w, p.c,
        |         round(ln((p.cnt + 0.5) / (cl.nc + 0.5 * v.vocab)), 8) - cl.base AS delta
        |  FROM pair p JOIN cls cl USING (c) CROSS JOIN v),
        |part AS (
        |  SELECT t.doc_id, d.c, SUM(CAST(t.m * d.delta AS DECIMAL(28,10))) AS part
        |  FROM tf t JOIN delta d USING (w) GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, SUM(m) AS nd FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT l.doc_id, l.c AS label, cl.c AS cc,
        |         CAST(round(COALESCE(part.part, 0)
        |               + CAST(cl.prior AS DECIMAL(28,10))
        |               + CAST(COALESCE(dlen.nd, 0) * cl.base AS DECIMAL(28,10)),
        |               6) AS DOUBLE) AS score
        |  FROM lab l CROSS JOIN cls cl
        |  LEFT JOIN dlen ON dlen.doc_id = l.doc_id
        |  LEFT JOIN part ON part.doc_id = l.doc_id AND part.c = cl.c),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY score DESC, cc) AS rn
        |  FROM scored)
        |SELECT doc_id, label, cc AS predicted, cc = label AS correct, score
        |FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin)),

    ("x_lsh_plan",
      // MinHash-LSH parameter planning table for a 16-hash signature:
      // every (bands, rows) split's S-curve threshold and collision
      // probabilities at the similarity grid — the numbers banding is
      // chosen from, emitted through the engine so the plan itself is
      // oracle-checked (8dp rounds absorb libm ulps, the pow policy).
      (s, dir) => Dedup.lshPlan(s, numHashes = 16).orderBy("bands"),
      Some("""WITH splits(bands, rows_per_band) AS (
        |  VALUES (1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
        |SELECT bands, rows_per_band,
        |  round(pow(1.0 / bands, 1.0 / rows_per_band), 8) AS s_star,
        |  round(1.0 - pow(1.0 - pow(0.3, rows_per_band), bands), 8) AS p_at_03,
        |  round(1.0 - pow(1.0 - pow(0.5, rows_per_band), bands), 8) AS p_at_05,
        |  round(1.0 - pow(1.0 - pow(0.7, rows_per_band), bands), 8) AS p_at_07,
        |  round(1.0 - pow(1.0 - pow(0.9, rows_per_band), bands), 8) AS p_at_09
        |FROM splits
        |ORDER BY bands""".stripMargin)),

    ("x_quality_calibrated",
      // Cross-language score calibration: each doc's quality mapped to
      // its percent-rank WITHIN its language — the fix for gates that
      // would otherwise apply different bars per language. Composes
      // the quality profile with the stratum quantile normalizer.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val q = TextAnalysis.quality(docs)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        Curation.quantileNormalize(q, "lang", "quality")
          .select("doc_id", "lang", "quality", "calibrated")
          .orderBy("doc_id")
      },
      Some("""WITH base AS (
        |  SELECT doc_id, lang,
        |    length(text) AS n_chars,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS n_stop,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN n_tokens = 0 OR n_chars = 0 THEN 0.0 ELSE round(
        |      least(1.0, CAST(n_tokens AS DOUBLE) / 64)
        |        * (1.0 - CAST(n_digits AS DOUBLE) / n_chars)
        |        * (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.05
        |                  AND CAST(n_stop AS DOUBLE) / n_tokens < 0.6
        |                THEN 1.0 ELSE 0.5 END), 4) END AS quality
        |  FROM base)
        |SELECT doc_id, lang, quality,
        |  round(percent_rank() OVER (PARTITION BY lang ORDER BY quality), 6)
        |    AS calibrated
        |FROM q
        |ORDER BY doc_id""".stripMargin)),

    ("x_text_ctfidf",
      // Class-based TF-IDF (BERTopic's c-TF-IDF): the top-10 terms
      // CHARACTERIZING each source — the dataset-card "what is this
      // source about" report / topic-labeling step. Groups are the
      // documents; no doc-sized frame survives the first aggregate.
      (s, dir) => TextAnalysis.classTfIdf(Tables.documents(s, dir), "source", topK = 10)
        .orderBy("group", "rank"),
      Some("""WITH terms AS (
        |  SELECT source AS "group",
        |         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents WHERE source IS NOT NULL),
        |tf AS (SELECT "group", token, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |gdf AS (SELECT token, COUNT(*) AS groups_with FROM tf GROUP BY 1),
        |ng AS (SELECT COUNT(DISTINCT source) AS n FROM documents
        |       WHERE source IS NOT NULL),
        |scored AS (
        |  SELECT t."group", t.token, t.tf, g.groups_with,
        |         round(t.tf * (ln((ng.n + 1.0) / (g.groups_with + 1.0)) + 1.0), 6)
        |           AS ctfidf
        |  FROM tf t JOIN gdf g USING (token) CROSS JOIN ng),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY "group"
        |                               ORDER BY ctfidf DESC, token) AS rank
        |  FROM scored)
        |SELECT "group", token, tf, groups_with, ctfidf, rank
        |FROM ranked WHERE rank <= 10
        |ORDER BY "group", rank""".stripMargin)),

    ("x_graph_cc",
      // Connected components in O(log n) rounds (alternating large-star
      // / small-star contraction) over the SAME near-dup pair graph as
      // x_dedup_clusters, against the SAME recursive-CTE oracle: a hash
      // match proves the diameter-independent algorithm, the min-label
      // propagation one, and the relational reachability truth all
      // agree row-for-row.
      (s, dir) => Graph.connectedComponents(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 2, threshold = 0.2, maxDf = 50))
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $jaccardPairsCte,
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b)
        |SELECT id AS doc_id, MIN(lab) AS cluster
        |FROM reach GROUP BY id
        |ORDER BY doc_id""".stripMargin)),

    ("x_dsir_weights",
      // DSIR importance weights: every doc scored by its mean hashed-
      // unigram log-likelihood ratio against a target seed set
      // (source = 'src1'), plus the selection the weights exist for —
      // the top-100 non-target docs by ratio. The full two-LM chain
      // (counts, 8dp logs, decimal sums, 6dp means) and the ranked
      // selection replay in SQL and hash-match.
      (s, dir) => {
        val w = TextAnalysis.importanceWeights(
          Tables.documents(s, dir), col("source") === "src1")
        // top-100 via orderBy+limit → TakeOrderedAndProject (distributed
        // top-k, no global-window single-partition sort)
        val sel = w.filter(!col("is_target") && col("log_ratio").isNotNull)
          .orderBy(col("log_ratio").desc, col("doc_id"))
          .limit(100).select(col("doc_id").as("__sel_id"))
        w.join(sel, col("doc_id") === col("__sel_id"), "left")
          .select(col("doc_id"), col("is_target"), col("n_tokens"),
            col("log_ratio"), col("__sel_id").isNotNull.as("selected"))
          .orderBy("doc_id")
      },
      Some("""WITH ft AS (
        |  SELECT doc_id, source = 'src1' AS is_target,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |flags AS (SELECT doc_id, is_target FROM ft),
        |tok AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) AS w
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g),
        |tf AS (SELECT doc_id, w, COUNT(*) AS m FROM tok GROUP BY 1, 2),
        |src AS (SELECT w, SUM(m) AS cs FROM tf GROUP BY 1),
        |tgt AS (
        |  SELECT w, SUM(m) AS ct FROM tf JOIN flags USING (doc_id)
        |  WHERE is_target GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT SUM(cs) FROM src) AS ns,
        |         (SELECT COUNT(*) FROM src) AS v,
        |         (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt),
        |terms AS (
        |  SELECT s.w,
        |         round(ln((COALESCE(tg.ct, 0) + 0.5) / (tot.nt + 0.5 * tot.v)), 8)
        |         - round(ln((s.cs + 0.5) / (tot.ns + 0.5 * tot.v)), 8) AS term
        |  FROM src s CROSS JOIN tot LEFT JOIN tgt tg ON tg.w = s.w),
        |per AS (
        |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
        |         round(CAST(SUM(CAST(m * term AS DECIMAL(28,10))) AS DOUBLE)
        |               / SUM(m), 6) AS log_ratio
        |  FROM tf JOIN terms USING (w) GROUP BY 1),
        |base AS (
        |  SELECT f.doc_id, f.is_target, COALESCE(per.n_tokens, 0) AS n_tokens,
        |         per.log_ratio
        |  FROM flags f LEFT JOIN per ON per.doc_id = f.doc_id),
        |sel AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY log_ratio DESC, doc_id) AS r
        |    FROM base WHERE NOT is_target AND log_ratio IS NOT NULL)
        |  WHERE r <= 100)
        |SELECT b.doc_id, b.is_target, b.n_tokens, b.log_ratio,
        |       s.doc_id IS NOT NULL AS selected
        |FROM base b LEFT JOIN sel s ON s.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin)),

    ("ts_gaps",
      // Data-completeness audit: every per-user inter-event gap of 12h
      // or more — the feed-SLA report a resample would silently FILL.
      // Gap arithmetic is exact µs subtraction; the lag window is
      // id-tiebroken so equal timestamps stay deterministic.
      (s, dir) => TimeSeriesOps.gapReport(Tables.events(s, dir), minGapSec = 43200L)
        .orderBy("user_id", "gap_end", "gap_start"),
      Some("""WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |l AS (
        |  SELECT user_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
        |  FROM ev)
        |SELECT user_id, p AS gap_start, ts AS gap_end,
        |       CAST(epoch_us(ts) - epoch_us(p) AS DOUBLE) / 1e6 AS gap_sec
        |FROM l
        |WHERE p IS NOT NULL
        |  AND CAST(epoch_us(ts) - epoch_us(p) AS DOUBLE) / 1e6 >= 43200.0
        |ORDER BY user_id, gap_end, gap_start""".stripMargin)),

    ("ts_mad",
      // Robust outlier flags: per-user median/MAD baseline (immune to
      // the outliers it hunts, unlike the moving z-score's mean/std).
      // Exact interpolated medians are 6dp-rounded BEFORE the flag
      // comparison, so every engine compares identical doubles.
      (s, dir) => TimeSeriesOps.madOutliers(Tables.events(s, dir), nMads = 5.0)
        .orderBy("user_id", "ts", "value"),
      Some("""WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |med AS (
        |  SELECT user_id, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM ev GROUP BY 1),
        |wm AS (SELECT e.user_id, e.ts, e.value, m.med
        |       FROM ev e JOIN med m USING (user_id)),
        |mad AS (
        |  SELECT user_id, round(quantile_cont(abs(value - med), 0.5), 6) AS mad
        |  FROM wm GROUP BY 1)
        |SELECT w.user_id, w.ts, w.value, w.med, d.mad,
        |       abs(w.value - w.med) > 5.0 * 1.4826 * d.mad AS is_outlier
        |FROM wm w JOIN mad d USING (user_id)
        |ORDER BY user_id, ts, value""".stripMargin)),

    ("x_embed_covariance",
      // Sample covariance of the embedding store (upper triangle,
      // d = 64 → 2080 entries): the one-pass statistic under PCA
      // whitening and Mahalanobis OOD scoring. Partial hash aggregation
      // bounds the shuffle at partitions × d²/2 sums; means, centered
      // products, and the /(n−1) all follow the engine's exact
      // arithmetic and replay in SQL value-for-value.
      (s, dir) => Similarity.covarianceMatrix(Tables.embeddings(s, dir), dim = 64)
        .orderBy("j", "k"),
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT COUNT(*) AS cnt FROM e),
        |dims AS (SELECT unnest(generate_series(1, 64)) AS d),
        |means AS (
        |  SELECT d,
        |         round(CAST(SUM(CAST(v[d] AS DECIMAL(28,12))) AS DOUBLE)
        |               / (SELECT cnt FROM n), 6) AS mu
        |  FROM e CROSS JOIN dims GROUP BY d),
        |pairs AS (
        |  SELECT j.d AS j1, k.d AS k1 FROM dims j JOIN dims k ON k.d >= j.d),
        |prods AS (
        |  SELECT p.j1, p.k1,
        |         CAST((v[p.j1] - mj.mu) * (v[p.k1] - mk.mu) AS DECIMAL(28,12)) AS pr
        |  FROM e CROSS JOIN pairs p
        |  JOIN means mj ON mj.d = p.j1
        |  JOIN means mk ON mk.d = p.k1)
        |SELECT CAST(j1 - 1 AS INT) AS j, CAST(k1 - 1 AS INT) AS k,
        |       round(CAST(SUM(pr) AS DOUBLE) / ((SELECT cnt FROM n) - 1), 8) AS cov
        |FROM prods GROUP BY 1, 2
        |ORDER BY j, k""".stripMargin)),

    ("x_mix_temperature",
      // Temperature-scaled mixture sampling (tau = 0.5 flattening, 200
      // doc budget over the language strata): per-stratum shares
      // n^tau / sum n^tau, floor'd budgets, and the exact hash-rank
      // selection all replay relationally — shares and every selected
      // row hash-match.
      (s, dir) => Sampling.temperatureSample(Tables.documents(s, dir),
        idCol = "doc_id", stratumCol = "lang", tau = 0.5, budget = 200L)
        .select("doc_id", "lang", "n_docs", "share", "stratum_budget", "sample_rank")
        .orderBy("lang", "sample_rank"),
      Some("""WITH counts AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |         round(pow(CAST(COUNT(*) AS DOUBLE), 0.5), 8) AS w
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |tot AS (SELECT SUM(CAST(w AS DECIMAL(28,8))) AS tw FROM counts),
        |quotas AS (
        |  SELECT lang, n_docs,
        |         round(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS share,
        |         round(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6) * 200.0 AS q
        |  FROM counts CROSS JOIN tot),
        |lr AS (
        |  SELECT lang, n_docs, share,
        |         CAST(floor(q) AS BIGINT) AS base,
        |         row_number() OVER (ORDER BY round(q - floor(q), 6) DESC, lang) AS rk,
        |         200 - SUM(CAST(floor(q) AS BIGINT)) OVER () AS extra
        |  FROM quotas),
        |alloc AS (
        |  SELECT lang, n_docs, share, rk,
        |         base + CASE WHEN extra > 0 AND rk <= extra THEN 1 ELSE 0 END AS a0
        |  FROM lr),
        |budgets AS (
        |  -- SUM(BIGINT) widens to HUGEINT in DuckDB; cast back so the
        |  -- column type (and the driver's value rendering) matches Spark
        |  SELECT lang, n_docs, share,
        |         CAST(greatest(0, least(a0,
        |           200 - (SUM(a0) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) - a0)))
        |           AS BIGINT) AS stratum_budget
        |  FROM alloc),
        |ranked AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |                    doc_id) AS sample_rank
        |  FROM documents WHERE lang IS NOT NULL)
        |SELECT r.doc_id, r.lang, b.n_docs, b.share, b.stratum_budget, r.sample_rank
        |FROM ranked r JOIN budgets b USING (lang)
        |WHERE r.sample_rank <= b.stratum_budget
        |ORDER BY r.lang, r.sample_rank""".stripMargin)),

    ("x_strata_overlap",
      // Cross-source verbatim-content report: pairwise bigram-shingle
      // Jaccard between language strata — the dataset-card number that
      // catches one source being another re-hosted. Posting lists are
      // stratum-catalog-bounded, so the gram-keyed self-join needs no
      // cap; the whole matrix replays in SQL.
      (s, dir) => Dedup.strataOverlap(Tables.documents(s, dir), "lang", n = 2)
        .orderBy("stratum_a", "stratum_b"),
      Some("""WITH ft AS (
        |  SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents WHERE lang IS NOT NULL),
        |grams AS (
        |  SELECT DISTINCT lang AS s,
        |         (CAST(concat('0x', substr(md5(t[g.i]), 1, 8)) AS BIGINT) * 1000003
        |          + CAST(concat('0x', substr(md5(t[g.i + 1]), 1, 8)) AS BIGINT)) % 2147483647 AS h
        |  FROM (SELECT *, unnest(generate_series(1, len(t))) AS i FROM ft) g
        |  WHERE g.i <= len(t) - 1),
        |sizes AS (SELECT s, COUNT(*) AS sz FROM grams GROUP BY 1),
        |inter AS (
        |  SELECT a.s AS stratum_a, b.s AS stratum_b, COUNT(*) AS inter
        |  FROM grams a JOIN grams b ON a.h = b.h AND a.s < b.s
        |  GROUP BY 1, 2)
        |SELECT i.stratum_a, i.stratum_b, i.inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |       round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.s = i.stratum_a
        |JOIN sizes sb ON sb.s = i.stratum_b
        |ORDER BY stratum_a, stratum_b""".stripMargin)),

    ("x_zorder_layout",
      // Z-order (Morton) clustering of the event stream on
      // (time, value): per coarse z-cell — the unit a layout writer
      // turns into a file — row count and BOTH dimensions' bucket
      // ranges. Every cell is tight on both axes (the point of the
      // layout: footer min/max stats prune on either predicate), and
      // the whole address arithmetic — fixed-width buckets off the
      // frame's own min/max, 12-bit Morton interleave, top-6-bit cell
      // id — is integer/IEEE-shared and replayed bit-for-bit in SQL.
      (s, dir) => Layout.zAddress(
          // epoch-µs LONG (exact below 2^53 when widened) — not a
          // ts→double cast, whose seconds+fraction assembly could
          // differ across engines by an ulp and flip an edge bucket
          Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts"))),
          "ts_us", "value", bits = 12)
        .groupBy(shiftright(col("zaddr"), 18).as("zcell"))
        .agg(count(lit(1)).as("n"),
          min("zx").as("x_lo"), max("zx").as("x_hi"),
          min("zy").as("y_lo"), max("zy").as("y_hi"))
        .orderBy("zcell"),
      Some(zOrderOracleSql(bits = 12)))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, f, _) => n -> f }.toMap

  def oracleSql: Map[String, String] =
    registry.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
