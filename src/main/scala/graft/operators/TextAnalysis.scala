package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Portable, ShingleHashes}
import graft.sources.IndexStore

/** Text-analysis operators for training-data curation
  * (SURVEY.md §2.12 X4): language ID, quality scoring, token statistics,
  * and an order-sensitive document fingerprint. All are single-pass
  * projections or one groupBy — embarrassingly parallel at 100 TB.
  */
object TextAnalysis {

  private def toks(textCol: Column): Column =
    filter(split(textCol, " "), t => t =!= "")

  /** Marker-word vocabulary per language for the n-gram/stopword
    * heuristic language ID. Tiny fixed lists — the heuristic scores each
    * language by marker occurrences (with multiplicity) and argmaxes with
    * a deterministic tie-break on language code. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "fast"),
    "de" -> Seq("der", "und", "die", "merge", "batch"),
    "es" -> Seq("el", "la", "los", "scan", "query"),
    "fr" -> Seq("le", "et", "les", "filter", "stream"),
    "zh" -> Seq("zh1", "zh2", "zh3", "window", "group")
  )

  /** Language-ID (X4): argmax of per-language marker counts; ties break
    * toward the lexicographically smallest language. Emits the predicted
    * language and its score. */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // max over (score, inverse-lang-rank) ⇒ highest score, smallest lang
    // code on tie. Langs sorted ascending get descending inverse ranks.
    // Per-language marker counts (with multiplicity) are exactly the
    // TextStats kernel's stopword counter — one compiled pass per
    // language instead of a token-array filter chain.
    val langsSorted = langMarkers.map(_._1).sorted
    val invRank = langsSorted.zipWithIndex.map { case (l, i) => l -> (langsSorted.size - 1 - i) }.toMap
    val best = greatest(langMarkers.map { case (lang, markers) =>
      struct(
        graft.functions.TextStats(col(textCol), markers).getField("n_stop").as("score"),
        lit(invRank(lang)).as("inv"),
        lit(lang).as("lang"))
    }: _*)
    // Generate barrier (the statsThen discipline): the two getField
    // extracts would otherwise each inline their own copy of the
    // whole greatest-of-kernel-structs — 2× every language's TextStats
    // pass per row.
    docs.select(col(idCol), explode(array(best)).as("__best"))
      .select(col(idCol),
        col("__best.lang").as("pred_lang"),
        col("__best.score").as("score"))
  }

  /** Stopword list for the quality score's stopword ratio. */
  private val stopwords = Seq("the", "a", "and", "of", "to", "in")

  /** The quality-field columns, derived from an already-projected
    * [[graft.functions.TextStats]] struct column (see [[statsThen]]:
    * the struct is materialized by an INNER projection so the kernel
    * runs once per row; deriving straight off the expression would let
    * CollapseProject duplicate the pass into every consumer column).
    * The split/filter/regexp_replace formulation this replaces
    * allocated three token arrays plus a rewritten string per row and
    * dominated the curation pipeline's wall time. Derived ratios are
    * unchanged, so every oracle keeps hash-matching. */
  private def qualityCols(st: Column): Seq[Column] = {
    val nTok = st.getField("n_tokens")
    val nStop = st.getField("n_stop")
    val nChars = st.getField("n_chars")
    // Empty/whitespace-only text: ratios are null and quality 0 — a
    // plain x/0 would abort the whole job under Spark 4's default ANSI
    // mode.
    val avgTokLen = when(nTok === 0, lit(null))
      .otherwise((nChars - (nTok - 1)).cast("double") / nTok)
    val stopRatio = when(nTok === 0, lit(null)).otherwise(nStop.cast("double") / nTok)
    val digitRatio = when(nChars === 0, lit(null))
      .otherwise(st.getField("n_digits").cast("double") / nChars)
    Seq(
      nChars.as("n_chars"),
      nTok.as("n_tokens"),
      round(avgTokLen, 4).as("avg_token_len"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(digitRatio, 4).as("digit_ratio"),
      when(nTok === 0 || nChars === 0, 0.0).otherwise(round(
        least(lit(1.0), nTok.cast("double") / 64) * (lit(1.0) - digitRatio) *
          when(stopRatio > 0.05 && stopRatio < 0.6, 1.0).otherwise(0.5),
        4)).as("quality"))
  }

  /** The token-count columns shared by [[tokenCounts]] and [[profile]] —
    * same shared [[graft.functions.TextStats]] struct as [[qualityCols]]. */
  private def tokenCols(st: Column): Seq[Column] = Seq(
    st.getField("n_tokens").as("ws_tokens"),
    st.getField("word_tokens").as("word_tokens"),
    (st.getField("n_chars").cast("double") / 4.0).cast("long").as("approx_bpe_tokens"))

  /** Project the TextStats struct in an inner select, then derive
    * `out(struct)` on top. The two-step shape stops CollapseProject
    * from inlining the (non-cheap, multiply-referenced) kernel into
    * each derived column — the struct stays a single per-row pass and
    * whole-stage codegen fuses both projections anyway. */
  private def statsThen(docs: DataFrame, textCol: String,
      keep: Seq[Column], out: Column => Seq[Column]): DataFrame = {
    val stName = Iterator.from(0).map(i => s"__stats$i")
      .find(n => !docs.columns.contains(n)).get
    // explode(array(kernel)): the Generate is a CollapseProject
    // BARRIER, so the kernel struct lands as an ATTRIBUTE and the
    // out() columns extract fields for free. A plain two-step select
    // does NOT protect it: CollapseProject inlines even expensive
    // producers when every consumer is extract-only (GetStructField),
    // and the measured plan held up to 30 kernel copies per row —
    // each a full text scan (the from_json duplication class, which
    // Spark special-cases for json/csv only). Generate stays inside
    // whole-stage codegen, so the barrier costs nothing.
    docs.select(keep :+
        explode(array(graft.functions.TextStats(col(textCol), stopwords))).as(stName): _*)
      .select(keep ++ out(col(stName)): _*)
  }

  /** Quality scoring (X4): length, token stats, stopword ratio, digit
    * ratio — combined into a [0,1]-ish score. Pure projection. */
  def quality(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    statsThen(docs, textCol, Seq(col(idCol)), qualityCols)

  /** Token counting (X4): whitespace tokens plus a BPE-ish subword count
    * (runs of letters / digits / other via regex), the standard cheap
    * proxy for LLM token cost. */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    statsThen(docs, textCol, Seq(col(idCol)), tokenCols)

  /** Quality fields AND token counts in ONE projection pass. Callers that
    * need both (the curation pipeline) use this instead of joining
    * [[quality]] with [[tokenCounts]] — a self-join on id that scans the
    * corpus twice and shuffles for no reason. */
  def profile(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    statsThen(docs, textCol, Seq(col(idCol)), st => qualityCols(st) ++ tokenCols(st))

  /** [[profile]] columns APPENDED to the input's own columns — for
    * pipelines that need the profile fields alongside other derived
    * columns (and that then drop `textCol` themselves, e.g. before a
    * shuffle that should not carry document bodies). */
  def withProfile(docs: DataFrame, textCol: String = "text"): DataFrame =
    statsThen(docs, textCol, docs.columns.toSeq.map(col),
      st => qualityCols(st) ++ tokenCols(st))

  /** Gopher-style rule filtering (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * Table A1 — the canonical published pretraining quality gate):
    * per-document signal columns, one boolean per rule, and the
    * conjunction `gopher_keep`. Rules (thresholds as published):
    *
    *   - word count in [50, 100 000]
    *   - mean word length in [3, 10]
    *   - hash-to-word ratio (`#` chars / words) ≤ 0.1
    *   - ellipsis-to-word ratio ((`...` + `…` occurrences) / words)
    *     ≤ 0.1 — Table A1 thresholds the hash and ellipsis symbol
    *     ratios SEPARATELY; the pre-r13 formulation summed them into
    *     one ratio (wrongly rejecting e.g. 6% hashes + 6% ellipses)
    *     and missed the unicode `…`
    *   - lines starting with a bullet (`-`, `*`, `•`) ≤ 90%
    *   - lines ending with an ellipsis (`...`, `…`) ≤ 30%
    *   - words containing an alphabetic character ≥ 80%
    *   - ≥ 2 of the 8 Gopher stopwords present
    *     (the, be, to, of, and, that, have, with)
    *   - duplicate-line fraction ≤ 30% (repeated VALUES / lines)
    *   - duplicate-line character fraction ≤ 20% (characters in line
    *     instances whose value occurs more than once / line characters)
    *
    * Everything derives from ONE [[graft.functions.GopherStats]]
    * kernel call per row (compiled byte scans — the higher-order-
    * function formulation this replaced ran ~10 interpreted array
    * passes per row at 42 µs/doc) — scan → project, no shuffle, no
    * join, so the gate runs at full scan parallelism on any corpus
    * size (the duplicate-line census is per-document hashing, bounded
    * by per-doc line counts, never by corpus size). Ratios round to
    * 6dp BEFORE threshold comparison so rule booleans are
    * bit-identical across engines; null ratios (empty text) fail
    * their rules. */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // explode(array(kernel)) so the kernel runs once per row — the
    // statsThen Generate-barrier discipline (CollapseProject inlines
    // extract-only consumers of even expensive producers; the plain
    // two-step select measured 30 kernel copies in the plan)
    val inner = docs.select(col(idCol),
      explode(array(graft.functions.GopherStats(
        coalesce(col(textCol), lit("")), gopherStops))).as("__g"))
    val g = col("__g")
    val nW = g.getField("n_words")
    val nL = g.getField("n_lines")
    val lineCharSum = g.getField("line_char_sum")
    val r6 = (c: Column) => round(c, 6)
    val sig = inner.select(col(idCol),
      nW.as("n_words"),
      r6(when(nW === 0, lit(null))
        .otherwise(g.getField("word_len_sum").cast("double") / nW))
        .as("mean_word_len"),
      r6(when(nW === 0, lit(null))
        .otherwise(g.getField("n_hashes").cast("double") / nW))
        .as("hash_word_ratio"),
      r6(when(nW === 0, lit(null))
        .otherwise(g.getField("n_ellipses").cast("double") / nW))
        .as("ellipsis_word_ratio"),
      r6(when(nL === 0, lit(null))
        .otherwise(g.getField("bullet_lines").cast("double") / nL))
        .as("bullet_line_ratio"),
      r6(when(nL === 0, lit(null))
        .otherwise(g.getField("ellipsis_lines").cast("double") / nL))
        .as("ellipsis_line_ratio"),
      r6(when(nW === 0, lit(null))
        .otherwise(g.getField("alpha_words").cast("double") / nW))
        .as("alpha_word_ratio"),
      g.getField("stops_present").as("stopwords_present"),
      r6(when(nL === 0, lit(null))
        .otherwise((nL - g.getField("distinct_lines")).cast("double") / nL))
        .as("dup_line_frac"),
      r6(when(lineCharSum === 0, lit(null))
        .otherwise(g.getField("dup_line_char_sum").cast("double") / lineCharSum))
        .as("dup_line_char_frac"))
    val rules = Seq(
      (col("n_words") >= 50 && col("n_words") <= 100000).as("r_word_count"),
      (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0).as("r_mean_word_len"),
      (col("hash_word_ratio") <= 0.1).as("r_hash_ratio"),
      (col("ellipsis_word_ratio") <= 0.1).as("r_ellipsis_ratio"),
      (col("bullet_line_ratio") <= 0.9).as("r_bullet_lines"),
      (col("ellipsis_line_ratio") <= 0.3).as("r_ellipsis_lines"),
      (col("alpha_word_ratio") >= 0.8).as("r_alpha_words"),
      (col("stopwords_present") >= 2).as("r_stopwords"),
      (col("dup_line_frac") <= 0.3).as("r_dup_lines"),
      (col("dup_line_char_frac") <= 0.2).as("r_dup_line_chars"))
    val withRules = sig.select(col(idCol) +: sig.columns.tail.map(col) ++: rules: _*)
    withRules.withColumn("gopher_keep",
      withRules.columns.filter(_.startsWith("r_"))
        .map(c => coalesce(col(c), lit(false))).reduce(_ && _))
  }

  /** Global term frequencies (X4): explode → count per token. Map-side
    * combine keeps the shuffle at one row per distinct token per mapper. */
  def termFrequencies(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(toks(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))

  /** Heavy-hitter tokens via the [[graft.functions.MisraGriesTopK]]
    * sketch, VERIFIED against the exact counts: emits the exact top
    * `topN` tokens (count DESC, token ASC — deterministic) with a
    * `sketch_consistent` verdict checking the sketch's theoretical
    * guarantees for each one (present ⇒ `est ≤ true ≤ est + slack`;
    * absent ⇒ `true ≤ slack`, `slack = (n − M)/(k+1)`).
    *
    * The exact side is the full term table — affordable at bench
    * scale and the ground truth the sketch is judged against. At
    * 100 TB the sketch ALONE is the product: constant state per task,
    * ≤ `sketchK` entries shuffled per partition, no vocabulary-sized
    * term table anywhere; this operator is the audited form that
    * proves the sketch's bounds hold on real data. */
  def heavyHitters(docs: DataFrame, sketchK: Int, topN: Int,
      textCol: String = "text"): DataFrame = {
    require(sketchK >= 1 && topN >= 1, "sketchK and topN must be >= 1")
    val tokens = docs.select(explode(toks(col(textCol))).as("token"))
    val sketch = tokens.agg(
      graft.functions.MisraGriesTopK(col("token"), sketchK).as("__s"))
    val exact = tokens.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(topN)
    // map_from_entries over the 2-field (token, est) structs yields
    // map<token, est>, so the lookup IS the estimate
    val est = element_at(map_from_entries(col("__s.entries")), col("token"))
    val m = aggregate(col("__s.entries"), lit(0L), (acc, e) => acc + e.getField("est"))
    val slack = floor((col("__s.n") - m).cast("double") / (sketchK + 1)).cast("long")
    exact.crossJoin(broadcast(sketch))
      .select(col("token"), col("cnt"),
        when(est.isNotNull, est <= col("cnt") && col("cnt") - est <= slack)
          .otherwise(col("cnt") <= slack).as("sketch_consistent"))
  }

  /** BM25 lexical retrieval: score every document against a literal
    * term list (Robertson/Lucene form — `idf · tf·(k1+1) / (tf + k1·
    * (1−b+b·dl/avgdl))`, idf = ln((N−df+0.5)/(df+0.5)+1), always
    * positive) and return the top `k` — the retrieval primitive for
    * RAG-style data curation and query-driven corpus slicing.
    *
    * Determinism discipline as [[lmScores]]: the one libm op (ln) and
    * each per-term contribution round to 8dp, the per-doc sum runs in
    * DECIMAL (order-invariant), and the final score rounds to 6dp —
    * bit-identical across engines and partitionings.
    *
    * Scale shape (r16, storage fixed r17): the tokenize +
    * per-term-fold kernel runs EXACTLY ONCE — the (id, dl, tf*) counts
    * frame is LAZILY localCheckpointed and the stats-collect action
    * materializes the blocks as it runs (the same materialize contract
    * as [[importanceWeights]] / minHashLshVerified, one job cheaper
    * than an eager checkpoint; column pruning otherwise diverges the
    * stats and scoring consumers and re-evaluates the kernel per
    * branch). The blocks are GC-reclaimed once the returned frame is
    * unreferenced — no per-call CacheManager pinning (ADVICE r16).
    * The 1-row corpus stats (N, avgdl, per-term df) are COLLECTED and
    * folded into the scoring projection as literals, so every idf is
    * constant-folded by the engine's own log/round and the crossJoin
    * disappears. With unique ids (the default, enforced) each document
    * is one row, so scoring is a pure PROJECTION over the materialized
    * counts — no per-id exchange exists — and the top-k is
    * `orderBy.limit` → TakeOrdered. `N`/`avgdl` count documents with
    * at least one token (token-free docs can never match). Eager like
    * the other checkpointing operators: calling this runs the kernel
    * and stats jobs immediately.
    *
    * Contract: `idCol` identifies one document per ROW — ENFORCED by
    * default: a `count_distinct(id)`-vs-`count(*)` guard rides the
    * collected stats aggregate (no extra pass over the corpus) and
    * raises AT THE CALL when the corpus holds duplicate ids, instead
    * of silently merging per-row scores into a non-BM25 number. If
    * your corpus splits documents across rows, concatenate first; if
    * ids are pre-validated upstream, pass `requireUniqueIds = false`
    * to skip the distinct-count (its shuffle carries one small row per
    * distinct id — bounded, but not free at corpus scale); that path
    * keeps the per-id merge aggregate. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      requireUniqueIds: Boolean = true,
      materialize: Boolean = true): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k >= 1, "k must be >= 1")
    // Query terms are LITERALS, so per-term tf is a scan-side array
    // fold (`size(filter(toks, _ == term))`), one column per term —
    // no token-stream explode anywhere in the plan. This deletes the
    // remaining corpus-scale structure of the r13 formulation: the
    // Generate + (doc, matching-term) exchange + the separate df
    // branch. df/N/avgdl all ride ONE global aggregate over the tf
    // projection (a 1-row broadcast), scoring is a projection over the
    // docs that match any term, and the only exchanges left are that
    // 1-row build, the tiny per-id merge of the matched docs, and the
    // driver-merged top-k — at 100 TB the corpus is scanned, never
    // re-keyed. (A token-partitioned df window would put every doc
    // matching one common term in a single partition — the exact skew
    // the aggregate formulation avoids.)
    val qTerms = queryTerms.distinct
    def tfCol(i: Int) = col(s"__tf$i")
    // ONE kernel pass, ONE byte scan: dl and every per-term tf come
    // from the [[graft.functions.TermCounts]] codegen kernel (terms
    // are literals), replacing the r15 split() materialization + q
    // interpreted filter() walks per row. The raw [dl, tf*] array
    // materializes BEFORE it is unpacked, so the stats and scoring
    // consumers read materialized longs — the kernel cannot be
    // re-inlined per consumer (the importanceWeights/dsir lesson:
    // column pruning diverges multi-consumer branches and breaks
    // exchange reuse).
    // `materialize = true` uses a LAZY localCheckpoint, not cache():
    // the stats-collect job below is ALREADY an action over the counts
    // frame, so it materializes the checkpoint blocks as it runs — one
    // job fewer than eager-checkpoint-then-aggregate, with the same
    // kernel-runs-exactly-once guarantee (serving reads the blocks).
    // Unlike cache(), whose InMemoryRelation stays pinned in the
    // session CacheManager for the session's lifetime (one orphaned
    // entry PER distinct (docs, queryTerms) call — ADVICE r16), local
    // checkpoint blocks are lineage-tracked and GC-reclaimed by the
    // ContextCleaner once the returned frame is unreferenced; the
    // duplicate-id raise path below likewise leaves nothing pinned.
    // `materialize = false` skips it for corpora where a second kernel
    // scan is cheaper than a materialization — the stats and serving
    // passes then each run the kernel (a documented double scan of the
    // text column).
    val tc0 = docs.select(col(idCol),
      graft.functions.TermCounts(col(textCol), qTerms).as("__tc"))
    val tc = if (materialize) tc0.localCheckpoint(false) else tc0
    val counts = tc
      .select(Seq(col(idCol), element_at(col("__tc"), 1).as("__dl")) ++
        qTerms.indices.map(i =>
          element_at(col("__tc"), i + 2).as(s"__tf$i")): _*)
    // The uniqueness guard rides THIS one collected aggregate, so
    // enforcement costs zero extra passes over the corpus and raises
    // at the call — before any scoring work runs.
    val statsAggs = Seq(
      sum(when(col("__dl") > 0, lit(1L)).otherwise(lit(0L))).as("__n"),
      avg(when(col("__dl") > 0, col("__dl"))).as("__avgdl")) ++
      qTerms.indices.map(i =>
        sum(when(tfCol(i) > 0, lit(1L)).otherwise(lit(0L))).as(s"__df$i")) ++
      (if (requireUniqueIds)
        Seq(count(lit(1)).as("__rows"), count_distinct(col(idCol)).as("__ids"))
      else Seq.empty)
    val st = counts.agg(statsAggs.head, statsAggs.tail: _*).head()
    if (requireUniqueIds) {
      val rows = st.getLong(2 + qTerms.size)
      val ids = st.getLong(3 + qTerms.size)
      if (rows != ids) throw new IllegalArgumentException(
        s"bm25TopK: duplicate values in id column '$idCol' (${rows - ids} " +
          "extra rows) — one document per row is required; concatenate " +
          "split documents first or pass requireUniqueIds = false if ids " +
          "are pre-validated")
    }
    val nV = if (st.isNullAt(0)) 0L else st.getLong(0)
    // token-free corpus: no row has tf > 0, the filter below empties
    // the result whatever avgdl is — 1.0 keeps the expressions non-null
    val avgdlV = if (st.isNullAt(1)) 1.0 else st.getDouble(1)
    def dfV(i: Int): Long = if (st.isNullAt(2 + i)) 0L else st.getLong(2 + i)
    // stats are LITERALS, so each idf constant-folds at optimization
    // time through the engine's OWN log/round eval (bit-identical to
    // the former broadcast-join evaluation of the same expression)
    def idf(i: Int) = round(log(
      (lit(nV) - lit(dfV(i)) + lit(0.5)) / (lit(dfV(i)) + lit(0.5)) + lit(1.0)), 8)
    def contrib(i: Int) = round(
      idf(i) * tfCol(i) * lit(k1 + 1.0) /
        (tfCol(i) + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / lit(avgdlV))), 8)
    // decimal-round BEFORE the double cast: the sum is an EXACT
    // decimal of 8dp terms, so 6dp half-way cases are common and the
    // double's binary round would diverge from the oracle's decimal
    // HALF_UP (the pqAdcOracleCtes rounding class). A zero tf zeroes
    // its contrib exactly (numerator 0, 8dp round of 0 is 0), so
    // absent terms add decimal zero — no per-term null handling.
    val matchedCol = qTerms.indices.map(i =>
      when(tfCol(i) > 0, lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    val anyMatch = qTerms.indices.map(i => tfCol(i) > 0).reduce(_ || _)
    val scored =
      if (requireUniqueIds)
        // ids are unique (just enforced): one row IS one document, so
        // scoring is a pure projection — no per-id exchange exists
        counts.filter(anyMatch).select(
          col(idCol),
          matchedCol.as("matched_terms"),
          round(qTerms.indices.map(i => contrib(i).cast("decimal(28,10)"))
            .reduce(_ + _), 6).cast("double").as("bm25"))
      else
        // opted-out duplicate-id path: rows with the same id sum their
        // PER-ROW saturated contributions, and each matching row counts
        // toward df. That DIFFERS from the r13 explode formulation,
        // which merged duplicate (id, dl, term) rows into one tf before
        // the nonlinear saturation (contrib(2·tf) != 2·contrib(tf)) and
        // counted the merged group once in df — which is exactly why
        // requireUniqueIds=true is the default. The per-row-sum
        // semantics is pinned by PropertiesSpec's duplicate-id case.
        counts.filter(anyMatch)
          .groupBy(col(idCol))
          .agg(
            sum(matchedCol).as("matched_terms"),
            round(sum(qTerms.indices.map(i => contrib(i).cast("decimal(28,10)"))
              .reduce(_ + _)), 6)
              .cast("double").as("bm25"))
    scored.orderBy(col("bm25").desc, col(idCol)).limit(k)
  }


  /** Related-document BM25: for each query DOCUMENT (by id), the top-k
    * most lexically similar corpus documents — the query's own distinct
    * terms act as the query bag (set semantics: BM25's query-side
    * saturation is flat for the short effective vocabulary of one
    * document, and set semantics keep the oracle replay exact). This is
    * the lexical leg of hybrid retrieval; [[Similarity.rrfFuse]] merges
    * it with a dense ranking.
    *
    * Same scoring, rounding, and determinism discipline as [[bm25TopK]]
    * (8dp idf and contributions, DECIMAL per-pair sum, 6dp score); the
    * per-query ranking is a WindowGroupLimit top-k instead of a global
    * limit.
    *
    * Scale shape — ONE doc-keyed exchange carries almost everything:
    * the exploded token stream repartitions by doc id once; the (doc,
    * token) tf aggregate, the doc-length window sum, the broadcast-side
    * scoring join, AND the final per-(query, cand) score aggregate all
    * reuse that clustering (cand IS the doc id, and partitioning by a
    * subset of the grouping keys satisfies the aggregate's
    * distribution), so none of them re-shuffle the corpus-sized stream.
    * Only the token-keyed df aggregate (vocab-sized output, broadcast
    * back) and the queries×corpus ranking window pay their own
    * exchanges. Self-matches are excluded.
    */
  def bm25RelatedTopK(docs: DataFrame, queryIds: Seq[Long], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bm25RelatedTopKFrom(
      bm25Index(docs, idCol, textCol).localCheckpoint(),
      queryIds, k, k1, b, idCol)

  /** The BM25 inverted-index frame: one row per (doc, token) carrying
    * tf, doc length (doc-partition window sum) and document frequency
    * (token-partition window count) — no separate df table, no
    * join-back. The frame ends repartitioned by doc id so the scoring
    * aggregate in [[bm25RelatedTopKFrom]] runs exchange-free. This is a
    * BUILD artifact: materialize it once (localCheckpoint / a table
    * write) and amortize over every retrieval — the same build-once
    * contract as the IVF index. */
  def bm25Index(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val winDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val winTok = org.apache.spark.sql.expressions.Window.partitionBy(col("__tok"))
    // EXPLICIT partition counts: the index is checkpoint-pinned by its
    // consumers, and a by-column repartition here lets AQE coalesce the
    // (few-MB) exchange to ONE partition — which then serializes every
    // posting join downstream of the pinned frame onto one core (the
    // nbClassify base lesson). The scoring cost lives BELOW the pin,
    // where AQE cannot see it.
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    docs.select(col(idCol), explode(toks(col(textCol))).as("__tok"))
      .repartition(parts, col(idCol))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__tf"))
      .withColumn("__dl", sum(col("__tf")).over(winDoc))
      .withColumn("__df", count(lit(1)).over(winTok))
      .repartition(parts, col(idCol))
  }

  /** Corpus-level statistics of a [[bm25Index]] frame (doc count, mean
    * doc length) — like the index itself, a build artifact worth
    * pinning alongside it. */
  def bm25IndexStats(tf: DataFrame, idCol: String = "doc_id"): DataFrame =
    tf.groupBy(col(idCol)).agg(first(col("__dl")).as("__dl"))
      .agg(count(lit(1)).as("__n"), avg(col("__dl")).as("__avgdl"))

  /** Persist a [[bm25Index]] frame as a BUCKETED epoch store
    * ([[graft.sources.IndexStore.write]]: the tf table, its one-row
    * stats table and a meta row) — the store-durable form of the
    * localCheckpoint pin, the
    * [[graft.operators.Dedup.storePpJoinIndexBucketed]] treatment on
    * the text side: the tf table is bucketed by the doc id, so a
    * LOADED index's scan exposes `HashPartitioning(doc id)` to the
    * planner and the scoring aggregate in [[bm25RelatedTopKFrom]] —
    * whose grouping keys include the doc id — runs with NO
    * corpus-side exchange from the parquet files themselves, in any
    * future session (PlanSpec-pinned). At 100 TB this is the search
    * index at rest: the token stream's doc-clustered layout is paid
    * once at the epoch write, never per retrieval. `idCol` and
    * `nBuckets` travel in the meta row; [[loadBm25IndexBucketed]] reads
    * the store at `path` in any session. */
  def storeBm25IndexBucketed(tf: DataFrame, path: String,
      nBuckets: Int = 32, idCol: String = "doc_id"): Unit =
    IndexStore.write(path, nBuckets, Seq(
        IndexStore.Table("tf", tf, Seq(idCol)),
        IndexStore.Table("stats", bm25IndexStats(tf, idCol))),
      tf.sparkSession.createDataFrame(Seq((idCol, nBuckets)))
        .toDF("id_col", "n_buckets"))

  /** Reconstruct the (tf, stats) pair from the [[storeBm25IndexBucketed]]
    * store at `path` ([[graft.sources.IndexStore.load]]). The tf frame
    * comes back as a bucketed scan — [[bm25RelatedTopKFrom]] over it
    * plans with no corpus-side exchange, the stored-index analog of the
    * checkpointed build. */
  def loadBm25IndexBucketed(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame) = {
    val store = IndexStore.load(spark, path)
    (store.tables("tf"), store.tables("stats"))
  }

  /** One SEGMENT of an incremental BM25 index: per-(doc, token) tf
    * with the doc's full length — [[bm25Index]] WITHOUT the
    * document-frequency window, because df is the one corpus-GLOBAL
    * statistic an append invalidates (a new segment can raise any
    * token's df). The Lucene-segment design: segments are immutable,
    * df and corpus stats merge at query time — which keeps appends
    * O(batch) while [[bm25SegmentedTopK]] still answers EXACTLY like
    * a whole-corpus rebuild (the segmented query recomputes df over
    * the union restricted to the query's tokens, and n/avgdl are
    * additive across segments). */
  def bm25SegmentRows(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val winDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    docs.select(col(idCol), explode(toks(col(textCol))).as("__tok"))
      .repartition(parts, col(idCol))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__tf"))
      .withColumn("__dl", sum(col("__tf")).over(winDoc))
  }

  /** Append a batch of documents to a segmented BM25 store as one new
    * immutable segment — the text-side [[graft.operators.Similarity
    * .ivfAppend]]: segment rows land at `<path>/tf/segment=<id>`, the
    * segment's TERM DICTIONARY (per-token document frequency WITHIN
    * this segment — Lucene's per-segment df) at
    * `<path>/df/segment=<id>`, and a ONE-ROW per-segment stats record
    * (n docs, total tokens) at `<path>/meta/segment=<id>` — all three
    * published by ONE manifest commit of the levelled store at `path`
    * ([[graft.sources.IndexStore.writeLevel]]), so a reader sees the
    * whole segment or none of it. All three are pure functions of the
    * batch, and the commit replaces whatever the segment held, so a
    * replayed micro-batch rewrites exactly its original segment (the
    * standard at-least-once → store exactly-once discipline here).
    * Read the store with [[loadBm25Segments]]. Appends never touch
    * resident segments: corpus-GLOBAL df
    * and stats are never stored — because segments hold disjoint doc
    * sets, global df is the SUM of the per-segment dictionaries and
    * the corpus stats fold from the additive meta rows, both
    * vocab-/one-row-sized merges [[bm25SegmentedTopK]] pays at query
    * time instead of a store rewrite at append time. */
  def bm25AppendSegment(docs: DataFrame, path: String, segmentId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val rows = bm25SegmentRows(docs, idCol, textCol).localCheckpoint()
    IndexStore.writeLevel(path, "segment", segmentId)(
      ("tf" -> rows) +: bm25SegmentStats(rows, idCol, 1L): _*)
  }

  /** The term dictionary and stats row of a segment's `rows` (tf rows,
    * or a tombstone's doomed postings; pin them, as they feed both),
    * counted with `sign`: -1 subtracts a tombstone's mass from the
    * serve's additive folds. */
  private def bm25SegmentStats(rows: DataFrame, idCol: String,
      sign: Long): Seq[(String, DataFrame)] = Seq(
    "df" -> rows.groupBy(col("__tok")).agg((lit(sign) * count(lit(1))).as("__df")),
    "meta" -> rows.groupBy(col(idCol)).agg(first(col("__dl")).as("__dl"))
      .agg((lit(sign) * count(lit(1))).as("n"), (lit(sign) * sum(col("__dl"))).as("sum_dl")))

  /** A segmented BM25 store's tf, df and meta trees and, when it holds
    * tombstones, its del tree — each the scan of its files in the
    * current manifest ([[graft.sources.IndexStore.levels]]), with the
    * `segment` partition column. Fails on a path with no segment. */
  def loadBm25Segments(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, DataFrame, DataFrame, Option[DataFrame]) = {
    val Seq(tf, df, meta, del) = Seq("tf", "df", "meta", "del").map(IndexStore.levels(spark, path, _))
    def needed(tree: Option[DataFrame]) =
      tree.getOrElse(throw new IllegalStateException(s"no segmented BM25 store at $path"))
    (needed(tf), needed(df), needed(meta), del)
  }

  /** DELETE-BY-ID for the segmented BM25 store — Lucene's tombstone
    * design: deletion is a new immutable segment, never a rewrite of
    * resident ones. The tombstone segment carries (a) the doomed doc
    * ids at `<path>/del/segment=<id>` — the query-time bitset
    * [[bm25SegmentedTopK]] anti-joins the tf scan against — and
    * (b) NEGATIVE dictionary and stats rows mirroring the doomed
    * docs' resident postings, so the serve's additive df/n/avgdl
    * folds subtract the deleted mass with zero new fold code. The
    * doomed postings are read query-bounded from the store (pushed
    * id filter), so a delete costs O(deleted docs), not a store
    * rewrite; physical removal happens at the next
    * [[bm25CompactSegments]] merge, which filters the del set out of
    * the fold and drops the applied tombstones. The three trees
    * publish in ONE manifest commit, like an append's. Replay-safe:
    * every tree is a pure function of (resident store, ids), and the
    * commit replaces whatever the segment held.
    * Contract: ids are deleted as of their resident rows at delete
    * time; re-adding a deleted id is undefined (append-only id
    * space), same single-writer discipline as the other maintenance
    * faces. */
  def bm25DeleteDocs(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long], segmentId: Long,
      idCol: String = "doc_id"): Unit = {
    require(ids.nonEmpty, "ids must be non-empty")
    val (tf, _, _, _) = loadBm25Segments(spark, path)
    val doomed = tf.filter(col(idCol).isin(ids: _*)).drop("segment").localCheckpoint()
    IndexStore.writeLevel(path, "segment", segmentId)(
      ("del" -> doomed.select(col(idCol)).distinct()) +: bm25SegmentStats(doomed, idCol, -1L): _*)
  }

  /** Segment-merge COMPACTION for the segmented BM25 store — Lucene's
    * merge policy, under [[graft.operators.Similarity.ivfCompact]]'s
    * fold-forward contract: derive the trigger batch's segment rows
    * exactly as [[bm25AppendSegment]] would, UNION them with every
    * resident tf row at `segment <= segmentId`, dedupe by
    * (doc, token) — rows are bit-identical across levels because
    * tf/dl are deterministic in the text, so the dedupe keeps one —
    * then rewrite ALL THREE trees (tf, term dictionary, stats) from
    * the merged set as THIS segment and drop the now-folded older
    * segments, in ONE manifest commit
    * ([[graft.sources.IndexStore.foldLevel]]). One corpus rewrite
    * collapses the store back to a single segment, and the dictionary/stats rows
    * are recomputed from the merged set, so the serve's query-time
    * folds see exactly the state a whole-corpus rebuild would write.
    *
    * Crash convergence and the single-writer contract are the
    * levelled store's ([[graft.sources.IndexStore]]).
    * [[bm25DeleteDocs]] tombstones at `segment <= segmentId` are
    * applied PHYSICALLY here (Lucene's merge-time removal): the del
    * set anti-joins the resident rows out of the fold, the rewritten
    * dictionary/stats are computed from the surviving rows only, and
    * the applied tombstone segments are dropped — including one at
    * `segmentId` itself, whose negative dictionary/stats rows the
    * rewrite has just replaced. Run it from the ingest loop's own
    * foreachBatch thread ([[graft.streaming.StreamingIngest
    * .bm25Ingest]]'s `compactEvery` does). */
  def bm25CompactSegments(docs: DataFrame, path: String, segmentId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val prepared = bm25SegmentRows(docs, idCol, textCol)
    val merged = IndexStore.resident(docs.sparkSession, path, "tf", path, "del",
        "segment", segmentId, idCol)
      .fold(prepared)(r => prepared.unionByName(r).dropDuplicates(idCol, "__tok"))
      .localCheckpoint()
    IndexStore.foldLevel(path, path, "segment", segmentId)(
      ("tf" -> merged) +: bm25SegmentStats(merged, idCol, 1L): _*)
  }

  /** Related-doc BM25 over a SEGMENTED store — identical output to
    * [[bm25RelatedTopKFrom]] over a whole-corpus [[bm25Index]] of the
    * same documents (oracle-pinned): corpus stats fold from the
    * additive per-segment meta rows (n = Σ n_seg; avgdl =
    * Σ sum_dl / Σ n — integer sums are exact in double, so the fold
    * equals the whole-corpus average bit-for-bit), and global df folds
    * from the per-segment term dictionaries RESTRICTED to the query
    * docs' tokens (disjoint doc sets → df_global = Σ df_seg), a
    * vocab-sized aggregate over the df tree — never a posting-frame
    * recompute.
    *
    * Serve plan (the [[graft.operators.Similarity.ivfProbeTopKPruned]]
    * broadcastable-⇒-collectable discipline): the query docs' term
    * rows, the folded df table, and the stats row are all
    * query-bounded by construction, so they COLLECT and rebuild as
    * local relations — their broadcasts ship driver-side without
    * launching jobs, and the collected query vocabulary pushes into
    * the tf and df tree scans as a parquet filter (row-group
    * dictionary skip) instead of joining. The store's tf tree is
    * scanned exactly TWICE per retrieval (query-row collection + the
    * single scoring scan) regardless of segment count, with no
    * corpus-sized checkpoint; appends stay O(batch).
    *
    * `segDel` (the [[bm25DeleteDocs]] tombstone id tree, when the
    * store has one) is Lucene's query-time deleted bitset, with the
    * tombstones' NEGATIVE dictionary/stats rows flowing through the
    * df and stats folds unchanged — deleted docs vanish from queries,
    * candidates, df, and length norms alike. Del lists up to
    * `delPushdownMax` collect and push as a NOT-IN scan filter (zero
    * extra joins); larger lists are NEVER fully collected (r19: the
    * shared bounded fold stops at `delPushdownMax + 1` ids) and fall
    * back to a distributed anti-join against the tombstone tree
    * itself, the shape that holds for arbitrarily large tombstone
    * sets without driver memory. The 4096 default is inherited by
    * analogy from [[graft.operators.Similarity.ivfProbeTopKPruned]],
    * where it was measured on the IVF vector store; the pushdown vs
    * anti-join crossover was never measured on the BM25 store. */
  def bm25SegmentedTopK(segTf: DataFrame, segDf: DataFrame,
      segMeta: DataFrame, queryIds: Seq[Long], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", segDel: Option[DataFrame] = None,
      delPushdownMax: Int = 4096): DataFrame = {
    require(queryIds.nonEmpty, "queryIds must be non-empty")
    val spark = segTf.sparkSession
    // the query docs' term rows and the tombstone id list are both
    // query-/del-bounded driver frames from INDEPENDENT subtrees, so
    // ONE tagged-union action collects both — the fold is SHARED with
    // the vector serves ([[graft.operators.Similarity]]'s
    // collectProbeAndDelBounded; each saved action is a whole Spark
    // job, and jobs × scheduler-floor is this serve's wall lower
    // bound). BOUNDED (r19): the fold never materializes more than
    // `delPushdownMax + 1` del ids driver-side; del ids are cast
    // in-plan to segTf's idCol type so the driver-side screen below
    // compares by construction, and null del ids (contract
    // violations) are dropped in-plan. A del tree the fold refused to
    // collect (`None`) screens DISTRIBUTED from the tree itself — the
    // shape that holds for arbitrarily large tombstone sets: the
    // posting scan anti-joins the tree, and the qterms local relation
    // anti-joins it too (a deleted query doc must vanish even though
    // its rows were collected before the screen could run).
    val idType = segTf.schema(idCol).dataType
    val qrows0 = segTf.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col("__tok"))
    val (qrowAll, delIdsOpt) = graft.operators.Similarity
      .collectProbeAndDelBounded(qrows0, segDel, idCol, idType, delPushdownMax)
    // bounded lists push as a NOT-IN scan filter (zero join, zero
    // extra exchange); an over-bound tree anti-joins distributed
    val (delFilter, delAnti): (Option[Column], Option[DataFrame]) =
      delIdsOpt match {
        case Some(ids) if ids.isEmpty => (None, None)
        case Some(ids) => (Some(!col(idCol).isInCollection(ids)), None)
        case None => (None, Some(segDel.get
          .select(col(idCol).cast(idType).as(idCol))
          .where(col(idCol).isNotNull).distinct()))
      }
    def screen(df: DataFrame): DataFrame = {
      val f = delFilter.fold(df)(df.filter)
      delAnti.fold(f)(d => f.join(d, Seq(idCol), "left_anti"))
    }
    val delSet = delIdsOpt.getOrElse(Seq.empty).toSet
    val qrowRows = qrowAll.filter(r => !delSet.contains(r.get(0)))
    val qtoks = qrowRows.map(_.getString(1)).distinct.toSeq
    val tokMatch =
      if (qtoks.isEmpty) lit(false) else col("__tok").isInCollection(qtoks)
    // ONE job folds BOTH store statistics: the query-bounded df
    // aggregate over the per-segment dictionaries and the additive
    // corpus-stats fold over the meta records, unioned into a single
    // collect (they are independent subtrees, so the union costs
    // nothing beyond the action it saves). df then merges DRIVER-side
    // onto the query-term rows — __df rides the one qterms broadcast
    // the scoring join needs anyway — and n/avgdl inline as literals:
    // the serve ships no df relation and no stats broadcast (each
    // broadcast exchange is a whole Spark job even for a local
    // relation).
    val dfAgg = segDf.filter(tokMatch)
      .groupBy(col("__tok")).agg(sum(col("__df")).as("__df"))
      .select(col("__tok"), col("__df"),
        lit(null).cast("long").as("n"), lit(null).cast("long").as("sum_dl"))
    val statsAgg = segMeta
      .agg(sum(col("n")).as("n"), sum(col("sum_dl")).as("sum_dl"))
      .select(lit(null).cast("string").as("__tok"),
        lit(null).cast("long").as("__df"), col("n"), col("sum_dl"))
    val folded = dfAgg.unionByName(statsAgg).collect()
    val dfMap = folded.filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val statsRow = folded.filter(_.isNullAt(0)).head
    // integer sums are exact in double, so the driver-side division
    // equals the whole-corpus average bit-for-bit
    val (nDocs, avgdl) =
      if (statsRow.isNullAt(2)) (0L, 1.0)
      else (statsRow.getLong(2), statsRow.getLong(3).toDouble / statsRow.getLong(2))
    val qtermSchema = org.apache.spark.sql.types.StructType(
      qrows0.schema.fields :+ org.apache.spark.sql.types.StructField(
        "__df", org.apache.spark.sql.types.LongType, nullable = false))
    val qterms0 = spark.createDataFrame(
      java.util.Arrays.asList(qrowRows.map(r =>
        org.apache.spark.sql.Row(r.get(0), r.get(1),
          dfMap.getOrElse(r.getString(1), 0L))): _*), qtermSchema)
    // over-bound del tree: the collected qrows were never screened
    // driver-side, so a deleted query doc's terms are still in
    // qterms0 — anti-join them out against the tree in-plan
    val qterms = delAnti.fold(qterms0)(d =>
      qterms0.join(d, qterms0("query_id") === d(idCol), "left_anti"))
    val posting = screen(segTf.filter(tokMatch))
    bm25RelatedTopKFrom(posting, queryIds, k, k1, b, idCol,
      qtermsOpt = Some(qterms), statsLitOpt = Some((nDocs, avgdl)))
  }

  /** Scoring face of [[bm25RelatedTopK]] over a prebuilt (ideally
    * pinned) [[bm25Index]] frame — query-time work is ONE broadcast
    * join + an exchange-free aggregate + the per-query top-k window.
    * Pass a pinned [[bm25IndexStats]] frame to skip recomputing the
    * corpus stats per retrieval, and a prebuilt (query_id, __tok)
    * frame via `qtermsOpt` when the caller already extracted the
    * query docs' terms (the segmented serve) to skip the tf-side
    * filter scan — a qterms frame may also CARRY `__df` (the
    * segmented serve rides the folded df on the one broadcast that
    * must exist anyway), in which case `tf` need not. `statsLitOpt`
    * inlines already-collected corpus stats as literal columns,
    * skipping the 1-row stats broadcast (each broadcast exchange is
    * a whole Spark job even for a local relation — measured, not
    * assumed). */
  def bm25RelatedTopKFrom(tf: DataFrame, queryIds: Seq[Long], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", statsOpt: Option[DataFrame] = None,
      qtermsOpt: Option[DataFrame] = None,
      statsLitOpt: Option[(Long, Double)] = None): DataFrame = {
    require(queryIds.nonEmpty, "queryIds must be non-empty")
    require(k >= 1, "k must be >= 1")
    val qterms = qtermsOpt.getOrElse(
      tf.filter(col(idCol).isin(queryIds: _*))
        .select(col(idCol).as("query_id"), col("__tok")))
    val idf = round(log(
      (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)) + lit(1.0)), 8)
    val contrib = round(
      idf * col("__tf") * lit(k1 + 1.0) /
        (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))), 8)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("bm25").desc, col("cand_id").asc)
    val joined = tf.withColumnRenamed(idCol, "cand_id")
      .join(broadcast(qterms), "__tok")
      .filter(col("cand_id") =!= col("query_id"))
    val withStats = statsLitOpt match {
      case Some((n, avgdl)) =>
        joined.withColumn("__n", lit(n)).withColumn("__avgdl", lit(avgdl))
      case None =>
        joined.crossJoin(broadcast(statsOpt.getOrElse(bm25IndexStats(tf, idCol))))
    }
    // A single-exchange "fused rank" variant (repartition(query_id)
    // before the aggregate, so the (query_id, cand_id) agg exchange
    // and the (query_id) window exchange collapse into one) was
    // MEASURED AND REJECTED in r19: interleaved A/B on the segmented
    // serve read fused min 0.754 / med 0.868 vs split 0.562 / 0.726 —
    // with a handful of query docs the query_id hash under-fills the
    // shuffle width (§2.5 synthetic-key collisions) and the raw
    // candidate stream shuffles BEFORE map-side partial aggregation,
    // which together cost more than the exchange they save.
    withStats
      .withColumn("__contrib", contrib)
      .groupBy(col("query_id"), col("cand_id"))
      .agg(count(lit(1)).as("matched_terms"),
        round(sum(col("__contrib").cast("decimal(28,10)")), 6)
          .cast("double").as("bm25"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Count-Min frequency estimates via the
    * [[graft.functions.CountMinSketch]] aggregate, audited against the
    * exact counts: emits the exact top `topN` tokens (count DESC, token
    * ASC) with the sketch's point estimate and the CMS theorem verdict
    * (`cms_est ≥ exact` always — minimum of counters that each received
    * every true increment). Because the matrix is an order-invariant
    * SUM, the estimates themselves are bit-identical across partition
    * and merge orders — so unlike [[heavyHitters]]' order-dependent MG
    * counters, the oracle replays the ESTIMATES, not just the bound.
    *
    * The exact side is the full term table — affordable at bench scale
    * and the ground truth the sketch is judged against. At 100 TB the
    * sketch alone is the product: depth·width longs per task, one
    * matrix per task on the shuffle, element-wise-add merges. */
  def cmsFrequencies(docs: DataFrame, depth: Int, width: Int, topN: Int,
      textCol: String = "text"): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val tokens = docs.select(explode(toks(col(textCol))).as("token"))
    val sketch = tokens.agg(
      graft.functions.CountMinSketch(col("token"), depth, width).as("__s"))
    val exact = tokens.groupBy("token").agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("token")).limit(topN)
    val est = graft.functions.CountMinSketch.estimate(
      col("__s"), col("token"), depth, width)
    exact.crossJoin(broadcast(sketch))
      .select(col("token"), col("exact_count"), est.as("cms_est"),
        (est >= col("exact_count")).as("never_undercounts"))
  }

  /** Vocabulary-encode the corpus — the tokenize-to-ids handoff a
    * training-data pipeline ends with: build a `vocabSize`-entry
    * vocabulary of the most frequent tokens (rank by freq DESC, token
    * ASC — deterministic through ties), then encode every document as
    * its token-id sequence in original token order. Out-of-vocabulary
    * tokens map to id 0; vocabulary ids start at 1 in rank order.
    * Documents with zero tokens emit no row (the [[fingerprint]]
    * convention).
    *
    * Scale shape: the vocabulary is one token-count aggregate plus a
    * distributed top-K (`orderBy.limit` plans TakeOrdered — partial
    * top-K per partition, never a global sort of the token-type
    * stream); id assignment is a window over the LIMITed frame —
    * O(vocabSize) rows by construction, the same bounded-small
    * exception as Curation's offsets window. Encoding is
    * posexplode → BROADCAST vocab join → one corpus-sized groupBy
    * that reassembles ids ordered by position. No driver-side
    * collect anywhere. */
  def encodeWithVocab(docs: DataFrame, vocabSize: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    val exploded = docs.select(col(idCol),
      posexplode(toks(col(textCol))).as(Seq("__pos", "__tok")))
    val top = exploded.groupBy("__tok").agg(count(lit(1)).as("__freq"))
      .orderBy(col("__freq").desc, col("__tok")).limit(vocabSize)
    // derived-constant partition key: see Curation's offsets window —
    // a literal would be folded out of the partition spec
    val idW = org.apache.spark.sql.expressions.Window
      .partitionBy(length(col("__tok")) * lit(0))
      .orderBy(col("__freq").desc, col("__tok"))
    val vocab = top.withColumn("id", row_number().over(idW))
      .select(col("__tok"), col("id"))
    exploded.join(broadcast(vocab), Seq("__tok"), "left")
      .select(col(idCol), col("__pos"), coalesce(col("id"), lit(0)).as("__id"))
      .groupBy(idCol)
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"), col("__id")))),
        e => e.getField("__id")).as("token_ids"))
  }

  /** Canonical text normalization — the preprocessing step every dedup /
    * fingerprint pass should share so near-identical docs actually
    * collide: lowercase, strip non-alphanumerics to spaces, collapse
    * runs, trim. Pure codegen projection. */
  def normalize(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.withColumn("norm_text",
      trim(regexp_replace(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " "), " +", " ")))

  /** TF-IDF weights per (doc, term) — the standard relevance weight for
    * retrieval/curation. tf = in-doc count; idf = ln((N+1)/(df+1)) + 1
    * (smoothed — never divides by zero, unseen-term safe). Two
    * shuffle-on-key aggregates over one exploded term stream; the corpus
    * size joins in as a broadcast 1-row frame so the whole plan stays
    * lazy. */
  def tfIdf(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val terms = docs.select(col(idCol), explode(toks(col(textCol))).as("token"))
    // df as a whole-partition window count on the tf frame: tf is one
    // row per (doc, token), so rows-per-token IS the distinct doc
    // frequency — one token exchange instead of a count_distinct
    // groupBy over the raw term stream plus a vocab join-back (the
    // madOutliers r14 rework pattern; ~20% interleaved)
    val tf = terms.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
      .withColumn("df",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("token"))))
    val n = docs.agg(count(lit(1)).as("__n"))
    tf
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (log((col("__n") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
      .select(col(idCol), col("token"), col("tf"), col("df"), col("tfidf"))
  }

  /** Bigram language-model quality scoring — the CCNet-style "how
    * LM-likely is this document under the corpus's own statistics"
    * signal: train add-k-smoothed bigram counts ON the corpus, then
    * score every document by its mean log-probability
    * `avg over bigrams of ln((c(w1,w2)+k) / (c(w1)+k·V))`, where
    * `c(w1)` counts w1 as a bigram history and `V` is the number of
    * distinct history tokens. Boilerplate and in-domain text score
    * high; line noise and OOV-dense docs score low. Emits
    * `(id, n_bigrams, lm_score)` for EVERY document — fewer than two
    * tokens ⇒ `n_bigrams = 0`, null score.
    *
    * Scale shape: tokens are hashed ONCE per row by the
    * [[graft.functions.ShingleHashes]] kernel; bigram keys derive from
    * the unigram hash array with a `zip_with` (no second md5 pass), so
    * every shuffle carries `(id, w1_hash, bigram_hash)` longs — never
    * token strings. The pair stream pre-aggregates per
    * `(doc, w1, bigram)` before joining the (vocab-sized) count
    * tables, the corpus vocabulary joins in as a broadcast 1-row
    * frame, and the per-doc reduce is one hash aggregate. Count
    * determinism: the per-pair log-prob is rounded, then summed as
    * DECIMAL (order-independent), so the score hash-matches across
    * engines. */
  def lmScores(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Double = 0.5): DataFrame = {
    require(k > 0.0, "smoothing k must be positive")
    val u = col("__u")
    val nb = greatest(size(u) - 1, lit(0))
    val pairStructs = zip_with(
      slice(u, lit(1), nb), slice(u, lit(2), nb),
      (a, b) => struct(a.as("w1"),
        pmod(a * lit(1000003L) + b, lit(Portable.MinHashPrime)).as("bg")))
    val grouped = docs
      .select(col(idCol), ShingleHashes(col(textCol), 1).as("__u"))
      .select(col(idCol), explode(pairStructs).as("__pr"))
      .select(col(idCol), col("__pr.w1").as("__w1"), col("__pr.bg").as("__bg"))
      .groupBy(col(idCol), col("__w1"), col("__bg"))
      .agg(count(lit(1)).as("__m"))
    val uni = grouped.groupBy("__w1").agg(sum(col("__m")).as("__cu"))
    val bi = grouped.groupBy("__bg").agg(sum(col("__m")).as("__cb"))
    val vocab = uni.agg(count(lit(1)).as("__v"))
    val perDoc = grouped
      .join(bi, "__bg").join(uni, "__w1")
      .crossJoin(broadcast(vocab))
      .withColumn("__lp", round(
        log((col("__cb") + lit(k)) / (col("__cu") + lit(k) * col("__v"))), 8))
      .groupBy(col(idCol))
      .agg(sum(col("__m")).as("__nb"),
        round(sum((col("__m") * col("__lp")).cast("decimal(28,10)")).cast("double")
          / sum(col("__m")), 6).as("lm_score"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__nb"), lit(0L)).as("n_bigrams"), col("lm_score"))
  }

  /** PII patterns for [[redactPii]]. Kept to the regex subset with
    * identical semantics in Java (Spark) and RE2 (the oracle): character
    * classes, bounded/greedy quantifiers, `\b` word boundaries — no
    * lookaround, no backreferences. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "[IP]"),
    ("phone", "\\+[0-9][0-9()\\- ]{6,}[0-9]", "[PHONE]"))

  /** PII redaction — the scrubbing pass a training corpus runs before
    * anything else ships: replaces emails, IPv4 addresses, and
    * international-format phone numbers with class markers and counts
    * each class. One codegen'd projection (3 regexp_replace + 3
    * regexp_count), embarrassingly parallel at 100 TB; counts are taken
    * on the ORIGINAL text so they are independent of redaction order,
    * while replacements apply sequentially (markers contain no digits,
    * so later patterns never match earlier markers). */
  def redactPii(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (acc, (_, pat, marker)) => regexp_replace(acc, pat, marker)
    }
    val counts = piiPatterns.map { case (name, pat, _) =>
      regexp_count(col(textCol), lit(pat)).as(s"n_$name")
    }
    docs.select(col(idCol) +: redacted.as("redacted") +: counts: _*)
  }

  /** Order-sensitive document fingerprint (X4): positional rolling hash
    * `Σ position_i · hash32(token_i) mod p`. Content AND order sensitive,
    * unlike a bag-of-words hash; portable to the SQL oracle via the
    * md5-based token hash.
    *
    * One codegen'd projection ([[graft.functions.TextFingerprint]]) —
    * the fingerprint is a pure function of the text, so there is no row
    * explosion and no doc-keyed shuffle: the operator is scan-shaped at
    * any scale. (Earlier rounds posexploded tokens and aggregated by
    * doc — a full shuffle to compute a per-row value.) Docs with zero
    * tokens yield no row, matching the aggregate formulation. */
  /** Distributed BPE tokenizer merge training (Sennrich-style): learn
    * `iters` byte-pair merges from the corpus, most-frequent adjacent
    * symbol pair first (ties break lexicographically on the pair).
    * Returns the trained artifact — the ordered merge table
    * `(iteration, merge_left, merge_right, pair_count)`.
    *
    * Scale shape — the classic vocab-table reduction: ONE corpus pass
    * builds the alphabetic word-frequency table (the only corpus-sized
    * shuffle), and every iteration after that runs on the vocab frame,
    * orders of magnitude smaller than the corpus. Per iteration: the
    * winning pair comes from ONE shuffle-free job — per-partition
    * pair-count maps merged on the driver (the gradient-barrier shape;
    * details at the call site), and the re-encode is a per-row array
    * fold — greedy
    * left-to-right non-overlapping, exactly Sennrich's replacement
    * semantics. The vocab frame is `localCheckpoint`ed every fourth
    * iteration — a checkpoint is a whole extra job, while re-running ≤3
    * codegen'd fold projections over the vocab between checkpoints is
    * nearly free, so thinning the checkpoints cuts the job count ~40%
    * without letting lineage grow unboundedly. Blocks are freed by the
    * ContextCleaner when the frames are GC'd after training returns.
    *
    * Words are lowercased and restricted to `^[a-z]+$` (whitespace
    * tokens), keeping symbol comparisons byte-identical across engines
    * and collations. Training stops early if the vocabulary runs out of
    * adjacent pairs.
    *
    * Hybrid in-core tail (the [[Graph.connectedComponents]] /
    * [[Graph.kCore]] pattern applied to the merge loop): the
    * word-frequency table is LANGUAGE-bounded, not corpus-bounded —
    * at web scale it is millions of rows where the corpus is billions,
    * and every real BPE trainer (Sennrich's reference code included)
    * trains on exactly that table in memory. So when the vocab fits
    * `localVocabWords` (collected rows on the driver), the merge
    * iterations run as an in-core loop — same census arithmetic, same
    * (cnt desc, l, r) winner rule, same greedy left-to-right
    * non-overlapping re-encode — instead of one scheduling-floor job
    * per merge round. 0 disables (pure distributed loop; the spec pins
    * hybrid ≡ distributed on the same corpus). NOT batched-B merges:
    * a merge creates new pairs containing the merged symbol whose
    * counts can outrank a stale runner-up picked from the pre-merge
    * census (e.g. `e a b f`×N: after (a,b), the new (ab,f)=N beats any
    * disjoint runner-up), so batch selection from one census is not
    * replay-exact; the in-core loop cuts the same job count without
    * that hazard. */
  def bpeTrain(docs: DataFrame, iters: Int, textCol: String = "text",
      localVocabWords: Long = 1L << 20): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs
      .select(explode(toks(lower(col(textCol)))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", filter(split(col("word"), ""), s => s =!= ""))
      .select("freq", "syms")
      .localCheckpoint()
    if (localVocabWords > 0 && base.count() <= localVocabWords)
      return bpeTrainLocal(spark, base.collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toArray)), iters)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var enc = base
    var it = 1
    var exhausted = false
    while (it <= iters && !exhausted) {
      // Winning pair in ONE Spark job, no shuffle: each partition
      // builds its local pair→weighted-count map imperatively (the
      // map-side combine a hash aggregate would do anyway), and
      // RDD.reduce merges the per-partition maps on the driver as
      // partition results arrive — the same single-action barrier
      // shape MLlib uses for gradient aggregation. The old
      // groupBy→orderBy→limit(1) formulation paid a shuffle exchange
      // per iteration, which under AQE is two scheduled jobs instead
      // of one. Merged map size = distinct adjacent pairs in the
      // vocab (alphabet²-ish early, vocab-bounded always); if a
      // 100 TB vocab ever outgrows one driver merge, swap `reduce`
      // for `treeReduce(depth = 2)` — same semantics, one extra
      // level. Long sums are exact and the tie-break (count desc,
      // left asc, right asc — byte order, symbols are ^[a-z]+$) is
      // order-independent, so the winner is deterministic for any
      // partitioning.
      val merged = enc.select(col("freq"), col("syms")).rdd
        .mapPartitions { rows =>
          val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
          rows.foreach { row =>
            val f = row.getLong(0)
            val s = row.getSeq[String](1)
            var i = 0
            while (i < s.length - 1) {
              val key = (s(i), s(i + 1))
              m.update(key, m.getOrElse(key, 0L) + f)
              i += 1
            }
          }
          Iterator.single(m)
        }
        // fold, NOT reduce: an empty vocabulary (zero rows → a
        // zero-partition checkpointed RDD) must surface as "no pairs →
        // exhausted", not RDD.reduce's empty-collection crash
        .fold(scala.collection.mutable.HashMap.empty[(String, String), Long]) { (a, b) =>
          b.foreach { case (k, v) => a.update(k, a.getOrElse(k, 0L) + v) }
          a
        }
      val top = merged.foldLeft(Option.empty[((String, String), Long)]) {
        case (acc, e @ ((l, r), cnt)) => acc match {
          case Some(((bl, br), bc))
            if cnt < bc || (cnt == bc && (l > bl || (l == bl && r >= br))) => acc
          case _ => Some(e)
        }
      }
      top match {
        case None => exhausted = true
        case Some(((l, r), cnt)) =>
          merges += ((it, l, r, cnt))
          enc = enc.withColumn("syms", bpeMergeOnce(col("syms"), l, r))
          if (it % 4 == 0) enc = enc.localCheckpoint()
          it += 1
      }
    }
    merges.toSeq.toDF("iteration", "merge_left", "merge_right", "pair_count")
  }

  /** The in-core merge loop of [[bpeTrain]]'s hybrid tail: identical
    * census (weighted adjacent-pair counts, exact long sums), identical
    * winner rule (cnt desc, then (l, r) ascending byte order), and the
    * same greedy left-to-right non-overlapping replacement as
    * [[bpeMergeOnce]]'s carry fold (a merged emission never re-matches
    * in the same pass), so the merge table is bit-identical to the
    * distributed loop's for any input. */
  private def bpeTrainLocal(spark: org.apache.spark.sql.SparkSession,
      vocab: Array[(Long, Array[String])], iters: Int): DataFrame = {
    import spark.implicits._
    var words = vocab
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= iters && !exhausted) {
      val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (f, s) =>
        var i = 0
        while (i < s.length - 1) {
          val key = (s(i), s(i + 1))
          m.update(key, m.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      // same strict-improvement fold as the distributed loop: the
      // winner is order-independent over the map's iteration order
      val top = m.foldLeft(Option.empty[((String, String), Long)]) {
        case (acc, e @ ((l, r), cnt)) => acc match {
          case Some(((bl, br), bc))
            if cnt < bc || (cnt == bc && (l > bl || (l == bl && r >= br))) => acc
          case _ => Some(e)
        }
      }
      top match {
        case None => exhausted = true
        case Some(((l, r), cnt)) =>
          merges += ((it, l, r, cnt))
          words = words.map { case (f, s) =>
            if (!s.indices.exists(i => i < s.length - 1 && s(i) == l && s(i + 1) == r))
              (f, s)
            else {
              val out = scala.collection.mutable.ArrayBuffer.empty[String]
              var i = 0
              while (i < s.length) {
                if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
                  out += l + r; i += 2
                } else { out += s(i); i += 1 }
              }
              (f, out.toArray)
            }
          }
          it += 1
      }
    }
    merges.toSeq.toDF("iteration", "merge_left", "merge_right", "pair_count")
  }

  /** Encode a corpus with a trained BPE merge table ([[bpeTrain]]'s
    * output, applied in iteration order). Lowercased alphabetic tokens
    * fold through the merges; any other token passes through as a
    * single opaque symbol (the byte-fallback analog), so encoding is
    * total over arbitrary text.
    *
    * Scale shape: the merges fold over the DISTINCT normalized vocab —
    * a projection chain of per-row array folds, vocab-sized, never
    * corpus-sized — and documents pick up their word encodings through a
    * broadcast dictionary join (shuffle-join it instead if the vocab
    * outgrows broadcast), reassembled with the same position-ordered
    * collect as [[encodeWithVocab]]. Output: (idCol, bpe_tokens). */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val exploded = docs.select(col(idCol),
      posexplode(toks(col(textCol))).as(Seq("__pos", "__tok")))
      .withColumn("__norm", lower(col("__tok")))
    val alpha = col("__norm").rlike("^[a-z]+$")
    val vocab0 = exploded.filter(alpha).select(col("__norm").as("__w")).distinct()
      .withColumn("__syms", filter(split(col("__w"), ""), s => s =!= ""))
    val encoded = merges.foldLeft(vocab0) { case (df, (l, r)) =>
      df.withColumn("__syms", bpeMergeOnce(col("__syms"), l, r))
    }
    exploded.join(broadcast(encoded), col("__norm") === col("__w"), "left")
      .select(col(idCol), col("__pos"),
        when(alpha && col("__syms").isNotNull, col("__syms"))
          .otherwise(array(col("__tok"))).as("__enc"))
      .groupBy(idCol)
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("__enc")))),
        e => e.getField("__enc"))).as("bpe_tokens"))
  }

  /** One greedy left-to-right non-overlapping merge pass: every
    * occurrence of adjacent symbols (l, r) becomes the single symbol
    * l+r, earlier occurrences winning overlaps (so `a a a` under (a, a)
    * → `aa a`, never `a aa`). A fold with an (out, carry) accumulator:
    * the carry is the last unconsumed symbol; a merge emits l+r and
    * clears it, so a freshly merged symbol never re-matches in the same
    * pass — Sennrich's replacement semantics. */
  private def bpeMergeOnce(syms: Column, l: String, r: String): Column = {
    val init = struct(
      lit(Array.empty[String]).as("out"),
      lit(null).cast("string").as("carry"))
    aggregate(syms, init,
      (acc, s) => {
        val out = acc.getField("out")
        val carry = acc.getField("carry")
        when(carry.isNull, struct(out.as("out"), s.as("carry")))
          .when(carry === lit(l) && s === lit(r),
            struct(concat(out, array(lit(l + r))).as("out"),
              lit(null).cast("string").as("carry")))
          .otherwise(struct(concat(out, array(carry)).as("out"), s.as("carry")))
      },
      acc => when(acc.getField("carry").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("carry")))))
  }

  /** Class-based TF-IDF (the BERTopic c-TF-IDF formulation): the
    * terms that CHARACTERIZE each group — language, source, cluster
    * assignment — rather than each document. Groups become the
    * "documents": per-group term frequency × idf over the group
    * count, top-k per group, which is the dataset-card "what is this
    * source actually about" report and the topic-labeling step after
    * an embedding clustering.
    *
    * Scale shape: one token explode → (group, token) count (the
    * shuffle carries group-token pairs, partial-aggregated map-side),
    * a group-count-bounded idf table, and a WindowGroupLimit top-k per
    * group — no doc-sized frame survives the first aggregate.
    *
    * The group-count term `ng` is FOLDED into the main scan (r18,
    * closing the r17 "one standing weak entry"): `explode_outer`
    * keeps token-free documents as null-token rows, so the
    * (group, token) aggregate — lazily localCheckpointed, it is
    * vocab-bounded — carries every non-null group, and the exact
    * `ng = distinct groups` collects from the CHECKPOINT as a literal
    * instead of running the second documents scan the r17 in-plan
    * broadcast build paid (its ~0.14 s was the bisect's whole
    * residual; the 0.429 s driver-collected variant r17 rejected
    * re-scanned documents — collecting from the checkpoint does not).
    * The null-token rows exist only for that count and drop before
    * the windows. One documents scan, two vocab-sized window
    * exchanges, zero broadcast builds; A/B'd min 0.330 vs 0.405 /
    * med 0.368 vs 0.514 interleaved, value equality spec-pinned
    * against the unfolded form (PropertiesSpec).
    *
    * Like the siblings with collected model state ([[bm25TopK]]'s
    * corpus stats, [[nbClassify]]'s model, [[importanceWeights]]'
    * term table), the call is EAGER — building the frame runs the
    * scan+aggregate and pins a snapshot; batch-only by the same
    * contract.
    *
    * Output: (group, token, tf, groups_with, ctfidf, rank ≤ topK),
    * rank deterministic via (score desc, token asc). */
  def classTfIdf(docs: DataFrame, groupCol: String, topK: Int = 10,
      textCol: String = "text"): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val terms = docs.filter(col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("group"),
        explode_outer(toks(col(textCol))).as("token"))
    val tf = terms.groupBy(col("group"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val ngVal = tf.agg(countDistinct(col("group"))).head().getLong(0)
    val scored = tf.filter(col("token").isNotNull)
      // groups_with as a whole-partition window count on the tf frame
      // itself (one token exchange) instead of a groupBy(token) +
      // join-back (which shuffled the vocab-sized tf table twice —
      // the madOutliers r14 rework pattern; ~10% interleaved)
      .withColumn("groups_with",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("token"))))
      .withColumn("ctfidf",
        round(col("tf") * (log((lit(ngVal) + 1.0) / (col("groups_with") + 1.0)) + 1.0), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group"))
      .orderBy(col("ctfidf").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("group"), col("token"), col("tf"), col("groups_with"),
        col("ctfidf"), col("rank"))
  }

  def fingerprint(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol),
        graft.functions.TextFingerprint(col(textCol)).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)

  /** Distributed multinomial Naive Bayes: train on the corpus's own
    * labels, score every document, return per-doc predictions — the
    * classic quality/domain classifier step of an LLM data pipeline
    * (label a seed set, classify the crawl) with the same
    * train-at-scale shape as [[lmScores]]' bigram model.
    *
    * Sparse-model formulation, which is what survives 100 TB: the
    * model is the PRESENT (token, class) count table only — never the
    * dense vocab×classes matrix. A per-(doc, class) score needs every
    * vocab token's smoothed log-prob, but absent pairs all contribute
    * the class's constant `base = ln(k / (N_c + k·V))`, so
    *
    *   score(d,c) = prior_c + n_d·base_c + Σ_present m_dw·(lp_wc − base_c)
    *
    * and the corpus-sized join touches present pairs only. Shuffles
    * carry (token-hash, class) longs — never text; the class table
    * (priors + bases, one row per label) broadcasts; the final
    * argmax is a classes-bounded window.
    *
    * Determinism discipline (the [[lmScores]] rules): every log is
    * rounded to 8dp before use, per-pair products are summed as
    * DECIMAL(28,10), the final score rounds to 6dp, and class ties
    * break lexicographically — so the whole train+score chain is
    * bit-identical across engines and partitionings.
    *
    * Output: (id, label, predicted, correct, score) — one row per
    * input document (token-free docs score on priors alone). */
  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its tokens are under the TARGET
    * distribution (a trusted seed set) than under the raw-corpus
    * distribution — the data-selection step that shapes a 100 TB crawl
    * toward a target domain without a trained classifier.
    *
    * Hashed-unigram bag-of-words LMs with add-k smoothing over the
    * corpus vocabulary; per-doc weight = mean over tokens of
    * `log p_target(w) − log p_corpus(w)`.
    *
    * Shape: one [[graft.functions.TokenHashCounts]] kernel pass
    * produces per-row term frequencies (no token-INSTANCE exchange —
    * the nbClassify discipline); source and target token masses come
    * from ONE vocab-keyed conditional aggregate over the pre-counted
    * pairs (every target doc is also a source doc), collected ONCE:
    * corpus totals are exact integer sums of the collected rows, and
    * the per-token term table — VOCAB-bounded, the same scale class
    * the join formulation broadcast — gets its 8dp logs through the
    * engine's own expressions folded over a local relation (zero
    * extra jobs), then is served back through the
    * [[graft.functions.TokenHashLogRatio]] projection: scoring is
    * scan → project, no (doc, token) join, no per-doc aggregation. A
    * corpus whose vocab outgrows driver memory is the documented
    * escape hatch: revert to joining the term frame (nbClassify's
    * contract, same trade).
    * [[lmScores]] determinism discipline throughout (8dp logs, DECIMAL
    * sums, 6dp mean) so weights hash-match across engines.
    *
    * `isTarget` — boolean Column over `docs`' columns selecting the
    * seed set (e.g. `col("source") === "src1"`).
    *
    * Output: (id, is_target, n_tokens, log_ratio); token-free docs
    * carry a null ratio, the [[lmScores]] convention. */
  def importanceWeights(docs: DataFrame, isTarget: Column,
      idCol: String = "doc_id", textCol: String = "text",
      k: Double = 0.5, materialize: Option[Boolean] = None): DataFrame = {
    require(k > 0.0, "smoothing k must be positive")
    // The counts frame feeds the vocab aggregate AND the scoring
    // projection (whose consumers may read it more than once — e.g.
    // the top-k selection join in the bench query): checkpoint it once
    // by default so the token kernel runs ONE pass, the nbClassify
    // base contract (r16 A/B: 0.281 → 0.234 s min interleaved).
    // `materialize` lifecycle as in [[minHashLshVerified]]: loops that
    // hold results long-term pass Some(false) and the frame recomputes
    // per consumer instead of pinning block storage.
    val withCounts0 = docs.select(col(idCol),
      isTarget.cast("boolean").as("is_target"),
      graft.functions.TokenHashCounts(coalesce(col(textCol), lit(""))).as("__tc"))
    val withCounts =
      if (materialize.getOrElse(true)) withCounts0.localCheckpoint()
      else withCounts0
    val byWord = withCounts
      .select(col("is_target"), explode(col("__tc")).as("__p"))
      .select(col("is_target"), col("__p.w").as("__w"), col("__p.m").as("__m"))
      .groupBy("__w").agg(
        sum(col("__m")).as("__cs"),
        sum(when(col("is_target"), col("__m")).otherwise(lit(0L))).as("__ct"))
    // ONE vocab-keyed collect serves totals AND the term table. The
    // r15 shape ran a separate totals aggregate (broadcast into a
    // second pass over byWord): column pruning diverged the two
    // consumers, so the kernel+explode+groupBy chain evaluated twice
    // — one Spark job each — for numbers that are exact integer sums
    // of the rows being collected anyway (r16 A/B: 2 jobs and the
    // double evaluation gone).
    val vocabRows = byWord.collect()
    val ns = vocabRows.iterator.map(_.getLong(1)).sum
    val nt = vocabRows.iterator.map(_.getLong(2)).sum
    val v = vocabRows.length.toLong
    // Per-token term: lp_tgt(w) − lp_src(w); __ct is already 0 for
    // tokens absent from the target side. Still computed through the
    // ENGINE's own round/log — the projection runs over a LOCAL
    // relation, which the optimizer folds driver-side
    // (ConvertToLocalRelation): same Catalyst expressions, zero Spark
    // jobs, nothing re-derived by hand.
    val spark = docs.sparkSession
    val termRows = spark.createDataFrame(
        java.util.Arrays.asList(vocabRows: _*), byWord.schema)
      .select(col("__w"),
        (round(log((col("__ct") + lit(k)) / (lit(nt) + lit(k) * lit(v))), 8)
          - round(log((col("__cs") + lit(k)) / (lit(ns) + lit(k) * lit(v))), 8)).as("__term"))
      .collect()
    val termMap: Map[Long, Double] =
      termRows.iterator.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bc = docs.sparkSession.sparkContext.broadcast(termMap)
    withCounts
      .select(col(idCol), col("is_target"),
        // Generate barrier (the statsThen discipline): the two
        // getField extracts below would otherwise each inline their
        // own TokenHashLogRatio(TokenHashCounts(...)) copy — two full
        // token passes per row instead of one.
        explode(array(graft.functions.TokenHashLogRatio(col("__tc"), bc))).as("__s"))
      .select(col(idCol), col("is_target"),
        col("__s.n_tokens").as("n_tokens"), col("__s.log_ratio").as("log_ratio"))
  }

  def nbClassify(docs: DataFrame, labelCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text",
      k: Double = 0.5, materialize: Option[Boolean] = None,
      serving: String = "model"): DataFrame = {
    require(k > 0.0, "smoothing k must be positive")
    require(serving == "model" || serving == "join",
      s"serving must be 'model' or 'join', got '$serving'")
    // Null / non-string labels: drop-and-cast like the sibling label
    // consumers (classTfIdf, strataOverlap) — an unlabeled doc can't
    // train or be scored against a class, and a non-string label would
    // otherwise surface as a ClassCastException in the driver-side
    // class-stat collects below.
    //
    // base: ONE kernel pass per doc — (id, label, per-row token term
    // frequencies, doc token mass). Term frequency within a document
    // depends only on that document's text, so the TokenHashCounts
    // kernel computes it in the row and the plan never shuffles the
    // token INSTANCE frame (the old explode → groupBy(id, w) exchange,
    // the widest in the query — its removal plus the label-join removal
    // below cut the sf0.1 wall 3.1 s → ~1 s). Every downstream consumer
    // reads this frame; checkpoint it once by default — the
    // minHashLshVerified `materialize` lifecycle contract (pass
    // Some(false) from loops that hold results long-term).
    // Widen ONLY a degenerate single-partition input (the one-row-group
    // local layout): a 1-partition base serializes every downstream
    // pass onto one core — measured 2.4 s single-task CPU at sf0.1
    // under the old join fan-out. But the widening must be conditional:
    // at cluster scale the scan already arrives thousands of partitions
    // wide, and the unconditional repartition this replaces was a full
    // corpus shuffle that bought nothing (and at small scale it paid
    // 32 task launches per downstream job for a 5k-row frame — the
    // dominant term in the query's wall once the kernels got cheap).
    // The explicit count matters where it does fire: the checkpointed
    // layout is decided by the BYTES of this exchange (compact rows),
    // which AQE's coalescing would fold back to one partition.
    // null text reads as an empty token list (the join formulation got
    // the same effect from explode dropping the row): the doc still
    // scores, by priors alone. Without the coalesce, a null __tc would
    // null __nd, break the class-stat collect, and null the scores.
    val projected = docs.filter(col(labelCol).isNotNull)
      .select(col(idCol), col(labelCol).cast("string").as("__c"),
        graft.functions.TokenHashCounts(coalesce(col(textCol), lit("")))
          .as("__tc"))
      .withColumn("__nd", aggregate(col("__tc"), lit(0L),
        (acc, x) => acc + x.getField("m")))
    // EFFECTIVE parallelism, not split count: a single one-row-group
    // file larger than maxPartitionBytes reports several scan
    // partitions of which only one reads rows (row groups are the
    // atomic scan unit), so the RDD partition count alone would skip
    // the widening exactly where it matters — e.g. the raw-layout
    // single-row-group dir. For a single parquet file, one driver-side
    // footer read bounds it by the row-group count; the TRUE effective
    // parallelism is min(row groups, scan partitions) — a small
    // multi-row-group file under maxPartitionBytes scans as ONE
    // partition no matter how many groups its footer lists.
    val scanPartitions = projected.rdd.getNumPartitions
    val effectiveParallelism: Int = {
      val files = docs.inputFiles
      if (files.length == 1 && files(0).endsWith(".parquet"))
        Layout.withParquetFooter(docs.sparkSession, files(0))(_.getBlocks.size())
          .fold(scanPartitions)(groups => math.min(groups, scanPartitions))
      else scanPartitions
    }
    val baseRaw =
      if (effectiveParallelism > 1) projected
      else projected.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
    val base = if (materialize.getOrElse(true)) baseRaw.localCheckpoint() else baseRaw
    // (class, token) counts: the label rides the row out of base, so no
    // join — explode the pre-counted pairs and partial-aggregate; the
    // exchange carries (class, token, count), vocab-bounded per
    // partition by the map-side combine. Feeds the vocab count and the
    // delta model — checkpoint with base.
    // (class, token) counts, COLLECTED: the label rides the row out of
    // base (no join), the exchange carries map-side-combined
    // (class, token, count) rows, and the result is the sparse model —
    // VOCAB-bounded, the same scale class as the broadcast the join
    // formulation shipped, so it comes to the driver instead and the
    // whole serving side collapses into one projection (below). A
    // corpus whose vocab outgrows driver memory (web-scale unbounded
    // tokens) is the documented escape hatch: revert to broadcasting
    // this frame and joining (commit e13fbec's shape).
    val pair = base
      .select(col("__c"), inline(col("__tc")))
      .withColumnsRenamed(Map("w" -> "__w", "m" -> "__m"))
      .groupBy(col("__c"), col("__w")).agg(sum(col("__m")).as("__cnt"))
    // serving="model" (default): the vocab-bounded sparse model comes
    // to the driver and scoring is ONE projection (NbScores). serving
    // ="join" is the documented escape hatch for corpora whose vocab
    // outgrows driver memory: the (class, token, delta) frame stays
    // DISTRIBUTED (shuffle-joined on token hash, never collected) and
    // only the catalog-sized class stats touch the driver. Both paths
    // are replay-exact to the same decimal arithmetic — pinned
    // prediction- and score-equal in OperatorsSpec.
    val pairRows: Array[(String, Long, Long)] =
      if (serving == "model")
        pair.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      else Array.empty
    // Class statistics are CATALOG-sized (one row per label): doc
    // counts and class token masses come from base in ONE job (a
    // class's token mass is the sum of its docs' masses). Priors,
    // bases and present-pair deltas are computed on the driver with
    // the engine's exact arithmetic (java.lang.Math.log + BigDecimal
    // HALF_UP — the kmeansTrain replicate-the-engine discipline; the
    // all-lazy formulation this replaced planned each 1-row helper
    // frame as its own broadcast-exchange subtree and paid 29
    // scheduled jobs).
    val classRows = base.groupBy(col("__c"))
      .agg(count(lit(1)).as("__dc"), sum(col("__nd")).as("__nc")).collect()
    val classDocCounts = classRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocabAndTotals = classRows.map(r => r.getString(0) -> r.getLong(2)).toMap
    val nDocs = classDocCounts.values.sum
    def r8(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()
    // zero labeled docs: the join formulation propagated an empty frame;
    // keep that contract (NbScores requires a non-empty class set).
    if (classDocCounts.isEmpty)
      return docs.sparkSession.createDataFrame(
        docs.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(idCol,
            docs.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("label",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("predicted",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("correct",
            org.apache.spark.sql.types.BooleanType),
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.DoubleType))))
    // labeled docs exist but carry ZERO tokens (all-null/empty text):
    // every smoothing denominator k*vocabSize is 0, log(k/0) = +Inf,
    // and BigDecimal.valueOf(Inf) would surface as an opaque
    // NumberFormatException — fail with the trainer-guard diagnosis
    // instead (the kmeansTrain/pqTrain degenerate-corpus discipline).
    // join serving pays one catalog-scale job for the vocab count (the
    // model path reads it off the already-collected pairs for free);
    // both paths then share the degenerate-corpus guard and the
    // driver-side prior/base arithmetic — classes are catalog-sized
    // under either serving mode.
    val vocabSize: Long =
      if (serving == "model") pairRows.iterator.map(_._2).toSet.size.toLong
      else pair.select("__w").distinct().count()
    require(vocabSize > 0,
      s"nbClassify: $nDocs labeled docs produced an empty vocabulary " +
        "(all text null/empty?) — a Naive Bayes model needs at least one token")
    val classNames: Array[String] = classDocCounts.keys.toArray.sorted
    val classIdx: Map[String, Int] = classNames.zipWithIndex.toMap
    // prior as the 10-scale decimal the engine's cast(double AS
    // decimal(28,10)) produces; base as the 8dp-rounded double — both
    // logs 8dp-rounded BEFORE any subtraction so every downstream
    // double is the same on every engine.
    val priors: Array[java.math.BigDecimal] = classNames.map { c =>
      java.math.BigDecimal
        .valueOf(r8(math.log(classDocCounts(c).toDouble / nDocs)))
        .setScale(10, java.math.RoundingMode.HALF_UP)
    }
    val bases: Array[Double] = classNames.map { c =>
      r8(math.log(k / (vocabAndTotals.getOrElse(c, 0L) + k * vocabSize)))
    }
    if (serving == "join") {
      // Distributed serving: the present-pair delta frame is computed
      // IN PLAN from `pair` (Spark's round/log are the r8/Math.log
      // twins — the kmeansTrain replicate-the-engine discipline), the
      // catalog-sized class table broadcasts, and the corpus joins the
      // delta frame ON TOKEN HASH — the only vocab-scale object in the
      // query never leaves the executors. This is the 100 TB shape for
      // an unbounded-vocab corpus; it trades the model path's
      // scan→project serving for one (doc, token)-pair shuffle.
      val classIdxOf = classIdx
      val catalog = docs.sparkSession.createDataFrame(
        classNames.toIndexedSeq.map { c =>
          val i = classIdxOf(c)
          (c, priors(i).doubleValue(), bases(i), vocabAndTotals.getOrElse(c, 0L))
        }).toDF("__cc", "__prior", "__base", "__ncc")
      val deltas = pair
        .join(broadcast(catalog.select(col("__cc"), col("__base"), col("__ncc"))),
          col("__c") === col("__cc"))
        .select(col("__w"), col("__cc"),
          (round(log((col("__cnt") + lit(k)) / (col("__ncc") + lit(k) * lit(vocabSize.toDouble))), 8)
            - col("__base")).as("__delta"))
      val tf = base.select(col(idCol), inline(col("__tc")))
        .withColumnsRenamed(Map("w" -> "__w", "m" -> "__m"))
      val partials = tf.join(deltas, Seq("__w"))
        .groupBy(col(idCol), col("__cc"))
        .agg(sum((col("__m") * col("__delta")).cast("decimal(28,10)")).as("__part"))
      val zeroDec = lit(java.math.BigDecimal.ZERO).cast("decimal(28,10)")
      // Round the exact DECIMAL, cast double after — the NbScores
      // arithmetic contract, so both servings hash-match bit for bit.
      val scored = base.select(col(idCol), col("__c"), col("__nd"))
        .crossJoin(broadcast(catalog.select(col("__cc"), col("__prior"), col("__base"))))
        .join(partials, Seq(idCol, "__cc"), "left")
        .select(col(idCol), col("__c").as("label"), col("__cc"),
          round(coalesce(col("__part"), zeroDec)
            + col("__prior").cast("decimal(28,10)")
            + (col("__nd") * col("__base")).cast("decimal(28,10)"), 6)
            .cast("double").as("__score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col("__score").desc, col("__cc").asc)
      return scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col(idCol), col("label"), col("__cc").as("predicted"),
          (col("__cc") === col("label")).as("correct"),
          col("__score").as("score"))
    }
    // sparse delta matrix: token-hash row × class column, NaN = the
    // (token, class) pair has no training mass
    val tokens: Array[Long] = pairRows.iterator.map(_._2).toSet.toArray.sorted
    val tokenIdx: Map[Long, Int] = tokens.zipWithIndex.toMap
    val deltaMat: Array[Array[Double]] =
      Array.fill(tokens.length, classNames.length)(Double.NaN)
    pairRows.foreach { case (c, w, cnt) =>
      val ci = classIdx(c)
      deltaMat(tokenIdx(w))(ci) =
        r8(math.log((cnt + k) / (vocabAndTotals(c) + k * vocabSize))) - bases(ci)
    }
    // Model-in-expression scoring (the NearestCentroid pattern): one
    // projection computes every class's decimal-exact score and the
    // argmax per row — scan → project, no join, no aggregate, no
    // window. See graft.functions.NbScores for the replay-exact
    // arithmetic contract.
    base.select(col(idCol), col("__c").as("label"),
        graft.functions.NbScores(col("__tc"), classNames, priors, bases,
          tokenIdx, deltaMat).as("__nb"))
      .select(col(idCol), col("label"),
        col("__nb.predicted").as("predicted"),
        (col("__nb.predicted") === col("label")).as("correct"),
        col("__nb.score").as("score"))
  }
}
