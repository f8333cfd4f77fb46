package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.sources.IndexStore

/** Deduplication operators for LLM-training-data pipelines
  * (SURVEY.md §2.12 X1/X2), designed around shuffle-on-key patterns that
  * scale linearly with data volume: every stage is a groupBy/join on a
  * content-derived key, so 100 TB spreads across
  * `spark.sql.shuffle.partitions` with no driver-side state.
  *
  * Inputs are a document table with (`idCol`, `textCol`).
  */
object Dedup {

  /** The (df, sh) composite rarity key: r = df·2³² + sh. ONE encoding
    * shared by [[ppJoinPairs]], [[ppJoinIndex]] (which also DECODES it
    * back into the stored df table), and [[ppJoinAgainst]] — a screen
    * reads keys an index persisted in an earlier process, so the three
    * sites must stay bit-compatible forever. sh < 2³² on every n (raw
    * unsigned 32-bit token hashes at n = 1, mod 2³¹−1 folds above), so
    * the encoding is injective and (df, sh)-lexicographic for df up to
    * 2³¹. */
  private val RarityKeyBase = 4294967296L // 2^32
  private val RarityKeyShMask = 4294967295L // 2^32 - 1
  private def rarityKey(df: Column, sh: Column): Column =
    df * lit(RarityKeyBase) + sh

  /** Exact dedup (X1): one winner (minimum id) per md5(text). A single
    * partial+final hash aggregate — the map-side combine means the shuffle
    * carries one row per distinct digest per mapper.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("digest", md5(col(textCol).cast("binary")))
      .groupBy("digest")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("copies"))
      .select(col(idCol), col("digest"), col("copies"))

  /** Word-n-gram shingle stream per doc, with multiplicity: (id, sh).
    *
    * The whole n-gram construction — split, md5 per token, arithmetic
    * gram fold — is ONE codegen'd expression
    * ([[graft.functions.ShingleHashes]]) producing the per-row gram-hash
    * array, which is then exploded: a pure per-row projection, ZERO
    * shuffle. Earlier rounds instead exploded tokens to rows and formed
    * grams with (n−1) `lead` windows, which paid a full sort shuffle of
    * the TOKEN stream (the single largest exchange in every shingle
    * consumer) just to rediscover an order the token array already had;
    * the interpreted `transform`-lambda assembly of the same values
    * measured ~10× slower than the compiled kernel.
    *
    * Consumers: duplicate-insensitive aggregates (MinHash minima) and
    * multiplicity-weighted votes (frequency-weighted SimHash) use this
    * directly; set-semantics consumers use [[shingles]].
    */
  def shingleStream(docs: DataFrame, n: Int, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, "shingle size must be >= 1")
    docs.select(col(idCol),
      explode(graft.functions.ShingleHashes(col(textCol), n)).as("sh"))
  }

  /** Distinct word-n-gram shingles per doc: (id, shingle-hash32). The
    * inverted-index building block for set-semantics consumers
    * (Jaccard). A doc's shingles all live in its own row, so the dedup
    * happens IN the kernel (`distinct = true`) — this is a pure
    * projection, not the full-stream `distinct()` exchange it replaces. */
  def shingles(docs: DataFrame, n: Int, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.ShingleHashes(col(textCol), n, distinct = true)).as("sh"))

  /** N-gram Jaccard near-dup pairs (X2): inverted-index self-join on the
    * shingle hash, count co-occurrences per pair, Jaccard =
    * |∩| / (|A|+|B|−|∩|), keep pairs ≥ threshold.
    *
    * The join key is the shingle, so each shingle's posting list is one
    * shuffle bucket — the standard "candidate pairs via inverted index"
    * plan that avoids the O(n²) cross join entirely.
    *
    * `maxDf` drops stop-shingles (document frequency > maxDf) before the
    * self-join. This is the load-bearing scale lever: the join emits
    * Σ|posting|² pair-rows, and a shingle shared by d docs alone
    * contributes d² — capping df bounds the worst key. Ultra-common
    * shingles carry no similarity signal (they'd intersect everywhere),
    * so Jaccard over the filtered sets is the standard practical
    * definition. Sizes are computed on the same filtered sets, keeping
    * the measure internally consistent.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
      maxDf: Long = Long.MaxValue,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Posting-list plan: ONE pass builds sorted per-shingle posting lists
    // (df filter applied in the same aggregate); candidate pairs come
    // from in-array combinatorics, not a self-join — the shingle stream
    // is scanned once instead of 4-5×, and there is no join-key blowup
    // to shuffle. Per-doc sizes are re-derived from the same postings
    // frame, so the filtered-set semantics stay internally consistent.
    val sh = shingles(docs, n, idCol, textCol)
    val postings = sh.groupBy(col("sh"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) <= maxDf)
    val exploded = postings.select(explode(col("ids")).as(idCol))
    val sizes = exploded.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    // all ordered pairs (ids[i], j) with j after i — ids sorted ⇒ a < b.
    // size > 1 guard: sequence(0, -1) would generate a DESCENDING range.
    val pairs = postings.filter(size(col("ids")) > 1).select(explode(expr(
      "flatten(transform(sequence(0, size(ids) - 2), " +
        "i -> transform(slice(ids, i + 2, size(ids)), j -> struct(ids[i] AS id_a, j AS id_b))))"
    )).as("p")).select(col("p.id_a"), col("p.id_b"))
    val inter = pairs.groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** PPJoin-style EXACT set-similarity join (prefix filtering;
    * Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW'08): every pair with n-gram-set Jaccard ≥
    * `threshold`, with NO false negatives and no probabilistic recall
    * knob — the deterministic complement to MinHash/LSH.
    *
    * The filter: order every doc's shingle set by GLOBAL rarity
    * (document frequency asc, hash asc) and keep only its first
    * `|s| - ceil(t·|s|) + 1` tokens as its prefix. Two sets with
    * Jaccard ≥ t must share ≥ ceil(t/(1+t)·(|a|+|b|)) elements, so
    * disjoint prefixes imply Jaccard < t — candidates are exactly the
    * pairs sharing a PREFIX token. Rarity order makes prefixes
    * low-frequency by construction: posting lists of prefix tokens stay
    * short without any df cap, so exactness survives skew (the
    * stop-shingle problem `maxDf` handles probabilistically in
    * [[ngramJaccardPairs]] disappears — ubiquitous shingles sort LAST
    * and never enter a prefix).
    *
    * Plan: one kernel pass builds distinct shingle arrays; the
    * frequency rides a count-over-partition window on the exploded gram
    * stream, and the rarity order is embedded as a composite key
    * `df * 2^31 + sh` — order-embedding (df, sh) lexicographically in
    * one LONG means NO global rank window exists anywhere in the plan
    * (a row_number over the vocabulary would be a single-partition
    * stage; prefix filtering only needs ORDER, never density). Docs
    * re-express their sets as sorted key arrays (one groupBy after the
    * sh-keyed window exchange); candidate pairs come from prefix-token
    * posting-list combinatorics (never a row self-join); verification
    * is ONE compiled [[graft.functions.SortedIntersectCount]] merge per
    * candidate over the key arrays. Shuffles carry ids, keys, and
    * prefix tokens — never text. (`sh` < 2^32 by construction — n ≥ 2
    * grams fold mod 2^31−1 and n = 1 emits the raw unsigned 32-bit
    * token hash — so the 2^32 multiplier keeps the embedding injective
    * and (df, sh)-lexicographic for df up to 2^31, far past any real
    * corpus's per-shingle doc count. A 2^31 multiplier would collide
    * (df, sh ≥ 2^31) with (df + 1, sh − 2^31) at n = 1.)
    *
    * Candidate pruning applies PPJoin's full filter set (Xiao et al.
    * §3), not just the prefix filter, BEFORE any key array ships:
    *
    *  - length filter — Jaccard ≥ t forces `min(sz) ≥ t·max(sz)`;
    *    posting-list entries carry each doc's set size, so undersized
    *    pairs die inside the pair generator.
    *  - positional filter (§3.2) — both sets are sorted in the SAME
    *    global rarity order, so a prefix token at (1-based) positions
    *    (i_a, i_b) bounds the true overlap by `min(i_a, i_b) +
    *    min(sz_a − i_a, sz_b − i_b)`; the bound holds for EVERY shared
    *    prefix token, so the pair-level dedup (a groupBy that replaces
    *    the old `distinct()` — same exchange) takes the TIGHTEST bound
    *    across instances and drops pairs it proves sub-threshold.
    *
    *  Both filters compare via the exact double formula the verify step
    *  uses (`ub/(sz_a+sz_b−ub) ≥ t`, monotone in the bound) — a pair
    *  that could pass verification can never be pruned by float drift.
    *  Only survivors reach the two rset-array joins, which each ship
    *  full key arrays per candidate.
    *
    * Output: (id_a, id_b, inter, sz_a, sz_b, jaccard) — identical
    * schema and values to [[ngramJaccardPairs]] at the same `n` and
    * `threshold` with no df cap (spec-pinned equality).
    *
    * `materialize = false` skips the set-preparation localCheckpoint
    * (which otherwise cuts the rarity-window recompute for the three
    * docRanks consumers) — the same opt-out contract as the sibling
    * dedup operators. r17: the checkpoint is LAZY — the first consumer
    * job (the verify phase's set broadcast build) materializes the
    * blocks as it runs, so single-evaluation costs no dedicated job
    * (the bm25/importanceWeights fold discipline; one fewer job floor
    * on the weak-set offender). */
  def ppJoinPairs(docs: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      materialize: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    // df rides a count-over-partition window on the exploded gram
    // stream — ONE exchange on sh produces the composite key directly
    // (the groupBy-df + join-back formulation shuffled the same stream
    // twice). The stream then regroups by doc: two exchanges total for
    // the whole set-preparation phase.
    val exploded = docs.select(col(idCol),
      explode(graft.functions.ShingleHashes(col(textCol), n, distinct = true)).as("sh"))
    val keyed = exploded.withColumn("r",
      rarityKey(count(lit(1)).over(Window.partitionBy(col("sh"))), col("sh")))
    // Each doc's set in rarity-key space, sorted ascending — rarest
    // first, which is simultaneously the prefix order AND the sorted
    // order the intersect kernel needs.
    val docRanks0 = keyed
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("r"))).as("rset"))
      .withColumn("sz", size(col("rset")))
      .withColumn("plen",
        (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int"))
    val docRanks =
      if (materialize) docRanks0.localCheckpoint(false) else docRanks0
    // Prefix-token posting rows (pt, id, sz, i) — the SAME row shape
    // [[ppJoinIndex]] persists, so the in-array pair combinatorics +
    // verify path below is one shared helper for the one-shot join and
    // the stored-index replay ([[ppJoinPairsFromIndex]]).
    val postings = docRanks
      .select(col(idCol), col("sz"),
        posexplode(slice(col("rset"), lit(1), col("plen"))))
      .select(col("col").as("pt"), col(idCol).as("id"), col("sz"),
        (col("pos") + 1).as("i"))
    val sets = docRanks.select(col(idCol).as("id"), col("rset"))
    intraPairsFromPostings(postings, sets, threshold)
  }

  /** Intra-corpus PPJoin pair generation + verification from the
    * row-level prefix-posting table and the rarity-keyed set table —
    * the shared back half of [[ppJoinPairs]] (which derives both frames
    * in-query) and [[ppJoinPairsFromIndex]] (which reads them from a
    * persisted [[PpJoinIndex]]). `postings` needs (pt, id, sz, i);
    * `sets` needs (id, rset). */
  private def intraPairsFromPostings(postings: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    intraPairsFromPostingLists(ppJoinPostingLists(postings), sets, threshold)

  /** pt-grouped posting lists (pt, es: sorted array of (id, sz, i)) —
    * the form the intra-corpus pair generator consumes. One exchange
    * (the pt groupBy); tokens held by a single doc are dropped (they
    * can generate no pair). The drop happens in TWO layers: the
    * composite posting key embeds the GLOBAL document frequency
    * (pt = df·2³² + sh), so rows with df = 1 — the vast majority of a
    * near-unique shingle space's prefix stream (~94% of posting rows
    * on the bench corpus) — are pruned BEFORE the exchange by a pure
    * scan-side comparison, and the post-group `size > 1` filter
    * handles the necessary-not-sufficient remainder (a df ≥ 2 token
    * whose second holder carries it OUTSIDE its prefix still groups
    * alone). Measured on the r17 interleaved A/B the full one-shot
    * read ~8% faster min/med — modest at 5k docs where scheduling
    * floors dominate, but the exchange now carries only
    * potentially-pairing postings (15k rows instead of 250k on the
    * bench corpus), which is the term that matters at 100 TB where
    * the prefix stream is data-scale. Persist this alongside a
    * [[PpJoinIndex]] (the full-table epoch does) and
    * [[ppJoinPairsFromIndex]] serves the self-join with ZERO
    * set-preparation exchanges — pair-gen starts directly from the
    * stored arrays. */
  def ppJoinPostingLists(postings: DataFrame): DataFrame =
    postings
      .filter(col("pt") >= lit(2L * RarityKeyBase))
      .groupBy(col("pt"))
      .agg(sort_array(collect_list(struct(col("id").as("id"),
        col("sz").as("sz"), col("i").as("i")))).as("es"))
      .filter(size(col("es")) > 1)

  private def intraPairsFromPostingLists(grouped: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    // Prefix-token posting lists → in-array pair combinatorics (the
    // ngramJaccardPairs postings plan, over prefixes only). Entries
    // carry (id, sz, 1-based prefix position) so the length and
    // positional filters run on ids+ints, before any array ships.
    //
    // Per shared prefix token at positions (ia, ib): overlap ≤
    // min(ia, ib) + min(sz_a − ia, sz_b − ib) (both sets share one
    // global sort order). Emit the bound with each generated pair.
    val rawPairs = grouped.select(explode(expr(
        "flatten(transform(sequence(0, size(es) - 2), " +
          "i -> transform(slice(es, i + 2, size(es)), " +
          "e -> struct(es[i].id AS id_a, e.id AS id_b, " +
          "es[i].sz AS sz_a, e.sz AS sz_b, " +
          "least(es[i].i, e.i) + least(es[i].sz - es[i].i, e.sz - e.i) AS ub))))"
      )).as("p")).select(col("p.*"))
    // The bound comparisons reuse the verify step's own formula
    // x/(sz_a+sz_b−x) ≥ t, monotone in x — so float drift can never
    // prune a pair the verification would keep.
    def jUb(x: Column): Column =
      x.cast("double") / (col("sz_a") + col("sz_b") - x) >= threshold
    val cands = rawPairs
      .filter(jUb(least(col("sz_a"), col("sz_b")))) // length filter
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(min(col("ub")).as("__ub")) // pair dedup + tightest positional bound
      .filter(jUb(col("__ub")))
    // Both sides fetch rsets from the IDENTICAL projection, so the two
    // broadcast subplans canonicalize equal and ReuseExchange ships ONE
    // broadcast build (measured: one fewer job per run; at cluster
    // scale one fewer broadcast of the set table). array_compact: a
    // parquet round-trip reads rset back with nullable elements; the
    // stored arrays never hold nulls, and the compact restores the
    // containsNull = false type the intersect kernel demands (a no-op
    // for the in-query path, whose arrays are already non-null-typed).
    val ssets = sets.select(col("id").as("__sid"),
      array_compact(col("rset")).as("__rset"))
    cands
      .join(ssets, col("id_a") === col("__sid"))
      .withColumnRenamed("__rset", "__ra").drop("__sid")
      .join(ssets, col("id_b") === col("__sid"))
      .withColumnRenamed("__rset", "__rb").drop("__sid")
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("__ra"), col("__rb")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Intra-corpus PPJoin served from a persisted [[PpJoinIndex]]:
    * identical output to `ppJoinPairs(corpus, n, threshold)` for the
    * corpus the index was built over (spec-pinned equality), with the
    * set-preparation phase — text scan, shingle kernel, rarity window,
    * per-doc set assembly — replaced by two parquet scans of the
    * stored posting rows and set table. An ingest epoch that already
    * maintains the index for incremental screening ([[ppJoinAgainst]])
    * gets the full self-join for the cost of pair-gen + verify; at
    * 100 TB this is the difference between re-deriving the rarity
    * order over the whole corpus and reading back columnar int rows
    * that prune to the prefix tokens.
    *
    * `postingLists`: pass the PERSISTED [[ppJoinPostingLists]] frame to
    * skip even the pt groupBy — pair-gen then starts directly from the
    * stored arrays (no set-prep exchange at all); omitted, the lists
    * are grouped from the index's row-level postings in-query. The
    * lists MUST be the grouping of THIS index's postings: a frame
    * persisted from a different epoch or threshold silently changes
    * which prefixes generate candidates (the same reason `n` and
    * `threshold` travel inside [[PpJoinIndex]]) — persist them beside
    * the index's own tables, as the epoch build does. */
  def ppJoinPairsFromIndex(index: PpJoinIndex,
      postingLists: Option[DataFrame] = None): DataFrame = {
    val sets = index.sets.select(col(index.idCol).as("id"), col("rset"))
    postingLists match {
      case Some(pl) => intraPairsFromPostingLists(pl, sets, index.threshold)
      case None     => intraPairsFromPostings(index.postings, sets, index.threshold)
    }
  }

  /** Build products for incremental EXACT-Jaccard screening
    * ([[ppJoinIndex]] / [[ppJoinAgainst]]): the corpus-epoch document
    * frequencies (the global rarity order new batches must sort
    * under), the row-level prefix-token posting table (pt, id, sz, i),
    * and the rarity-keyed document sets. `n` and `threshold` travel
    * WITH the index so a
    * screen can never run under mismatched parameters (a shorter
    * build-time prefix than the screen assumes would silently drop
    * true pairs). All three frames are plain DataFrames — persist
    * them as parquet once per ingest epoch and reconstruct the case
    * class to screen any number of batches. */
  final case class PpJoinIndex(dfTable: DataFrame, postings: DataFrame,
      sets: DataFrame, n: Int, threshold: Double, idCol: String)

  /** Build the [[PpJoinIndex]] for a seen corpus — the exact-Jaccard
    * counterpart of [[nearDupIndex]], closing the incremental family's
    * deterministic leg (exact digests catch byte-identical re-ingests,
    * LSH banding catches near-dups probabilistically; this screen is
    * exact: every batch↔corpus pair with Jaccard ≥ threshold, no
    * recall knob). df rides [[ppJoinPairs]]' count-over-partition
    * window — ONE gram-stream exchange (a groupBy-df + join-back
    * formulation shuffled the same stream twice) — and the standalone
    * `dfTable` the screen needs is DECOMPOSED from the finished sets'
    * composite keys (r = df·2³² + sh is invertible: shiftright 32 /
    * mask 2³²−1), so the corpus text is scanned exactly once.
    *
    * `materialize = true` localCheckpoints the set table — the build's
    * three products all derive from it, and an in-memory one-shot
    * screen would otherwise recompute the rarity window per consumer;
    * same opt-out contract as the sibling dedup operators. Parquet
    * persistence makes the flag moot (the store IS the checkpoint).
    *
    * Unlike [[ppJoinPairs]]' intra-corpus postings, EVERY prefix
    * token is kept — including ones held by a single corpus doc: a
    * batch doc may match that one holder. */
  def ppJoinIndex(seen: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      materialize: Boolean = true): PpJoinIndex = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val exploded = seen.select(col(idCol),
      explode(graft.functions.ShingleHashes(col(textCol), n, distinct = true)).as("sh"))
    val keyed = exploded.withColumn("r",
      rarityKey(count(lit(1)).over(Window.partitionBy(col("sh"))), col("sh")))
    val sets0 = keyed.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("r"))).as("rset"))
      .withColumn("sz", size(col("rset")))
    val sets = if (materialize) sets0.localCheckpoint() else sets0
    // distinct composite keys ARE the (sh, df) table — one sh maps to
    // one df, so no re-aggregation is needed, only the bit split
    val dfTable = sets.select(explode(col("rset")).as("rk")).distinct()
      .select(col("rk").bitwiseAND(lit(RarityKeyShMask)).as("sh"),
        shiftright(col("rk"), 32).as("df"))
    // ROW-level posting table (pt, id, sz, i) — [[ppJoinPairs]] needs
    // pt-grouped ARRAYS for its in-list pair combinatorics, but a
    // batch-vs-corpus screen generates pairs by JOINING the two prefix
    // streams on pt, so grouping would only add an exchange + array
    // build here and an explode there. Rows also store/prune better:
    // parquet RLE absorbs the repeated (id, sz), and a pt-range scan
    // never deserializes a posting it doesn't touch.
    val postings = sets
      .withColumn("plen",
        (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int"))
      .select(col(idCol), col("sz"),
        posexplode(slice(col("rset"), lit(1), col("plen"))))
      .select(col("col").as("pt"), col(idCol).as("id"), col("sz"),
        (col("pos") + 1).as("i"))
    PpJoinIndex(dfTable, postings, sets, n, threshold, idCol)
  }

  /** Co-locate a LOADED [[PpJoinIndex]] for serve-many screening: the
    * two index tables that [[ppJoinAgainst]] joins on — the df/rarity
    * vocabulary (keyed by sh) and the rarity-keyed sets (keyed by id)
    * — are repartitioned on their join keys, sorted within partitions,
    * and localCheckpointed, so EVERY subsequent screen's joins find
    * the corpus side already distributed and ordered: only the
    * batch-bounded side exchanges, and the sort-merge join needs no
    * corpus-side sort. Without this, each screen either broadcasts the
    * sets (fine while they fit) or re-shuffles the whole corpus-scale
    * table per batch — the exact O(corpus)-per-batch term the
    * stored-index contract exists to avoid; measured on the 10×
    * ScaleUpAb corpus the static planner flips the verify join from
    * broadcast to a full sets shuffle at the size threshold and the
    * screen's scale-up ratio jumps accordingly. One shuffle per EPOCH
    * here (charged to index build, like the parquet round trip)
    * replaces one shuffle per BATCH. This is the session-lifetime
    * analog of storing the index tables BUCKETED by their join keys —
    * which is the right physical layout for them at the 100 TB
    * target, where an index outlives any session. */
  def colocatePpJoinIndex(index: PpJoinIndex): PpJoinIndex =
    index.copy(
      dfTable = index.dfTable.repartition(col("sh"))
        .sortWithinPartitions("sh").localCheckpoint(),
      sets = index.sets.repartition(col(index.idCol))
        .sortWithinPartitions(index.idCol).localCheckpoint())

  /** Persist a [[PpJoinIndex]] as a BUCKETED epoch store
    * ([[graft.sources.IndexStore.write]]) — the store-durable form of
    * [[colocatePpJoinIndex]]: the two tables [[ppJoinAgainst]] joins
    * on are bucketed by their join keys (df/rarity vocabulary by `sh`,
    * rarity-keyed sets by id), so every screen in every FUTURE session
    * finds the corpus side already distributed and sorted — zero
    * corpus-side exchanges, paid once at the epoch write instead of
    * once per session (the localCheckpoint co-location dies with its
    * JVM; a 100 TB index outlives any session). The row-level
    * postings stay unbucketed: their only consumer streams them
    * against a broadcast prefix build, so a clustering would buy
    * nothing.
    *
    * `n`/`threshold`/`idCol`/`nBuckets` travel WITH the store in its
    * meta row, preserving the case class's mismatched-parameter
    * guarantee across sessions. Tables land in the session catalog
    * under `<tablePrefix>_{df,sets,postings,meta}` with data under
    * `path`; [[loadPpJoinIndexBucketed]] reconstructs the index from
    * the catalog names, and a new session re-attaches with
    * [[graft.sources.IndexStore.register]]. */
  def storePpJoinIndexBucketed(index: PpJoinIndex, tablePrefix: String,
      path: String, nBuckets: Int = 32): Unit =
    IndexStore.write(tablePrefix, path, nBuckets, Seq(
        IndexStore.Table("df", index.dfTable, Seq("sh")),
        IndexStore.Table("sets", index.sets, Seq(index.idCol)),
        IndexStore.Table("postings", index.postings)),
      index.sets.sparkSession
        .createDataFrame(Seq((index.n, index.threshold, index.idCol, nBuckets)))
        .toDF("n", "threshold", "id_col", "n_buckets"))

  /** Reconstruct a [[PpJoinIndex]] from [[storePpJoinIndexBucketed]]'s
    * catalog tables. The df and sets frames come back as bucketed
    * scans — [[ppJoinAgainst]] over the result plans with NO
    * corpus-side Exchange (PlanSpec-pinned), the stored-index analog
    * of the co-located screen. */
  def loadPpJoinIndexBucketed(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): PpJoinIndex = {
    val meta = spark.table(s"${tablePrefix}_meta").head()
    PpJoinIndex(
      dfTable = spark.table(s"${tablePrefix}_df"),
      postings = spark.table(s"${tablePrefix}_postings"),
      sets = spark.table(s"${tablePrefix}_sets"),
      n = meta.getInt(0), threshold = meta.getDouble(1),
      idCol = meta.getString(2))
  }

  /** Screen a batch against a prebuilt [[PpJoinIndex]]: every
    * (new_id, seen_id) pair with EXACT n-gram-set Jaccard ≥ the
    * index's threshold, O(batch + collisions) — the corpus is touched
    * only through its posting lists and the matched sets, never
    * rescanned.
    *
    * Exactness across the batch/corpus split: both sides sort under
    * ONE total order — the corpus epoch's (df, sh) composite key,
    * with batch-only tokens at df = 0 (rarest; they can match no
    * corpus token, so they soak up prefix slots without ever
    * generating candidates — the conservative direction). The prefix
    * theorem and the length/positional filters then apply verbatim
    * ([[ppJoinPairs]]' plan, re-pointed at the stored posting lists).
    *
    * Output: (new_id, seen_id, inter, sz_new, sz_seen, jaccard);
    * same-id rows are excluded (a re-screened doc is not its own
    * duplicate).
    *
    * Shuffle discipline for the corpus-dwarfs-batch regime this screen
    * exists for: the PROVABLY batch-bounded frames — prefix tokens
    * (batch × prefix length) and batch sets (one row per batch doc) —
    * ship as broadcast build sides, so the posting table is STREAMED
    * in place. The candidate table is O(collisions), not
    * batch-bounded, so its verify join against the stored sets stays
    * unhinted (broadcast when few survive, shuffle when many); the
    * rarity keying of batch grams against `dfTable` likewise stays a
    * shuffle join — at 100 TB the vocabulary is itself a big table. */
  def ppJoinAgainst(incoming: DataFrame, index: PpJoinIndex,
      textCol: String = "text"): DataFrame = {
    val idCol = index.idCol
    val threshold = index.threshold
    val grams = incoming.select(col(idCol),
      explode(graft.functions.ShingleHashes(col(textCol), index.n, distinct = true)).as("sh"))
    // Rarity keying stays a SHUFFLE join (r14 A/B kept it): a
    // broadcast semi-join reduction (distinct batch tokens → stream
    // dfTable → broadcast the slice back) reads one job heavier and no
    // faster at the measured SF — the vocabulary shuffles quickly at
    // any batch-bounded slice size, and at 100 TB the vocabulary is
    // itself a big table the shuffle partitions across executors.
    val keyed = grams.join(index.dfTable, Seq("sh"), "left")
      .withColumn("r", rarityKey(coalesce(col("df"), lit(0L)), col("sh")))
    // bsets feeds two broadcast builds (prefix tokens, verify arrays);
    // measured (r14, re-adjudicated r17 on the co-located shape):
    // recomputing the batch-side chain per consumer is cheaper than a
    // checkpoint — the batch is the SMALL side by contract, so the
    // duplicate work is bounded by the batch scan (r17 interleaved:
    // a lazy bsets checkpoint tied at 1x and read 3.50 vs 2.55 on the
    // 10x ScaleUpAb ratio — materializing 10x batch arrays costs more
    // than re-running the gram kernel chain).
    val bsets = keyed.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("r"))).as("__brset"))
      .withColumn("__bsz", size(col("__brset")))
      .withColumn("__bplen",
        (col("__bsz") - ceil(lit(threshold) * col("__bsz")) + 1).cast("int"))
    val bprefixes = bsets
      .select(col(idCol).as("new_id"), col("__bsz"),
        posexplode(slice(col("__brset"), lit(1), col("__bplen"))))
      .select(col("new_id"), col("__bsz"), (col("pos") + 1).as("__bi"), col("col").as("pt"))
    val rawPairs = index.postings.join(broadcast(bprefixes), "pt")
      .select(col("new_id"), col("id").as("seen_id"),
        col("__bsz").as("sz_new"), col("sz").as("sz_seen"),
        (least(col("__bi"), col("i"))
          + least(col("__bsz") - col("__bi"), col("sz") - col("i"))).as("ub"))
      .filter(col("new_id") =!= col("seen_id"))
    def jUb(x: Column): Column =
      x.cast("double") / (col("sz_new") + col("sz_seen") - x) >= threshold
    val cands = rawPairs
      .filter(jUb(least(col("sz_new"), col("sz_seen")))) // length filter
      .groupBy(col("new_id"), col("seen_id"), col("sz_new"), col("sz_seen"))
      .agg(min(col("ub")).as("__ub")) // pair dedup + tightest positional bound
      .filter(jUb(col("__ub")))
    // The candidate table is O(collisions), NOT batch-bounded — at a
    // hostile threshold/df profile (uniform frequencies, no rare
    // tokens) it reaches batch × posting-list size, so it must never
    // ride a broadcast (a 200k-doc stress at t = 0.9 produced 44M
    // candidates and broke the driver collecting them). bsets IS
    // batch-bounded (one row per batch doc) and broadcasts; the
    // corpus-sets join stays unhinted so the planner (AQE at cluster
    // scale) picks broadcast when the surviving candidates are few and
    // a shuffle join when they are not.
    //
    // array_compact: a parquet round-trip reads rset back with nullable
    // elements (list element nullability is not preserved); the stored
    // arrays never actually hold nulls, and the compact restores the
    // containsNull = false type the intersect kernel demands.
    cands
      .join(broadcast(bsets.select(col(idCol).as("new_id"), col("__brset"))), "new_id")
      .join(index.sets.select(col(idCol).as("seen_id"),
        array_compact(col("rset")).as("__srset")), "seen_id")
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("__brset"), col("__srset")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_new") + col("sz_seen") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("seen_id"), col("inter"),
        col("sz_new"), col("sz_seen"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** One-shot convenience: build the index from `seen` and screen
    * `incoming` — the [[incrementalNearDup]] shape for the exact leg.
    * Real ingest loops build [[ppJoinIndex]] once per epoch. */
  def incrementalPpJoin(incoming: DataFrame, seen: DataFrame,
      n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      materialize: Boolean = true): DataFrame =
    ppJoinAgainst(incoming,
      ppJoinIndex(seen, n, threshold, idCol, textCol, materialize), textCol)

  /** MinHash signatures (X2): for each doc, `numHashes` permutation
    * minima over its shingle hashes. Output: (id, i, sig).
    *
    * A signature is a pure function of ONE document's shingles, so the
    * whole signature layer is a per-row projection
    * ([[graft.functions.MinHashFromGrams]] over the
    * [[graft.functions.ShingleHashes]] gram array) — ZERO shuffle.
    * Earlier rounds aggregated `numHashes` `min` expressions over the
    * exploded shingle stream, which shuffled every token-derived row by
    * doc id to fold minima that never needed to leave the row.
    */
  /** One row per doc with `numHashes` signature columns sig_0..sig_k —
    * a pure projection; docs with no shingles yield no row (the
    * aggregate formulation had no group for them). */
  private def minHashWide(docs: DataFrame, n: Int, numHashes: Int,
      idCol: String, textCol: String): DataFrame = {
    val sigs = graft.functions.MinHashFromGrams(
      graft.functions.ShingleHashes(col(textCol), n), numHashes)
    // explode(array(kernel)): the Generate barrier keeps the signature
    // kernel to ONE evaluation per row — the numHashes getItem extracts
    // below are extract-only consumers, which CollapseProject inlines
    // even for expensive producers (the statsThen discipline; the
    // null-filter rides ABOVE the Generate, so pushdown cannot clone
    // the kernel into the scan filter either).
    docs.select(col(idCol), explode(array(sigs)).as("__sigs"))
      .filter(col("__sigs").isNotNull)
      .select(col(idCol) +: (0 until numHashes).map(i =>
        col("__sigs").getItem(i).as(s"sig_$i")): _*)
  }

  def minHashSignatures(docs: DataFrame, n: Int, numHashes: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val wide = minHashWide(docs, n, numHashes, idCol, textCol)
    wide.select(col(idCol),
      explode(array((0 until numHashes).map(i =>
        struct(lit(i).as("i"), col(s"sig_$i").as("sig"))): _*)).as("p"))
      .select(col(idCol), col("p.i").as("i"), col("p.sig").as("sig"))
  }

  /** MinHash + LSH near-dup candidates (X2, the scale path): band the
    * signature vector (`bands` bands of `numHashes/bands` rows), bucket
    * docs by (band, banded-signature-hash), and emit distinct candidate
    * pairs that share ≥1 bucket. Each band join is an equi-join on the
    * band key — the O(n²) pair space is never materialized, only true
    * bucket collisions.
    */
  def minHashLshCandidates(docs: DataFrame, n: Int, numHashes: Int, bands: Int,
      maxBucket: Int = DefaultMaxBucket,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    lshCandidatesFromWide(minHashWide(docs, n, numHashes, idCol, textCol),
      numHashes, bands, idCol, maxBucket)

  /** Degenerate-bucket cap for the LSH/SimHash candidate generators.
    * A bucket holding d docs emits d²/2 pair rows from ONE
    * `sort_array(collect_list(...))` array in ONE task — at 100 TB a
    * degenerate band key (empty docs, boilerplate, an all-zero SimHash
    * band) would collect millions of ids into a single row and OOM the
    * executor before the d² explosion even starts. Like `maxDf` in
    * [[ngramJaccardPairs]], a bucket that hot carries no similarity
    * signal (its members collide on a band key shared by a meaningful
    * fraction of the corpus, not because they resemble each other), so
    * dropping it is the standard practical semantics, not an
    * approximation loss. Use the `*DroppedBuckets` companions to audit
    * what a given cap discards. */
  val DefaultMaxBucket: Int = 1000

  /** Per-bucket posting lists of the MinHash-LSH banding: (band,
    * band_key, ids). Shared by candidate generation and drop
    * accounting. */
  /** Per-row (id, band, band_key) projection off the wide signature
    * frame — band keys come straight off the row (sig columns are
    * already in band order): no unpivot and no (id, band)
    * re-aggregation shuffle between the signature projection and
    * whatever consumes the keys. */
  private def bandKeyRows(wide: DataFrame, numHashes: Int, bands: Int,
      idCol: String): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (b * rows until (b + 1) * rows)
          .map(i => col(s"sig_$i").cast("string")): _*).as("band_key"))
    }
    wide
      .select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  private def lshBucketsFromWide(wide: DataFrame, numHashes: Int, bands: Int,
      idCol: String): DataFrame =
    bandKeyRows(wide, numHashes, bands, idCol)
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))

  private def lshCandidatesFromWide(wide: DataFrame, numHashes: Int, bands: Int,
      idCol: String, maxBucket: Int): DataFrame = {
    require(maxBucket > 1, "maxBucket must be > 1")
    // Posting-list pair generation per bucket (same plan shape as
    // ngramJaccardPairs): one aggregate, no self-join recomputation.
    // Buckets over `maxBucket` are dropped BEFORE the in-array pair
    // explosion (see [[DefaultMaxBucket]]).
    lshBucketsFromWide(wide, numHashes, bands, idCol)
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(expr(
        "flatten(transform(sequence(0, size(ids) - 2), " +
          "i -> transform(slice(ids, i + 2, size(ids)), j -> struct(ids[i] AS id_a, j AS id_b))))"
      )).as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct()
  }

  /** Drop-accounting companion of [[minHashLshCandidates]]: the buckets a
    * given `maxBucket` cap discards, with their sizes — emit/log this
    * beside the candidate run so capped corpora are auditable.
    * Output: (band, band_key, bucket_size). */
  def minHashLshDroppedBuckets(docs: DataFrame, n: Int, numHashes: Int, bands: Int,
      maxBucket: Int = DefaultMaxBucket,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    lshBucketsFromWide(minHashWide(docs, n, numHashes, idCol, textCol), numHashes, bands, idCol)
      .filter(size(col("ids")) > maxBucket)
      // long, matching simHashDroppedBuckets' count-based column
      .select(col("band"), col("band_key"), size(col("ids")).cast("long").as("bucket_size"))

  /** MinHash-LSH candidates → EXACT Jaccard verify (X2) — the
    * generate-then-verify composition a production near-dup pipeline
    * runs (the Hamming analog is [[simHashNearDup]]): banding proposes
    * candidate pairs, the exact measure is computed ONLY on those pairs,
    * and pairs below `threshold` (banding false-positives) are dropped.
    *
    * The verify pass never touches the O(n²) pair space: each doc's
    * distinct shingles collapse to ONE sorted-array row, the candidate
    * list joins those arrays on doc id (two equi-joins), and the
    * intersection is a per-pair two-pointer merge count
    * ([[graft.functions.SortedIntersectCount]]) — O(|A| + |B|) per
    * candidate with zero allocation, no per-shingle row explosion and no
    * (pair, shingle) shuffle. Unlike [[ngramJaccardPairs]] (which caps
    * posting lists with `maxDf` to bound its d² pair generation), the
    * verify runs on FULL shingle sets — candidates are already bounded
    * by the banding, so the true Jaccard needs no stop-shingle
    * approximation here.
    *
    * Output: (id_a, id_b, inter, sz_a, sz_b, jaccard ≥ threshold).
    *
    * `materialize` — lifecycle of the per-doc verify state (the
    * checkpointed (set, sigs) frame read three times below). Default
    * (`None`/`Some(true)`): `localCheckpoint()` it once; the blocks
    * live until the RETURNED DataFrame becomes unreachable and the
    * ContextCleaner reclaims them — fine for one-shot/batch use, but a
    * long-lived session calling this in a loop while HOLDING the
    * results accumulates block storage. Such callers pass
    * `Some(false)`: the per-doc state is then recomputed by each of
    * its three consumers (it is a pure projection of `docs`, so the
    * result is identical — the cost is ~3× the signature kernels, no
    * storage), or persist `docs` themselves and unpersist on their own
    * schedule. */
  def minHashLshVerified(docs: DataFrame, n: Int, numHashes: Int, bands: Int,
      threshold: Double, maxBucket: Int = DefaultMaxBucket,
      idCol: String = "doc_id", textCol: String = "text",
      materialize: Option[Boolean] = None): DataFrame = {
    require(threshold > 0.0, "threshold must be positive (zero-overlap candidates are dropped)")
    // The per-doc verify state — sorted distinct shingle-set array AND
    // the full signature vector — is a pure function of each document's
    // text, so it is ONE kernel projection (the deduped-sorted
    // [[graft.functions.ShingleHashes]] array feeds
    // [[graft.functions.MinHashFromGrams]]; min is
    // duplicate-insensitive, so signatures off the distinct array are
    // identical to stream signatures): ZERO aggregate, ZERO shuffle.
    // Earlier shapes shuffled the whole shingle stream by doc id to
    // fold this state. The frame (one compact row per document) is
    // checkpointed once and read three times (banding, both verify
    // joins).
    val grams = graft.functions.ShingleHashes(col(textCol), n, distinct = true)
    val perDocRaw = docs
      .select(col(idCol), grams.as("__set"),
        graft.functions.MinHashFromGrams(grams, numHashes).as("__sigs"))
      .filter(col("__sigs").isNotNull)
      .select(col(idCol) +: col("__set") +: (0 until numHashes).map(i =>
        col("__sigs").getItem(i).as(s"sig_$i")): _*)
    val perDoc =
      if (materialize.getOrElse(true)) perDocRaw.localCheckpoint() else perDocRaw
    val cand = lshCandidatesFromWide(perDoc, numHashes, bands, idCol, maxBucket)
    val sets = perDoc.select(col(idCol), col("__set"),
      size(col("__set")).cast("long").as("__sz"))
    cand
      .join(sets.select(col(idCol).as("id_a"),
        col("__set").as("__set_a"), col("__sz").as("sz_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"),
        col("__set").as("__set_b"), col("__sz").as("sz_b")), "id_b")
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("__set_a"), col("__set_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** SimHash fingerprint (X2): 48-bit weighted-bit-vote fingerprint over
    * the doc's distinct shingles. Near-dups then reduce to Hamming
    * proximity on a 64-bit integer — cheap to band/bucket at scale.
    * 48 bits keeps every partial sum and the final `Σ bit<<b` inside a
    * non-negative BIGINT in both engines. */
  def simHash(docs: DataFrame, n: Int, bits: Int = 48,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // Frequency-weighted (classic) SimHash: each gram OCCURRENCE votes,
    // so the kernel consumes the multiset gram array. The fingerprint
    // is a pure function of one document's grams, so the whole thing is
    // a per-row projection ([[graft.functions.SimHashFromGrams]]) —
    // ZERO shuffle; earlier rounds aggregated ±1 bit votes over the
    // exploded shingle stream, a full stream shuffle keyed by doc id.
    // explode(array(kernel)): Generate barrier so the null filter (and
    // any downstream extraction) consumes the fingerprint ATTRIBUTE —
    // predicate pushdown was cloning the whole shingle+fingerprint
    // kernel into a scan-side filter copy (the statsThen discipline).
    docs.select(col(idCol),
        explode(array(graft.functions.SimHashFromGrams(
          graft.functions.ShingleHashes(col(textCol), n), bits))).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Incremental ingest dedup: keep only the docs of `incoming` whose
    * content digest does NOT already appear in `seen` (a digest-keyed
    * frame from prior batches). A left-anti join on the digest — the
    * shape that keeps continuous corpus ingestion O(batch), shuffling
    * the batch against the (bloom-filterable) digest index instead of
    * re-deduping history. */
  def incrementalNew(incoming: DataFrame, seen: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      seenDigestCol: String = "digest"): DataFrame =
    incoming
      .withColumn("digest", md5(col(textCol).cast("binary")))
      .join(seen.select(col(seenDigestCol).as("digest")), Seq("digest"), "left_anti")

  /** [[incrementalNew]] with a Bloom prefilter — the shape for ingest
    * against a HISTORY-SIZED digest index (billions of digests at
    * 100 TB, far too big to broadcast, expensive to shuffle against
    * every batch).
    *
    * One pass over `seen` builds a Bloom filter of the digest index
    * (`DataFrameStatFunctions.bloomFilter`: aggregated tree-style on
    * the executors, only the filter's bits come to the driver); the
    * filter then splits the incoming batch BEFORE the anti-join:
    *
    *  - bloom says NO  → the digest is DEFINITELY unseen (no false
    *    negatives): the row is new, no join needed;
    *  - bloom says maybe → the anti-join verifies, so Bloom false
    *    positives drop out exactly as before.
    *
    * The union is therefore EXACTLY [[incrementalNew]]'s result — the
    * probabilistic structure only routes rows, it never decides them —
    * while the anti-join's shuffle shrinks from |batch| to
    * ~`fpp` × |batch| (plus true re-ingests). Size `expectedDigests`
    * to the INDEX cardinality: n=10⁹ at fpp=0.01 is ~1.2 GB of filter
    * bits (fine as a broadcast; recycle it across batches in a real
    * ingest loop — this convenience entry rebuilds per call).
    *
    * The prefilter predicate is a deterministic function of the digest
    * bytes and the built filter, so retried tasks route identically. */
  def incrementalNewBloom(incoming: DataFrame, seen: DataFrame,
      expectedDigests: Long, fpp: Double = 0.01,
      idCol: String = "doc_id", textCol: String = "text",
      seenDigestCol: String = "digest"): DataFrame = {
    require(expectedDigests > 0, "expectedDigests must be positive")
    // build + probe through the paired codegen helper — the probe is
    // Spark's own BloomFilterMightContain expression, so the split
    // stays inside whole-stage codegen (no per-row Scala udf)
    val bloom = graft.functions.BloomProbe.build(
      seen, col(seenDigestCol), expectedDigests, fpp)
    val digested = incoming.withColumn("digest", md5(col(textCol).cast("binary")))
    val maybeSeen = graft.functions.BloomProbe.mightContain(bloom, col("digest"))
    val definitelyNew = digested.filter(!maybeSeen)
    val verified = digested.filter(maybeSeen)
      .join(seen.select(col(seenDigestCol).as("digest")), Seq("digest"), "left_anti")
    definitelyNew.unionByName(verified)
  }

  /** Incremental NEAR-dup: which incoming docs LSH-collide with the
    * already-ingested corpus — the fuzzy counterpart of
    * [[incrementalNew]], closing the continuous-ingest story for
    * near-duplicates (exact digests only catch byte-identical
    * re-ingests; a re-crawled page with a new timestamp sails past
    * them). Emits candidate (new_id, seen_id) pairs sharing ≥1 MinHash
    * band key; feed them to the same exact-Jaccard verify as
    * [[minHashLshVerified]] when banding precision isn't enough.
    *
    * Scale shape: both sides' band keys are pure kernel projections
    * (ShingleHashes → MinHashFromGrams, zero shuffle); the join is
    * band-keyed — O(batch + collisions), never history × batch. The
    * seen side aggregates to capped posting lists FIRST
    * ([[DefaultMaxBucket]]: a band key matching a meaningful fraction
    * of history is boilerplate, not similarity), so a degenerate key
    * can't explode the join; in a real ingest loop the seen side's
    * (band, band_key, ids) index is computed once per epoch and reused
    * across batches — exactly the frame this method builds internally. */
  def incrementalNearDup(incoming: DataFrame, seen: DataFrame,
      n: Int, numHashes: Int, bands: Int,
      maxBucket: Int = DefaultMaxBucket,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    incrementalNearDupAgainst(incoming,
      nearDupIndex(seen, n, numHashes, bands, maxBucket, idCol, textCol),
      n, numHashes, bands, idCol, textCol)

  /** The seen side's (band, band_key, ids) posting-list index as a
    * first-class build product: compute it once per ingest epoch,
    * persist/write it, and screen every batch with
    * [[incrementalNearDupAgainst]] — the one-shot
    * [[incrementalNearDup]] rebuilds this frame per call, paying the
    * whole history's signature+bucket cost on every batch; against a
    * prebuilt index the batch pays only its own keys plus the join
    * (StressDocs times both shapes at 1M docs / 10k batch).
    * Buckets over `maxBucket` are dropped here, at build time, with the
    * usual boilerplate-key rationale ([[DefaultMaxBucket]]). */
  def nearDupIndex(seen: DataFrame, n: Int, numHashes: Int, bands: Int,
      maxBucket: Int = DefaultMaxBucket,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxBucket > 1, "maxBucket must be > 1")
    lshBucketsFromWide(
      minHashWide(seen, n, numHashes, idCol, textCol), numHashes, bands, idCol)
      .filter(size(col("ids")) <= maxBucket)
  }

  /** BUCKETED epoch store ([[graft.sources.IndexStore.write]]) for a
    * [[nearDupIndex]] frame (r19, layout parity with the ppjoin/BM25
    * stores): posting lists bucketed by their join key (`band`,
    * `band_key`), so a LOADED index's scan exposes `HashPartitioning`
    * to the planner. The current screen
    * ([[incrementalNearDupAgainst]]) broadcasts the batch side, so no
    * corpus exchange exists to remove TODAY — the bucketing is paid
    * once at the epoch write to foreclose the per-session re-shuffle
    * for any future screen shape that does shuffle the index (equally
    * keyed joins/aggregations skip the exchange, §2.4). Build params
    * travel in the meta row; a new session re-attaches with
    * [[graft.sources.IndexStore.register]]. */
  def storeNearDupIndexBucketed(index: DataFrame, n: Int, numHashes: Int,
      bands: Int, maxBucket: Int, tablePrefix: String, path: String,
      nBuckets: Int = 32, idCol: String = "doc_id"): Unit =
    IndexStore.write(tablePrefix, path, nBuckets,
      Seq(IndexStore.Table("postings", index, Seq("band", "band_key"))),
      index.sparkSession
        .createDataFrame(Seq((n, numHashes, bands, maxBucket, nBuckets, idCol)))
        .toDF("n", "num_hashes", "bands", "max_bucket", "n_buckets", "id_col"))

  /** The loaded posting-list frame of a [[storeNearDupIndexBucketed]]
    * store: a bucketed scan exposing HashPartitioning(band, band_key)
    * — feed it to [[incrementalNearDupAgainst]] exactly like an
    * in-session [[nearDupIndex]] frame. */
  def loadNearDupIndexBucketed(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): DataFrame =
    spark.table(s"${tablePrefix}_postings")

  /** Screen a batch against a prebuilt [[nearDupIndex]]. `n`,
    * `numHashes`, and `bands` must match the index's build parameters
    * (band keys are concatenations of the signature components, so a
    * mismatch joins on incompatible keys and silently finds nothing). */
  def incrementalNearDupAgainst(incoming: DataFrame, index: DataFrame,
      n: Int, numHashes: Int, bands: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val newKeys = bandKeyRows(
      minHashWide(incoming, n, numHashes, idCol, textCol), numHashes, bands, idCol)
    // the batch key frame is PROVABLY batch-bounded (batch × bands
    // rows), so it ships as the pinned broadcast build and the
    // corpus-scale index STREAMS in place — the ppJoinAgainst shuffle
    // discipline (r18): unhinted, the static planner's size estimate
    // for the kernel-derived batch side decides, and past the
    // threshold it re-shuffles the WHOLE index per batch — the
    // O(corpus)-per-batch flip the ppjoin screen measured and fixed
    // in r17. Wall-neutral at measured SFs (the planner already picks
    // this join); the hint forecloses the flip at corpus scale.
    index.join(broadcast(newKeys), Seq("band", "band_key"))
      .select(col(idCol).as("new_id"), explode(col("ids")).as("seen_id"))
      .filter(col("new_id") =!= col("seen_id"))
      .distinct()
  }

  /** Cross-document duplicated-span census — the detection pass of
    * span-level dedup (the pipeline step that strips boilerplate
    * repeated ACROSS documents — headers, licenses, navigation — where
    * whole-document dedup sees distinct docs): split each document
    * into consecutive `spanTokens`-token spans, digest each span, and
    * report every occurrence of a span whose exact token sequence
    * appears in MORE THAN ONE document, with its document count.
    * Callers drop or mask the reported (doc, span) positions.
    *
    * Scale shape: span digesting is a pure per-row projection
    * (tokenize → slice → md5, no shuffle); the census is one digest-
    * keyed aggregate and one equi-join back on the digest — both
    * shuffles carry (id, span_no, digest) rows, never text. The last
    * span of a document may be shorter than `spanTokens` (standard
    * chunking; a short tail span is still comparable across docs).
    *
    * Output: (idCol, span_no, span_digest, n_docs ≥ 2), one row per
    * duplicated-span OCCURRENCE.
    */
  def duplicatedSpans(docs: DataFrame, spanTokens: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spans = spanFrame(docs, spanTokens, idCol, textCol, withText = false)
    val dups = spans.groupBy("span_digest")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") > 1)
    spans.join(dups, "span_digest")
      .select(col(idCol), col("span_no"), col("span_digest"), col("n_docs"))
  }

  /** Content-defined chunk census — the CDC counterpart of
    * [[duplicatedSpans]]: chunk the corpus with the
    * [[graft.functions.CdcChunks]] rolling-hash kernel (boundaries are
    * a pure function of local content, so a 1-char edit re-chunks only
    * its neighborhood — the property that makes CDC the standard
    * primitive for near-identical blob dedup) and report every chunk
    * digest that recurs across at least `minDocs` distinct documents.
    *
    * Scale shape: the per-row decomposition is one kernel pass; the
    * census shuffle carries (id, digest, len) — never text; the
    * aggregate is a digest-keyed count pair. Same pipeline shape as
    * the span census, different boundary discipline. */
  def cdcChunkCensus(docs: DataFrame, window: Int = 4, avgSize: Int = 64,
      minDocs: Int = 2, idCol: String = "doc_id",
      textCol: String = "text", minSize: Int = 0, maxSize: Int = 0): DataFrame = {
    require(minDocs >= 1, "minDocs must be >= 1")
    docs
      .select(col(idCol),
        explode(graft.functions.CdcChunks(col(textCol), window, avgSize,
          minSize, maxSize)).as("__c"))
      .select(col(idCol), col("__c.digest").as("digest"), col("__c.len").as("len"))
      .groupBy("digest")
      .agg(max(col("len")).as("chunk_len"),
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
  }

  /** CDC containment pairs — the pair face of [[cdcChunkCensus]]:
    * documents sharing at least `minShared` DISTINCT chunk digests,
    * scored by containment (shared chunks over the smaller document's
    * chunk count). Catches near-identical long documents whose shared
    * runs token-shingle Jaccard dilutes away (chunks are ~`avgSize`
    * chars, so one shared paragraph is several shared digests while
    * contributing thousands of diluting token shingles).
    *
    * Same posting-list plan as [[ngramJaccardPairs]]: sorted per-digest
    * posting lists, in-array pair generation, `maxPosting` cap on
    * degenerate digests (boilerplate chunks shared by half the corpus
    * carry no pair signal — the [[DefaultMaxBucket]] argument). The
    * containment denominator is each doc's UNCAPPED distinct-chunk
    * count, so the cap only limits candidate generation, never the
    * score's meaning. */
  def cdcContainmentPairs(docs: DataFrame, window: Int = 4, avgSize: Int = 64,
      minShared: Int = 3, maxPosting: Int = DefaultMaxBucket,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val dch = docs
      .select(col(idCol),
        explode(graft.functions.CdcChunks(col(textCol), window, avgSize)).as("__c"))
      .select(col(idCol), col("__c.digest").as("digest"))
      .distinct()
    val sizes = dch.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks"))
    val postings = dch.groupBy(col("digest"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxPosting)
    val pairs = postings.select(explode(expr(
      "flatten(transform(sequence(0, size(ids) - 2), " +
        "i -> transform(slice(ids, i + 2, size(ids)), j -> struct(ids[i] AS id_a, j AS id_b))))"
    )).as("p")).select(col("p.id_a"), col("p.id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= minShared)
    pairs
      .join(sizes.select(col(idCol).as("id_a"), col("n_chunks").as("__na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n_chunks").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared_chunks"),
        round(col("shared_chunks").cast("double") / least(col("__na"), col("__nb")), 4)
          .as("containment"))
  }

  /** One row per consecutive `spanTokens`-token span:
    * (idCol, span_no, [span_text,] span_digest) — shared by the census
    * ([[duplicatedSpans]], `withText = false`: the exploded stream
    * carries digests only, never document bodies) and the remover
    * ([[removeDuplicatedSpans]], which needs the text for reassembly).
    * The per-row decomposition is ONE [[graft.functions.SpanDigests]]
    * kernel pass — the `transform`/`slice`/`concat_ws` formulation it
    * replaced evaluated interpreted lambdas per span and dominated the
    * census wall time. */
  private def spanFrame(docs: DataFrame, spanTokens: Int,
      idCol: String, textCol: String, withText: Boolean): DataFrame = {
    val base = docs.select(col(idCol),
      explode(graft.functions.SpanDigests(col(textCol), spanTokens, withText)).as("s"))
    if (withText)
      base.select(col(idCol), col("s.span_no"), col("s.span_text"), col("s.span_digest"))
    else
      base.select(col(idCol), col("s.span_no"), col("s.span_digest"))
  }

  /** The removal half of span-level dedup ([[duplicatedSpans]] is the
    * census): keep each span's GLOBALLY FIRST occurrence (min
    * (idCol, span_no) — deterministic, so retries and engines agree),
    * drop every later occurrence (including within-doc repeats), and
    * reassemble each document from its kept spans in order — the
    * C4-style "remove repeated boilerplate, keep one copy" pass.
    *
    * Scale shape: the first-occurrence choice is ONE window over
    * digest partitions (each partition = one span's occurrence list —
    * bounded by the span's document frequency, not corpus size);
    * reassembly is one groupBy per doc collecting (span_no, text)
    * pairs. Emits EVERY input document — a doc whose spans were all
    * dropped (or that had no tokens) comes back with empty
    * `clean_text`, so the output is a complete cleaned corpus, not a
    * filtered one.
    *
    * Output: (idCol, clean_text, n_kept, n_dropped). */
  def removeDuplicatedSpans(docs: DataFrame, spanTokens: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spans = spanFrame(docs, spanTokens, idCol, textCol, withText = true)
    val occ = Window.partitionBy(col("span_digest"))
      .orderBy(col(idCol), col("span_no"))
    val marked = spans.withColumn("__occ", row_number().over(occ))
    val agg = marked.groupBy(col(idCol)).agg(
      concat_ws(" ", transform(
        array_sort(collect_list(when(col("__occ") === 1,
          struct(col("span_no"), col("span_text"))))),
        e => e.getField("span_text"))).as("clean_text"),
      count(when(col("__occ") === 1, lit(1))).as("n_kept"),
      count(when(col("__occ") > 1, lit(1))).as("n_dropped"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** SimHash near-dup pairs (X2): Hamming-proximity search banded by the
    * pigeonhole principle. Two `bits`-bit fingerprints within
    * `maxHamming` differing bits must agree EXACTLY on at least one of
    * (maxHamming+1) equal-width bands — so candidate generation is an
    * equi-join on (band, band-bits), never an O(n²) comparison, and the
    * exact `bit_count(xor)` filter runs only on bucket collisions. The
    * same posting-list pair generation as the other dedup plans (one
    * aggregate, in-array combinatorics).
    *
    * Sizing for scale — band KEY-SPACE SATURATION: each band has
    * 2^(bits/(maxHamming+1)) possible keys, and random fingerprints
    * spread uniformly, so expected bucket size is n / 2^width and
    * expected candidate-pair work n² / 2^width — QUADRATIC in corpus
    * size once n approaches the key space. The default (48 bits, 4
    * bands, 12-bit keys ⇒ 4096 buckets/band) is sized for ~10⁵-doc
    * blocks; at larger n widen the fingerprint (`bits` up to 60 ⇒
    * 15-bit keys) and/or pre-block the corpus (by language/length/
    * domain) so each banding instance sees a bounded n — `maxBucket`
    * caps the degenerate hot keys but cannot linearize a saturated key
    * space.
    *
    * Output: (id_a, id_b, hamming) with hamming ≤ maxHamming.
    */
  /** (id, simhash, band, key) rows of the pigeonhole banding — ONE
    * definition shared by [[simHashNearDup]] and its drop-accounting
    * companion, so the audit can never drift from what the candidate
    * path actually buckets. */
  private def simHashBanded(docs: DataFrame, n: Int, bits: Int, maxHamming: Int,
      idCol: String, textCol: String): DataFrame = {
    val bands = maxHamming + 1
    require(bits % bands == 0, s"bits=$bits must divide into ${bands} bands")
    val width = bits / bands
    val mask = (1L << width) - 1
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * width).bitwiseAND(lit(mask)).as("key"))
    }
    simHash(docs, n, bits, idCol, textCol)
      .select(col(idCol), col("simhash"), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  def simHashNearDup(docs: DataFrame, n: Int, bits: Int = 48, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxBucket > 1, "maxBucket must be > 1")
    val banded = simHashBanded(docs, n, bits, maxHamming, idCol, textCol)
    // Degenerate-bucket cap before the d² pair explosion — same rationale
    // as [[DefaultMaxBucket]] (an all-zero band key over near-empty docs
    // is the classic SimHash hot bucket).
    banded.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(struct(col(idCol), col("simhash")))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(expr(
        s"flatten(transform(sequence(0, size(ids) - 2), " +
          s"i -> transform(slice(ids, i + 2, size(ids)), " +
          s"j -> struct(ids[i].$idCol AS id_a, ids[i].simhash AS sh_a, " +
          s"j.$idCol AS id_b, j.simhash AS sh_b))))"
      )).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.sh_a"), col("p.sh_b"))
      // Hamming is a pure projection of the pair, so filter BEFORE the
      // distinct: the dedup exchange then carries only true near-dups
      // (collisions above maxHamming — usually the vast majority of
      // bucket co-occupants — never shuffle).
      .withColumn("hamming",
        expr("cast(bit_count(sh_a ^ sh_b) as int)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** Drop-accounting companion of [[simHashNearDup]]: the (band, key)
    * buckets a given `maxBucket` cap discards, with their sizes —
    * built on the SAME [[simHashBanded]] frame as the candidate path. */
  def simHashDroppedBuckets(docs: DataFrame, n: Int, bits: Int = 48, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simHashBanded(docs, n, bits, maxHamming, idCol, textCol)
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)

  /** TIGHT banding for the 64-bit Hamming screens (r18): exactly
    * `maxHamming + 1` bands of contiguous bit-slices (widths within one
    * bit of 64/nBands) over the recombined fingerprint. The pigeonhole
    * guarantee is exact — a pair within `maxHamming` flipped bits
    * touches at most `maxHamming` of the `maxHamming + 1` bands, so it
    * shares at least one key — and the band count is the MINIMUM that
    * guarantees it, which matters twice at scale: fewer bands generate
    * fewer duplicate candidates, and the wider keys partition a
    * low-entropy fingerprint space far more finely than fixed
    * byte-bands (measured on the video tier at 10× sf0.1: 8×8-bit
    * banding put 154M pairs in buckets where 5×13-bit banding puts
    * 22M — same verified output, 7× the candidate work). At
    * `maxHamming = 7` the slices degenerate to the historical 8
    * byte-bands exactly. */
  private[graft] def bandKeys64(v: Column, nBands: Int): Column =
    array((0 until nBands).map { b =>
      val start = 64 * b / nBands
      val width = 64 * (b + 1) / nBands - start
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(b).as("band"),
        shiftrightunsigned(v, start).bitwiseAND(lit(mask)).as("key"))
    }: _*)

  /** Pigeonhole Hamming near-dup over an EXISTING 64-bit fingerprint
    * (two non-negative 32-bit halves — the portable split
    * [[graft.operators.Multimodal.imageDHash]] and any
    * engine-interchange format use): `maxHamming + 1` tight bit-bands
    * ([[bandKeys64]]), pairs generated by (band, key) equi-join
    * buckets, popcount verify. A pair within `maxHamming` flipped bits
    * touches at most `maxHamming` bands, so it shares at least one and
    * is guaranteed a candidate — the [[simHashNearDup]] recall
    * argument on a caller-supplied fingerprint instead of a
    * text-derived one. Same capped-bucket discipline; the pair space
    * is never materialized beyond bucket co-occupants.
    */
  def hammingNearDup64(fps: DataFrame, maxHamming: Int,
      maxBucket: Int = DefaultMaxBucket,
      idCol: String = "asset_id", hiCol: String = "dhash_hi",
      loCol: String = "dhash_lo"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "maxHamming must be in [0, 7] — a 64-bit dHash radius past 7 is not a near-dup")
    require(maxBucket > 1, "maxBucket must be > 1")
    val base = fps.select(col(idCol), col(hiCol).cast("long").as("__hi"),
        col(loCol).cast("long").as("__lo"))
      .filter(col("__hi").isNotNull && col("__lo").isNotNull)
    val banded = base.select(col(idCol), col("__hi"), col("__lo"),
        explode(bandKeys64(col("__hi").bitwiseOR(shiftleft(col("__lo"), 32)),
          maxHamming + 1)).as("bk"))
      .select(col(idCol), col("__hi"), col("__lo"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(struct(col(idCol), col("__hi"), col("__lo")))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(expr(
        s"flatten(transform(sequence(0, size(ids) - 2), " +
          s"i -> transform(slice(ids, i + 2, size(ids)), " +
          s"j -> struct(ids[i].$idCol AS id_a, ids[i].__hi AS hi_a, ids[i].__lo AS lo_a, " +
          s"j.$idCol AS id_b, j.__hi AS hi_b, j.__lo AS lo_b))))"
      )).as("p"))
      .select(col("p.id_a"), col("p.id_b"),
        (expr("cast(bit_count(p.hi_a ^ p.hi_b) as int)")
          + expr("cast(bit_count(p.lo_a ^ p.lo_b) as int)")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Incremental twin of [[hammingNearDup64]]: which incoming
    * fingerprints are within `maxHamming` bits of an already-ingested
    * corpus fingerprint — the image-dedup ingest screen (batch vs
    * stored dHash index), O(batch + collisions) like the LSH/PpJoin
    * incremental legs: the corpus is touched only through its banded
    * index rows, the batch side is the small side by contract, and the
    * `maxBucket` cap applies to the SEEN side's buckets (the posting-
    * list convention — a degenerate hot key never explodes the join).
    * Same tight `maxHamming + 1`-band pigeonhole recall guarantee
    * ([[bandKeys64]]) as [[hammingNearDup64]]. */
  def hammingScreen64(incoming: DataFrame, seen: DataFrame, maxHamming: Int,
      maxBucket: Int = DefaultMaxBucket,
      idCol: String = "asset_id", hiCol: String = "dhash_hi",
      loCol: String = "dhash_lo", materialize: Boolean = true): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "maxHamming must be in [0, 7] — a 64-bit dHash radius past 7 is not a near-dup")
    require(maxBucket > 1, "maxBucket must be > 1")
    def bandify(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), col(hiCol).cast("long").as(s"__hi_$id"),
          col(loCol).cast("long").as(s"__lo_$id"))
        .filter(col(s"__hi_$id").isNotNull && col(s"__lo_$id").isNotNull)
        .select(col(id), col(s"__hi_$id"), col(s"__lo_$id"),
          explode(bandKeys64(
            col(s"__hi_$id").bitwiseOR(shiftleft(col(s"__lo_$id"), 32)),
            maxHamming + 1)).as("bk"))
        .select(col(id), col(s"__hi_$id"), col(s"__lo_$id"),
          col("bk.band").as("band"), col("bk.key").as("key"))
    // the seen side feeds TWO consumers (the bucket-cap aggregate and
    // the screen join), and column pruning diverges the branches so
    // the (possibly codec-backed) upstream chain would evaluate twice
    // — the x_pipeline_curate ReuseExchange lesson. Materialize the
    // banded index once by default; real ingest loops pass a stored
    // per-epoch index (already parquet-backed) with materialize=false.
    val seenBanded0 = bandify(seen, "seen_id")
    val seenBanded = if (materialize) seenBanded0.localCheckpoint() else seenBanded0
    // seen-side bucket cap BEFORE the join (the incremental-LSH
    // seencap shape): hot buckets are dropped, deterministically
    val cap = seenBanded.groupBy("band", "key")
      .agg(count(lit(1)).as("__bn")).filter(col("__bn") <= maxBucket)
      .select("band", "key")
    // batch side broadcast-PINNED (r18, the incrementalNearDupAgainst
    // rationale): incoming-banded is provably batch × (maxHamming+1)
    // rows, so the capped corpus index streams in place and no size
    // estimate can ever flip it into a per-batch corpus shuffle
    seenBanded.join(cap, Seq("band", "key"), "left_semi")
      .join(broadcast(bandify(incoming, "new_id")), Seq("band", "key"))
      .filter(col("new_id") =!= col("seen_id"))
      .select(col("new_id"), col("seen_id"),
        (expr("cast(bit_count(__hi_new_id ^ __hi_seen_id) as int)")
          + expr("cast(bit_count(__lo_new_id ^ __lo_seen_id) as int)")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Benchmark DECONTAMINATION scores — the fraction of each training
    * doc's distinct n-gram shingles that also appear in a benchmark/eval
    * corpus. Standard pre-training hygiene: docs overlapping an eval set
    * above a threshold are dropped so benchmark numbers stay meaningful.
    *
    * One shuffle-on-shingle semi-join against the (deduplicated)
    * benchmark shingle set — at 100 TB the training side streams through
    * the join partitioned by content hash; the benchmark side is usually
    * small enough to broadcast, and Spark's planner picks that up from
    * its size. Docs with no shingles (shorter than n tokens) score 0.
    *
    * Output: (id, n_shingles, contaminated, contamination ∈ [0,1]).
    */
  def contaminationScores(docs: DataFrame, benchmark: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val d = shingles(docs, n, idCol, textCol)
    val b = shingles(benchmark, n, idCol, textCol).select(col("sh")).distinct()
    val scored = d
      .join(b.withColumn("__hit", lit(1)), Seq("sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("contaminated"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("contaminated"), lit(0L)).as("contaminated"),
        round(coalesce(col("contaminated").cast("double") / col("n_shingles"), lit(0.0)), 6)
          .as("contamination"))
  }

  /** Within-doc repetition ratio — the Gopher-style quality signal:
    * `1 − distinct n-grams / total n-grams`. Boilerplate, keyword
    * stuffing, and templated spam score high. Both counts are sizes of
    * the per-row gram array (multiset and kernel-deduped), so the whole
    * score is ONE projection — no explode, no shuffle; earlier rounds
    * aggregated count + countDistinct over the exploded stream. Docs
    * shorter than n tokens yield no row. */
  def repetitionScores(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // ONE kernel evaluation per row: the multiset/distinct variants
    // differ in the `distinct` flag, so two kernel calls would defeat
    // subexpression elimination and tokenize + md5 every document
    // TWICE. The gram array is materialized once; the distinct count is
    // an `array_distinct` over the in-memory array — cheap next to the
    // per-token md5 work it avoids repeating.
    docs
      .select(col(idCol),
        graft.functions.ShingleHashes(col(textCol), n).as("__g"))
      .select(col(idCol),
        size(col("__g")).cast("long").as("total_ngrams"),
        size(array_distinct(col("__g"))).cast("long").as("distinct_ngrams"))
      .filter(col("total_ngrams") > 0)
      .withColumn("repetition",
        round(lit(1.0) - col("distinct_ngrams").cast("double") / col("total_ngrams"), 6))

  /** Connected components over a near-dup pair list: every doc reachable
    * through the pair graph is labeled with the MINIMUM doc id of its
    * component — the canonical "duplicate cluster" assignment that turns
    * pairwise candidates into keep-one-per-cluster decisions.
    *
    * Pregel-style iterative min-label propagation with self-loops: the
    * symmetrized edge list carries an (id, id) loop per node, so each
    * round is ONE equi-join + ONE groupBy-min — `min` over a node's
    * neighborhood-including-itself IS the update, no second join to
    * merge the old label back in. Fixpoint after O(diameter) rounds,
    * detected by the label SUM: min-propagation only ever decreases
    * labels, so an unchanged (exact, decimal) sum is an unchanged
    * labeling — one tiny aggregate instead of a change-flag join.
    *
    * The label/edge frames hold only docs WITH candidate edges (a tiny
    * fraction of a 100 TB corpus), so the loop sizes its own shuffle
    * parallelism from the edge count rather than inheriting the
    * corpus-scale `spark.sql.shuffle.partitions` — at any scale the
    * per-round frames are candidate-graph-sized, and a few million
    * edges do not want thousands of near-empty reducers. Each round is
    * localCheckpoint'ed so lineage doesn't compound across iterations.
    * Near-dup graphs are star-like (diameters of a few hops); for
    * adversarially long chains the alternating large-star/small-star
    * variant halves round counts, at the cost of a second join per round.
    *
    * Output: (id, cluster). Throws if `maxIters` rounds don't reach the
    * fixpoint rather than returning a partial clustering.
    */
  def duplicateClusters(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIters: Int = 30): DataFrame = {
    val spark = pairs.sparkSession
    val src = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // Symmetrized edges + per-node self-loops built in ONE pass over the
    // pair frame (explode of 4 directed edges per pair). The earlier
    // 4-way `union` referenced the pair frame once per branch, so the
    // whole upstream candidate pipeline (shingle → postings → Jaccard)
    // was recomputed FOUR times before the checkpoint materialized.
    val edges = src.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")),
        struct(col("src").as("s"), col("src").as("d")),
        struct(col("dst").as("s"), col("dst").as("d")))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
      .distinct().localCheckpoint()
    // Scope the loop's shuffle parallelism to the graph, not the corpus
    // (~64k edge rows per reducer): explicit repartition on each round's
    // frames. The per-round frames hold only docs WITH candidate edges —
    // a tiny fraction of the corpus — and a few million edges do not
    // want thousands of near-empty reducers. Explicit repartition keeps
    // the scoping LOCAL to this plan; mutating the session-global
    // spark.sql.shuffle.partitions (the earlier approach) silently
    // re-planned any concurrent query on the same session.
    val parts = math.max(1L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions", "200").toLong,
      edges.count() / 65536L + 1L)).toInt
    var labels = edges.select(col("src").as("id"))
      .repartition(parts, col("id")).distinct()
      .withColumn("cluster", col("id"))
    // exact decimal sum: overflow-free for any Long ids at any node
    // count; coalesce so an EMPTY graph (sum → null) still converges
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("cluster").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val next = edges
        .join(labels.select(col("id").as("dst"), col("cluster").as("_nc"))
          .repartition(parts, col("dst")), "dst")
        .repartition(parts, col("src"))
        .groupBy("src").agg(min(col("_nc")).as("cluster"))
        .withColumnRenamed("src", "id")
        .localCheckpoint()
      val s = labelSum(next)
      converged = prevSum != null && s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    require(converged, s"label propagation did not converge in $maxIters rounds")
    labels
  }

  /** Embedding-cosine near-dup pairs (X2/X3 hybrid): pairs with cosine ≥
    * threshold, blocked by a coarse `blockCol` (e.g. a cluster/label id)
    * so the pairwise join is per-block, not global — the blocking key is
    * what keeps this O(Σ block²) instead of O(n²) at scale. */
  def embeddingNearDup(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding", blockCol: String = "label"): DataFrame = {
    val a = emb.select(col(blockCol).as("blk"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = emb.select(col(blockCol).as("blk"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, "blk")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Portable.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("blk"), col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** SemDeDup-style semantic dedup: [[embeddingNearDup]] pairs →
    * [[duplicateClusters]] components → ONE keeper per semantic cluster,
    * by (`scoreCol` desc, id asc) — e.g. "keep the longest / highest-
    * quality document among embedding near-duplicates". Docs in no pair
    * are their own singleton cluster and always keep.
    *
    * Scale shape: the pairwise step is blocked (per `blockCol`), the
    * clustering touches only the candidate-edge subgraph, and the winner
    * pick is a per-cluster window over the full id set — every stage
    * keyed, nothing driver-side.
    *
    * Output: (idCol, cluster, scoreCol, keep ∈ {0,1}).
    */
  def semanticWinners(emb: DataFrame, scores: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockCol: String = "label", scoreCol: String = "score"): DataFrame = {
    val pairs = embeddingNearDup(emb, threshold, idCol, vecCol, blockCol)
    val clusters = duplicateClusters(pairs)
    val labeled = emb.select(col(idCol).cast("long").as("id"))
      .join(clusters, Seq("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc, col("id").asc)
    labeled
      .join(scores.select(col(idCol).cast("long").as("id"), col(scoreCol)), "id")
      .withColumn("keep", when(row_number().over(w) === 1, 1).otherwise(0))
      .select(col("id").as(idCol), col("cluster"), col(scoreCol), col("keep"))
  }

  /** MinHash-LSH parameter planner: for every (bands, rows) split of a
    * `numHashes`-long signature, the S-curve facts an engineer picks
    * banding from — the threshold similarity `s* = (1/b)^(1/r)` where
    * collision probability crosses ~50%, and the collision probability
    * `1 − (1 − s^r)^b` at the similarity grid points. Pure closed-form
    * math, but emitted THROUGH the engine (pow/round columns) so the
    * planning table is oracle-checkable like any other query — the
    * same policy as every libm-touching score (8dp rounds absorb
    * cross-engine ulp differences).
    *
    * Output: one row per divisor b of numHashes:
    * (bands, rows_per_band, s_star, p_at_03/05/07/09). */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, numHashes: Int): DataFrame = {
    require(numHashes >= 1, "numHashes must be >= 1")
    import spark.implicits._
    val splits = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    def pAt(s: Double): Column =
      round(lit(1.0) - pow(lit(1.0) - pow(lit(s), col("rows_per_band")), col("bands")), 8)
    splits.toDF("bands", "rows_per_band")
      .withColumn("s_star",
        round(pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")), 8))
      .withColumn("p_at_03", pAt(0.3))
      .withColumn("p_at_05", pAt(0.5))
      .withColumn("p_at_07", pAt(0.7))
      .withColumn("p_at_09", pAt(0.9))
  }

  /** Cross-stratum shingle-overlap matrix — the dataset-card report
    * that quantifies how much two sources/languages/splits share
    * VERBATIM n-gram content (mirror sites, syndicated feeds, a crawl
    * source that is mostly another one re-hosted). Whole-corpus
    * counterpart of the per-doc [[contaminationScores]].
    *
    * Scale shape: per-doc DISTINCT gram hashes from one
    * [[graft.functions.ShingleHashes]] kernel pass collapse to the
    * DISTINCT (stratum, gram) frame — the shuffle carries longs keyed
    * by gram, and each gram's posting list is bounded by the CATALOG
    * of strata (tens), so the gram-keyed self-join's pair fan-out is
    * ≤ |strata|² per gram by construction — no maxDf cap needed,
    * unlike document-keyed posting lists. Output is |strata|²-bounded:
    * intersecting pairs only (a pair sharing zero grams is absent).
    *
    * Output: (stratum_a, stratum_b, inter, sz_a, sz_b, jaccard) with
    * stratum_a < stratum_b, jaccard rounded at 6dp. */
  def strataOverlap(docs: DataFrame, stratumCol: String, n: Int = 2,
      textCol: String = "text"): DataFrame = {
    val sh = docs
      .filter(col(stratumCol).isNotNull)
      .select(col(stratumCol).cast("string").as("__s"),
        explode(graft.functions.ShingleHashes(col(textCol), n, distinct = true))
          .as("__h"))
      .distinct()
    val sizes = sh.groupBy("__s").agg(count(lit(1)).as("__sz"))
    sh.select(col("__s").as("stratum_a"), col("__h"))
      .join(sh.select(col("__s").as("stratum_b"), col("__h")), Seq("__h"))
      .filter(col("stratum_a") < col("stratum_b"))
      .groupBy("stratum_a", "stratum_b").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("__s").as("stratum_a"), col("__sz").as("sz_a"))),
        Seq("stratum_a"))
      .join(broadcast(sizes.select(col("__s").as("stratum_b"), col("__sz").as("sz_b"))),
        Seq("stratum_b"))
      .select(col("stratum_a"), col("stratum_b"), col("inter"),
        col("sz_a"), col("sz_b"),
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 6)
          .as("jaccard"))
  }
}
