package graft

import org.apache.spark.sql.functions._

import graft.operators.ReadShapes
import graft.sources.IndexStore

/** Physical-plan shape pins (SURVEY §4.1): these are the properties the
  * 100 TB design depends on — partition pruning at the store, filter
  * pushdown to parquet, broadcast of catalog-sized join sides, one
  * exchange for stacked same-key window functions. Loose string checks
  * on the formatted plan so plan-detail churn doesn't break them.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("store scan prunes retention partitions and pushes series_id filters") {
    val base = java.nio.file.Files.createTempDirectory("timedb_plan").toString
    val db = new TimeDb(spark, base)
    db.create()
    val rows = (0 until 48).map(h => (h.toLong % 4, ts(f"2024-03-${h / 24 + 1}%02dT${h % 24}%02d:00:00Z"), h.toDouble))
      .toDF("series_id", "valid_time", "value")
    db.write(rows, retention = Some("short"))
    db.write(rows.withColumn("series_id", col("series_id") + 10), retention = Some("forever"))

    val plan = planOf(db.read(ReadFilter(Seq(1L, 2L), retention = Seq("short"))))
    // retention is a partition dir → must appear as a partition filter,
    // series_id as a pushed data filter.
    assert(plan.contains("PartitionFilters") && plan.contains("retention"), plan)
    assert(plan.contains("PushedFilters") && plan.contains("series_id"), plan)
    db.delete()
  }

  test("bucketed-mirror co-located join (equal bucket counts) plans zero exchanges") {
    val base = java.nio.file.Files.createTempDirectory("timedb_bkjoin").toString
    val db = new TimeDb(spark, base)
    db.create()
    val rows = (0 until 48).map(h =>
      (h.toLong % 4, ts(f"2024-03-${h / 24 + 1}%02dT${h % 24}%02d:00:00Z"), h.toDouble))
      .toDF("series_id", "valid_time", "value")
    db.write(rows, retention = Some("short"))
    val store = db.store
    store.createBucketedMirror("planspec_bk", nBuckets = 4)
    store.createBucketedMirrorOf(
      store.scanValues().drop("valid_month").groupBy(col("series_id"))
        .agg(count(lit(1)).as("n_rows")),
      "planspec_agg_bk", nBuckets = 4, sortCols = Seq("series_id"))
    try {
      // the td_bucketed_join shape: both scans arrive hash-partitioned
      // on series_id (equal bucket counts), so the sort-merge join must
      // plan with NO exchange of any kind — no shuffle, no broadcast
      // build. The merge hint keeps the small agg side out of a
      // BroadcastExchange (at scale both sides are fact-sized).
      val joined = store.scanBucketed("planspec_bk")
        .join(store.scanBucketed("planspec_agg_bk").hint("merge"), "series_id")
      val plan = planOf(joined)
      assert(!plan.contains("Exchange"),
        s"co-located bucketed join must plan zero exchanges:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      // result parity with the plain (shuffling) formulation
      val plain = store.scanValues().drop("valid_month")
      val plainJoined = plain.join(
        plain.groupBy(col("series_id")).agg(count(lit(1)).as("n_rows")), "series_id")
      assert(joined.count() == plainJoined.count())
    } finally db.delete()
  }

  test("latest read is a partial+final aggregate (map-side combine before shuffle)") {
    val df = Seq((1L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T00:00:00Z"),
      ts("2024-01-01T00:00:00Z"), 1.0, "", ""))
      .toDF("series_id", "valid_time", "knowledge_time", "change_time", "value", "changed_by", "annotation")
    val plan = planOf(ReadShapes.latest(df))
    assert(plan.contains("partial_max") || plan.contains("partial"), plan)
  }

  test("overlapping read hash-aggregates (no struct-buffer SortAggregate)") {
    val df = Seq((1L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T00:00:00Z"),
      ts("2024-01-01T00:00:00Z"), 1.0, "", ""))
      .toDF("series_id", "valid_time", "knowledge_time", "change_time", "value", "changed_by", "annotation")
    val plan = planOf(ReadShapes.overlapping(df))
    assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"), plan)
  }

  test("latestWithChanges plans ONE exchange for both window functions") {
    val df = Seq((1L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T00:00:00Z"),
      ts("2024-01-01T00:00:00Z"), 1.0, "", ""))
      .toDF("series_id", "valid_time", "knowledge_time", "change_time", "value", "changed_by", "annotation")
    val plan = planOf(ReadShapes.latestWithChanges(df))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("dimension join broadcasts the small side") {
    val dir = "/root/testdata/sf0.001"
    val plan = planOf(SparkEntry.queries("rel_join_agg")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("sessionize-and-summarize rides one data exchange") {
    val dir = "/root/testdata/sf0.001"
    val plan = planOf(SparkEntry.queries("x_sessionize")(spark, dir))
    // one hashpartitioning exchange for windows+aggregate; the trailing
    // rangepartitioning exchange is the final ORDER BY.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$plan")
  }

  test("moving stats plan a single Window node") {
    val dir = "/root/testdata/sf0.001"
    val plan = planOf(SparkEntry.queries("ts_moving_zscore")(spark, dir))
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    assert(windows == 1, s"expected 1 Window node, got $windows:\n$plan")
  }

  test("range join never plans a nested loop") {
    val dir = "/root/testdata/sf0.001"
    val plan = planOf(SparkEntry.queries("x_range_join")(spark, dir))
    assert(!plan.contains("NestedLoop"), plan)
  }

  test("scan-filter query pushes predicate and prunes columns") {
    val dir = "/root/testdata/sf0.001"
    val plan = planOf(SparkEntry.queries("rel_scan_filter")(spark, dir))
    assert(plan.contains("PushedFilters: ["), plan)
    // projection pruning: the 11-column lineitem scan reads only 4 cols
    assert(plan.contains("ReadSchema") &&
      !plan.contains("l_extendedprice"), plan)
  }

  test("IVF corpus assignment is a pure projection — no shuffle, no join, no aggregate") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val assigned = graft.operators.Similarity.assignCells(
      emb, graft.operators.Similarity.cellCentroids(emb))
    val plan = planOf(assigned)
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("Aggregate"), plan)
    assert(plan.contains("nearest_centroid"), plan)
  }

  test("dedup signature layer is projection-shaped — no shuffle, no aggregate") {
    // parquet-backed input: a local Seq relation would be constant-folded
    // into a LocalTableScan and hide the kernel projection from the plan
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // MinHash signatures, SimHash fingerprints, and repetition scores are
    // pure per-document functions via the gram kernels; a shuffle or an
    // aggregate in any of these plans is a scale regression.
    val sigs = planOf(graft.operators.Dedup.minHashSignatures(docs, n = 2, numHashes = 16))
    assert(!sigs.contains("Exchange") && !sigs.contains("Aggregate"), sigs)
    assert(sigs.contains("minhash_from_grams"), sigs)
    val sim = planOf(graft.operators.Dedup.simHash(docs, n = 2))
    assert(!sim.contains("Exchange") && !sim.contains("Aggregate"), sim)
    assert(sim.contains("simhash_from_grams"), sim)
    val rep = planOf(graft.operators.Dedup.repetitionScores(docs, n = 2))
    assert(!rep.contains("Exchange") && !rep.contains("Aggregate"), rep)
    val fp = planOf(graft.operators.TextAnalysis.fingerprint(docs))
    assert(!fp.contains("Exchange") && !fp.contains("Aggregate"), fp)
    assert(fp.contains("text_fingerprint"), fp)
    // the distinct-shingle stream dedups in the kernel, not an exchange
    val shingles = planOf(graft.operators.Dedup.shingles(docs, n = 2))
    assert(!shingles.contains("Exchange") && !shingles.contains("Aggregate"), shingles)
  }

  test("threshold stratum gate plans no window and no per-stratum sort") {
    // the whole point of keepTopQuantileApprox: a stratum bigger than an
    // executor's sort budget must never be sorted — one aggregate pass
    // for the thresholds, a broadcast join, a filter. A Window or a
    // data-side Sort in this plan is the scale regression it exists to
    // avoid.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = planOf(graft.operators.Curation.keepTopQuantileApprox(
      docs.select(col("doc_id"), col("lang"), col("n_chars")),
      "lang", "n_chars", q = 0.3))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Sort "), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("duplicated-span census: span digesting is a projection; shuffles carry digests, not text") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = planOf(graft.operators.Dedup.duplicatedSpans(docs, spanTokens = 8))
    // exactly the census aggregate's exchanges — and none of them may
    // carry the text column (the projection drops it before any shuffle)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges >= 1, plan)
    val shufflePart = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(!shufflePart.exists(_.contains("text")), plan)
    assert(plan.contains("span_digests"), plan)
  }

  test("text profile is one kernel projection — no shuffle, one text_stats per row") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = planOf(graft.operators.TextAnalysis.profile(docs))
    assert(!plan.contains("Exchange") && !plan.contains("Aggregate"), plan)
    // the statsThen two-step must survive optimization as a SINGLE
    // kernel evaluation: CollapseProject inlining it into all 9 derived
    // columns would re-run the pass per column
    val hits = "text_stats".r.findAllIn(plan).size
    assert(hits == 1, s"expected exactly one text_stats evaluation, got $hits:\n$plan")
  }

  test("gopherRules is one kernel projection — no shuffle, one gopher_stats per row") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = planOf(graft.operators.TextAnalysis.gopherRules(docs))
    assert(!plan.contains("Exchange") && !plan.contains("Aggregate"), plan)
    // the explode(array(kernel)) Generate barrier must survive
    // optimization as a SINGLE kernel evaluation: CollapseProject
    // inlining the struct producer into the 9 ratio columns + 9 rule
    // booleans would re-run the full byte-scan per column (the measured
    // 30-copies-per-row failure mode this barrier exists to prevent)
    val hits = "gopher_stats".r.findAllIn(plan).size
    assert(hits == 1, s"expected exactly one gopher_stats evaluation, got $hits:\n$plan")
  }

  test("bigram-LM scoring shuffles hashes, never token strings") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = planOf(graft.operators.TextAnalysis.lmScores(docs))
    val shufflePart = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shufflePart.nonEmpty, plan)
    assert(!shufflePart.exists(_.contains("text")), plan)
    // vocabulary joins in as a broadcast 1-row frame, not a shuffle
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("samplePerGroup rides WindowGroupLimit's pre-shuffle group limit") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = planOf(graft.operators.Sampling.samplePerGroup(
      docs, "doc_id", "source", k = 15))
    // both the partial (pre-shuffle) and final group limits must appear:
    // the exchange then carries at most k rows per group per partition
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2, plan)
  }

  test("pqRerankTopK joins the float corpus only via broadcasts") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pq = graft.operators.Similarity.pqTrain(emb, m = 2, k = 4, iters = 1, dim = 64)
    val plan = planOf(graft.operators.Similarity.pqRerankTopK(
      emb, emb.filter(col("vec_id") < 8), pq, k = 5, shortlistK = 20, m = 2, dim = 64))
    // the shortlist and query sides broadcast onto the corpus scan —
    // a shuffled or sort-merge join here would re-shuffle the corpus
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    // both window stages keep their pre-shuffle group limits
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2, plan)
  }

  test("labelPurity broadcasts the query side and never joins labels back") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = planOf(graft.operators.Similarity.labelPurity(
      emb, emb.filter(col("vec_id") < 8), k = 5))
    // labels ride the scored pair: ONE join in the whole plan (the
    // broadcast cross-score), no corpus-sized label-lookup equi-join
    assert("Join".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("bpeEncode folds merges on the vocab side only, docs join broadcast") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = planOf(graft.operators.TextAnalysis.bpeEncode(
      docs, Seq(("l", "o"), ("lo", "w"))))
    // the dictionary join broadcasts the folded vocab; the corpus side
    // must NOT carry the merge folds (aggregate lambdas) — they belong
    // to the broadcast build side exclusively
    assert(plan.contains("BroadcastExchange"), plan)
    val corpusSide = plan.substring(0, plan.indexOf("BroadcastExchange"))
    assert(!corpusSide.contains("aggregate(lambda"), corpusSide)
  }

  test("quantized top-k scores through the byte_vector_dot kernel") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val quant = graft.operators.Similarity.quantizeInt8(emb)
    val plan = planOf(graft.operators.Similarity.quantizedTopK(
      quant, quant.filter(col("vec_id") < 8), k = 5))
    assert(plan.contains("byte_vector_dot"), plan)
    // the corpus side streams against a broadcast query side — no
    // corpus-sized shuffle before the per-query top-k window
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("zAddress is projection-shaped: bounds broadcast, no data shuffle") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts_us", org.apache.spark.sql.functions.unix_micros(col("ts")))
    val plan = planOf(graft.operators.Layout.zAddress(ev, "ts_us", "value", bits = 12))
    // the min/max bounds frame is a 1-row broadcast; the address math
    // itself adds NO exchange over the event rows
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty, plan)
  }

  test("covarianceMatrix bounds the shuffle with partial hash aggregation") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = planOf(graft.operators.Similarity.covarianceMatrix(emb, dim = 64))
    // partial + final HashAggregate around ONE exchange: each partition
    // ships at most d(d+1)/2 decimal sums, never rows × d²/2 products
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("bm25TopK serves as a pure projection + TakeOrdered (no exchange, no join)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // the kernel pin: the counts frame the operator checkpoints is ONE
    // term_counts projection (a single byte scan per row) — zero
    // token-stream explode, zero split() materialization. Same
    // construction, inspectable pre-checkpoint.
    val qTerms = Seq("the", "model", "data")
    val countsPlan = planOf(docs.select(col("doc_id"),
      graft.functions.TermCounts(col("text"), qTerms).as("__tc")))
    assert(!countsPlan.contains("Generate explode"), countsPlan)
    assert(!countsPlan.contains("split("), countsPlan)
    assert(countsPlan.contains("term_counts"), countsPlan)
    // r16 serving plan: stats are collected and folded in as literals
    // (idf constant-folds), ids are enforced unique so scoring is a
    // projection over the checkpointed counts — no exchange, no join,
    // no explode anywhere; the top-k is the TakeOrdered driver merge.
    // At 100 TB the corpus token kernel runs ONCE (the checkpoint),
    // never re-keyed, never re-scanned per consumer.
    val plan = planOf(graft.operators.TextAnalysis.bm25TopK(docs, qTerms, k = 5))
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Generate explode"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // duplicate ids raise AT THE CALL (the guard rides the collected
    // stats aggregate, before any scoring work)
    import spark.implicits._
    val dup = Seq((1L, "the model"), (1L, "the data"), (2L, "pad"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.bm25TopK(dup, qTerms, k = 5)
    }
    assert(e.getMessage.contains("duplicate values in id column"), e.getMessage)
  }

  test("temperatureSample joins the budget table broadcast into one window pass") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = planOf(graft.operators.Sampling.temperatureSample(
      docs, "doc_id", "lang", tau = 0.5, budget = 200L))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the rank window still gets its pre-shuffle group limit even with
    // a non-constant per-stratum k? No — WindowGroupLimit requires a
    // literal limit, so the pin here is the SHAPE: exactly one Window
    // node and no sort-merge join of docs against budgets
    assert("\\bWindow\\b".r.findAllIn(plan).size >= 1, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("Bloom route prefilter is the codegen might_contain, not a udf") {
    import spark.implicits._
    val seen = graft.operators.Dedup.exact(
      Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text"))
      .select("digest")
    // parquet-backed batch side: a local relation would let Catalyst
    // constant-fold the digest+probe projection into the LocalTableScan
    // and the pin would read an empty plan
    val incoming = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val plan = planOf(graft.operators.Dedup.incrementalNewBloom(
      incoming, seen, expectedDigests = 100))
    // the probe is Spark's own BloomFilterMightContain expression
    // (pretty-printed might_contain) — a codegen Predicate, so the
    // route filter rides the scan as a DataFilter; a Scala udf would
    // surface as an opaque UDF(...) filter instead (and the AQE plan
    // here prints pre-final, so WholeStageCodegen spans aren't shown)
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("UDF"), plan)
    assert(plan.contains("DataFilters: [NOT might_contain"), plan)
  }

  test("co-located ppjoin index removes corpus-side exchanges from the screen") {
    // r17: colocatePpJoinIndex repartitions+sorts the df vocabulary on
    // sh and the sets on id at load, so EVERY screen's joins find the
    // corpus side pre-distributed and pre-sorted — the per-screen plan
    // must carry strictly fewer shuffle exchanges than the same screen
    // over the plain index (the removed ones are exactly the
    // corpus-side re-distributions; at the broadcast-threshold
    // boundary the static planner otherwise re-shuffles the WHOLE
    // sets table per batch — the O(corpus)-per-batch term the 10×
    // ScaleUpAb exposed). Comparative count, not absolute: batch-side
    // exchange structure may churn with Spark versions.
    val rnd = new scala.util.Random(11)
    val docs = (0 until 80).map { i =>
      (i.toLong, (0 until 6 + rnd.nextInt(8)).map(_ => s"w${rnd.nextInt(30)}").mkString(" "))
    }.toDF("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val idx = graft.operators.Dedup.ppJoinIndex(corpus, n = 1, threshold = 0.5)
    def exchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    val plain = exchanges(planOf(
      graft.operators.Dedup.ppJoinAgainst(batch, idx)))
    val colocated = exchanges(planOf(graft.operators.Dedup.ppJoinAgainst(
      batch, graft.operators.Dedup.colocatePpJoinIndex(idx))))
    assert(colocated < plain,
      s"co-located screen must shuffle less: $colocated vs $plain exchanges")
  }

  test("cell-partitioned stored IVF serve prunes the corpus scan to the probed cells") {
    // r18: ivfProbeTopKPruned pushes the collected probe cells as a
    // STATIC partition filter over a partitionBy(cell) store — the
    // probed-cell directories are all the scan lists, which is the
    // sublinear-serve property an IVF index exists for. Values must
    // equal the unpruned probe row-for-row (the cell equi-join
    // discards non-probed cells anyway).
    val dir = java.nio.file.Files.createTempDirectory("ivf_pruned").toString
    val rnd = new scala.util.Random(21)
    val corpus = (0 until 60).map { i =>
      (i.toLong, Array.fill(4)(rnd.nextFloat()), i % 6)
    }.toDF("vec_id", "embedding", "label")
    val cents = graft.operators.Similarity.cellCentroids(corpus)
    val assigned = corpus.join(
      graft.operators.Similarity.assignCells(corpus, cents)
        .select(col("vec_id"), col("cell")), "vec_id")
    assigned.write.partitionBy("cell").parquet(s"$dir/corpus")
    val stored = spark.read.parquet(s"$dir/corpus")
    val queries = corpus.filter(col("vec_id") < 3).select("vec_id", "embedding")
    val pruned = graft.operators.Similarity.ivfProbeTopKPruned(
      stored, queries, cents, k = 4, nprobe = 2, cellCol = "cell")
    val plan = planOf(pruned)
    assert(plan.contains("PartitionFilters") && "PartitionFilters: \\[cell".r
        .findFirstIn(plan).isDefined,
      s"probed cells must reach the scan as partition filters:\n$plan")
    val expect = graft.operators.Similarity.ivfProbeTopK(
      stored, queries, cents, k = 4, nprobe = 2, cellCol = "cell")
      .orderBy("query_id", "rank").collect().toSeq
    val got = pruned.orderBy("query_id", "rank").collect().toSeq
    assert(got == expect && got.nonEmpty,
      s"pruned serve must answer identically: $got vs $expect")
  }

  test("appended (cell, batch_id) IVF store keeps the probed-cell partition pruning") {
    // r18: ivfAppend writes cell as the FIRST partition level with
    // batch_id nested under it, so the pruned serve's static cell
    // filter prunes an epoch-maintained store exactly like the
    // single-level layout — appends never degrade serve IO.
    val dir = java.nio.file.Files.createTempDirectory("ivf_appended_prune").toString
    val rnd = new scala.util.Random(22)
    val emb = (0 until 40).map { i =>
      (i.toLong, Array.fill(4)(rnd.nextFloat()), i % 4)
    }.toDF("vec_id", "embedding", "label")
    val resident = emb.filter(col("vec_id") % 4 =!= 3)
    val cents = graft.operators.Similarity.cellCentroids(resident)
    val path = s"$dir/corpus"
    graft.operators.Similarity.ivfAppend(resident, cents, path, batchId = 0L)
    graft.operators.Similarity.ivfAppend(
      emb.filter(col("vec_id") % 4 === 3), cents, path, batchId = 1L)
    val stored = IndexStore.levels(spark, path).get
    val queries = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
    val plan = planOf(graft.operators.Similarity.ivfProbeTopKPruned(
      stored, queries, cents, k = 4, nprobe = 2, cellCol = "cell"))
    assert(plan.contains("PartitionFilters") && "PartitionFilters: \\[cell".r
        .findFirstIn(plan).isDefined,
      s"probed cells must reach the appended store's scan as partition filters:\n$plan")

    // r18 optimization round: a small tombstone list pushes as a
    // NOT-IN scan filter beside the cell partition filter (the bm25
    // twin's delPushdownMax discipline) — no anti-join exchange in
    // the serve plan; delPushdownMax = 0 restores the broadcast
    // anti-join (the arbitrarily-large-list shape), and both shapes
    // answer identically.
    graft.operators.Similarity.ivfDelete(spark, path, Seq(7L, 11L), batchId = 2L)
    val del = IndexStore.levels(spark, s"${path}_del").get
    val pushed = graft.operators.Similarity.ivfProbeTopKPruned(
      stored, queries, cents, k = 4, nprobe = 2, cellCol = "cell",
      delOpt = Some(del))
    val pushedPlan = planOf(pushed)
    assert("Not\\(In\\(vec_id".r.findFirstIn(pushedPlan).isDefined,
      s"small del list must push as a NOT-IN scan filter:\n$pushedPlan")
    assert(!pushedPlan.contains("LeftAnti"),
      s"small del list must not anti-join:\n$pushedPlan")
    val anti = graft.operators.Similarity.ivfProbeTopKPruned(
      stored, queries, cents, k = 4, nprobe = 2, cellCol = "cell",
      delOpt = Some(del), delPushdownMax = 0)
    assert(planOf(anti).contains("LeftAnti"),
      s"above the threshold the anti-join shape must hold:\n${planOf(anti)}")
    val a = pushed.orderBy("query_id", "rank").collect().toSeq
    val b = anti.orderBy("query_id", "rank").collect().toSeq
    assert(a == b && a.nonEmpty, s"pushdown != anti-join: $a vs $b")
  }

  test("stored IVFPQ code table prunes to the probed cells and serves like the float path") {
    // r18: ivfPqTopKFromCodes reads CODE bytes under a static
    // probed-cell partition filter — the float corpus is never
    // scanned, and the answer equals ivfPqTopK over the floats the
    // codes were encoded from (ints round-trip parquet losslessly).
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_stored").toString
    val rnd = new scala.util.Random(23)
    val emb = (0 until 60).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat()), i % 5)
    }.toDF("vec_id", "embedding", "label")
    val cents = graft.operators.Similarity.cellCentroids(emb)
    val corpus = emb.join(
      graft.operators.Similarity.assignCells(emb, cents)
        .select(col("vec_id"), col("cell")), "vec_id")
    val pq = graft.operators.Similarity.pqTrain(emb, m = 2, k = 3, iters = 2, dim = 8)
    graft.operators.Similarity.ivfPqStoreRows(corpus, pq, m = 2, dim = 8)
      .write.partitionBy("cell").parquet(s"$dir/codes")
    val codes = spark.read.parquet(s"$dir/codes")
    val queries = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
    val served = graft.operators.Similarity.ivfPqTopKFromCodes(
      codes, queries, cents, pq, k = 4, nprobe = 2, m = 2, dim = 8)
    val plan = planOf(served)
    assert(plan.contains("PartitionFilters") && "PartitionFilters: \\[cell".r
        .findFirstIn(plan).isDefined,
      s"probed cells must reach the code scan as partition filters:\n$plan")
    val got = served.orderBy("query_id", "rank").collect().toSeq
    val expect = graft.operators.Similarity.ivfPqTopK(
      corpus, queries, cents, pq, k = 4, nprobe = 2, m = 2, dim = 8, cellCol = "cell")
      .orderBy("query_id", "rank").collect().toSeq
    assert(got == expect && got.nonEmpty,
      s"code-store serve must answer like the float path: $got vs $expect")
  }

  test("bucketed BM25 store serves the related-doc scoring with fewer exchanges") {
    // r18: the tf table persists bucketed by doc_id, so the loaded scan
    // exposes HashPartitioning(doc_id) and the scoring aggregate —
    // grouping keys include the doc id — plans exchange-free from the
    // parquet files themselves; a plain parquet round trip of the
    // SAME frame loses the clustering and re-exchanges. Values must
    // be identical (the storage form cannot change the answer), and a
    // load by path in a new session must serve the same.
    val dir = java.nio.file.Files.createTempDirectory("bm25_bucketed").toString
    val docs = Seq(
      (0L, "hash join scan filter"), (1L, "hash join merge"),
      (2L, "scan filter prune"), (3L, "window frame sum"),
      (4L, "hash partition shuffle"), (5L, "join scan hash probe"))
      .toDF("doc_id", "text")
    val tf = graft.operators.TextAnalysis.bm25Index(docs)
    graft.operators.TextAnalysis.storeBm25IndexBucketed(tf, s"$dir/store", nBuckets = 4)
    val (loadedTf, loadedStats) =
      graft.operators.TextAnalysis.loadBm25IndexBucketed(spark, s"$dir/store")
    val plainTf = spark.read.parquet(s"$dir/store/tf")
    def serve(t: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.bm25RelatedTopKFrom(
        t, queryIds = Seq(0L, 1L), k = 3, statsOpt = Some(loadedStats))
    def exchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    val bucketed = exchanges(planOf(serve(loadedTf)))
    val plain = exchanges(planOf(serve(plainTf)))
    assert(bucketed < plain,
      s"the bucketed scan must serve with fewer exchanges: $bucketed vs $plain")
    val got = serve(loadedTf).orderBy("query_id", "rank").collect().toSeq
    val expect = serve(plainTf).orderBy("query_id", "rank").collect().toSeq
    assert(got == expect && got.nonEmpty)
    // new session: load by path — the bucket spec comes from the
    // store's own meta row — and serve identically
    val (reTf, reStats) =
      graft.operators.TextAnalysis.loadBm25IndexBucketed(spark.newSession(), s"$dir/store")
    val reServed = graft.operators.TextAnalysis.bm25RelatedTopKFrom(
      reTf, queryIds = Seq(0L, 1L), k = 3, statsOpt = Some(reStats))
    assert(exchanges(planOf(reServed)) == bucketed,
      "the store loaded in a new session must restore the bucketed plan")
    assert(reServed.orderBy("query_id", "rank").collect().toSeq == expect)
  }

  test("incremental LSH + Hamming screens pin the batch side as the broadcast build") {
    // r18: the batch-derived frames of both screens are provably
    // batch-bounded (batch × bands / batch × (maxHamming+1) rows), so
    // they ship under an explicit broadcast() hint and the
    // corpus-scale index STREAMS — unhinted, the static planner's
    // size estimate for a kernel-derived batch side decides, and past
    // the threshold it re-shuffles the whole index per batch (the
    // O(corpus)-per-batch flip the ppjoin screen measured in r17).
    // Parquet-backed inputs so Catalyst can't constant-fold the
    // kernel chains into LocalTableScans.
    val dir = java.nio.file.Files.createTempDirectory("screen_bhj").toString
    val rnd = new scala.util.Random(19)
    (0 until 40).map { i =>
      (i.toLong, (0 until 8).map(_ => s"w${rnd.nextInt(20)}").mkString(" "))
    }.toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val docs = spark.read.parquet(s"$dir/docs")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    graft.operators.Dedup.nearDupIndex(
      docs.filter(col("doc_id") % 5 =!= 0), n = 2, numHashes = 8, bands = 4)
      .write.parquet(s"$dir/lsh_index")
    val lshPlan = planOf(graft.operators.Dedup.incrementalNearDupAgainst(
      batch, spark.read.parquet(s"$dir/lsh_index"), n = 2, numHashes = 8, bands = 4))
    assert(lshPlan.contains("BroadcastHashJoin") && !lshPlan.contains("SortMergeJoin"),
      s"LSH screen must broadcast the batch keys:\n$lshPlan")
    (0 until 40).map(i => (i.toLong, rnd.nextInt().toLong & 0xFFFFFFFFL,
      rnd.nextInt().toLong & 0xFFFFFFFFL))
      .toDF("asset_id", "dhash_hi", "dhash_lo").write.parquet(s"$dir/fps")
    val fps = spark.read.parquet(s"$dir/fps")
    val hamPlan = planOf(graft.operators.Dedup.hammingScreen64(
      fps.filter(col("asset_id") % 5 === 0), fps.filter(col("asset_id") % 5 =!= 0),
      maxHamming = 4, materialize = false))
    assert(hamPlan.contains("BroadcastHashJoin") && !hamPlan.contains("SortMergeJoin"),
      s"Hamming screen must broadcast the batch bands:\n$hamPlan")
  }

  test("BUCKETED stored ppjoin index serves the screen with no corpus-side exchange") {
    // r18: storePpJoinIndexBucketed writes the df vocabulary bucketed by
    // sh and the sets by id — the store-durable form of the r17
    // co-location. A screen over the LOADED index must (a) engage the
    // bucketed scans (the planner sees HashPartitioning from the files
    // themselves), (b) shuffle strictly less than the same screen over
    // the plain in-memory index (the removed exchanges are exactly the
    // corpus-side re-distributions), and (c) return the identical
    // answer across the parquet round trip.
    val rnd = new scala.util.Random(12)
    val docs = (0 until 80).map { i =>
      (i.toLong, (0 until 6 + rnd.nextInt(8)).map(_ => s"w${rnd.nextInt(30)}").mkString(" "))
    }.toDF("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val idx = graft.operators.Dedup.ppJoinIndex(corpus, n = 1, threshold = 0.5)
    val root = java.nio.file.Files.createTempDirectory("ppjoin_bt").toString
    graft.operators.Dedup.storePpJoinIndexBucketed(idx, root, nBuckets = 4)
    val loaded = graft.operators.Dedup.loadPpJoinIndexBucketed(spark, root)
    // params travel with the store
    assert(loaded.n == 1 && loaded.threshold == 0.5 && loaded.idCol == "doc_id")
    val screen = graft.operators.Dedup.ppJoinAgainst(batch, loaded)
    val bucketedPlan = planOf(screen)
    assert(bucketedPlan.contains("SelectedBucketsCount"),
      s"stored screen must read bucketed scans:\n$bucketedPlan")
    def exchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    val plain = exchanges(planOf(graft.operators.Dedup.ppJoinAgainst(batch, idx)))
    assert(exchanges(bucketedPlan) < plain,
      s"bucketed-stored screen must shuffle less: ${exchanges(bucketedPlan)} vs $plain")
    val expect = graft.operators.Dedup.ppJoinAgainst(batch, idx)
      .orderBy("new_id", "seen_id").collect().toSeq
    val got = screen.orderBy("new_id", "seen_id").collect().toSeq
    assert(got == expect, s"round-trip answer changed: $got vs $expect")
    assert(got.nonEmpty, "degenerate pin: the screen found no pairs")
    // cross-SESSION load (r18): a fresh session loads the store by path,
    // declaring the bucket spec from the store's own meta row, so the
    // re-attached screen plans AND answers exactly as the writer's
    val reattached = graft.operators.Dedup.loadPpJoinIndexBucketed(spark.newSession(), root)
    assert(reattached.n == 1 && reattached.threshold == 0.5)
    val reScreen = graft.operators.Dedup.ppJoinAgainst(batch, reattached)
    val rePlan = planOf(reScreen)
    assert(rePlan.contains("SelectedBucketsCount"),
      s"re-attached screen must read bucketed scans:\n$rePlan")
    assert(exchanges(rePlan) < plain,
      s"re-attached screen must shuffle less: ${exchanges(rePlan)} vs $plain")
    assert(reScreen.orderBy("new_id", "seen_id").collect().toSeq == expect)
  }

  test("BUCKETED stored neardup (LSH) index: layout parity, identical screens") {
    // r19 (verdict #8): the minhash-band epoch index joins the
    // ppjoin/BM25 stores in persisting bucketed by its join key. The
    // incremental screen BROADCASTS the batch side, so the serve plan
    // has no corpus exchange to remove — the pin is therefore
    // (a) answer identity across the store round trip and the
    // cross-session re-attach, and (b) the layout claim itself: an
    // index-shuffling shape (a (band, band_key) aggregate) over the
    // LOADED store plans ZERO exchanges, i.e. the files really do
    // expose HashPartitioning to the planner.
    val rnd = new scala.util.Random(17)
    val docs = (0 until 90).map { i =>
      (i.toLong, (0 until 6 + rnd.nextInt(6)).map(_ => s"w${rnd.nextInt(25)}").mkString(" "))
    }.toDF("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val seen = docs.filter(col("doc_id") % 5 =!= 0)
    val idx = graft.operators.Dedup.nearDupIndex(seen, n = 2, numHashes = 16, bands = 8)
    val root = java.nio.file.Files.createTempDirectory("neardup_bt").toString
    graft.operators.Dedup.storeNearDupIndexBucketed(idx, n = 2, numHashes = 16,
      bands = 8, maxBucket = graft.operators.Dedup.DefaultMaxBucket,
      path = root, nBuckets = 4)
    val loaded = graft.operators.Dedup.loadNearDupIndexBucketed(spark, root)
    val expect = graft.operators.Dedup.incrementalNearDupAgainst(
        batch, idx, n = 2, numHashes = 16, bands = 8)
      .orderBy("new_id", "seen_id").collect().toSeq
    val got = graft.operators.Dedup.incrementalNearDupAgainst(
        batch, loaded, n = 2, numHashes = 16, bands = 8)
      .orderBy("new_id", "seen_id").collect().toSeq
    assert(got == expect && got.nonEmpty,
      s"stored screen answer changed: $got vs $expect")
    // the layout claim: an aggregate keyed exactly on the bucket key
    // over the loaded store plans with NO exchange (and engages the
    // bucketed scan), where the same aggregate over plain parquet
    // must shuffle
    val aggPlan = planOf(loaded.groupBy("band", "band_key")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))))
    assert(!aggPlan.contains("Exchange hashpartitioning"),
      s"bucket-keyed aggregate over the loaded store must not shuffle:\n$aggPlan")
    assert(aggPlan.contains("SelectedBucketsCount"),
      s"the aggregate must engage the bucketed scan:\n$aggPlan")
    // cross-session load by path, from the store's own meta
    val reattached = graft.operators.Dedup.loadNearDupIndexBucketed(spark.newSession(), root)
    assert(graft.operators.Dedup.incrementalNearDupAgainst(
        batch, reattached, n = 2, numHashes = 16, bands = 8)
      .orderBy("new_id", "seen_id").collect().toSeq == expect)
    val rePlan = planOf(reattached.groupBy("band", "band_key")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))))
    assert(!rePlan.contains("Exchange hashpartitioning") &&
      rePlan.contains("SelectedBucketsCount"),
      s"re-attached store must keep the bucketed layout:\n$rePlan")
  }

  test("segmented BM25 serve pushes the query vocabulary into the store scans") {
    // r18 (late): the serve collects the query docs' terms once and
    // pushes the vocabulary into BOTH tree scans as a parquet In
    // filter (row-group dictionary skip) instead of joining; df and
    // corpus stats fold driver-side and ride the single qterms
    // broadcast / literal columns. Pin: the posting-side scan carries
    // a pushed __tok filter, the whole serve plans with exactly ONE
    // broadcast exchange (the qterms relation), and a tombstoned
    // serve with a small del list adds a pushed NOT-IN on the id —
    // still one broadcast, no anti-join exchange.
    val dir = java.nio.file.Files.createTempDirectory("bm25_seg_plan").toString
    val path = s"$dir/segs"
    val docs = Seq(
      (0L, "hash join scan filter"), (1L, "hash join merge"),
      (2L, "scan filter prune"), (3L, "window frame sum"),
      (4L, "hash partition shuffle"), (5L, "join scan hash probe"))
      .toDF("doc_id", "text")
    graft.operators.TextAnalysis.bm25AppendSegment(
      docs.filter(col("doc_id") < 3), path, segmentId = 0L)
    graft.operators.TextAnalysis.bm25AppendSegment(
      docs.filter(col("doc_id") >= 3), path, segmentId = 1L)
    graft.operators.TextAnalysis.bm25DeleteDocs(spark, path, Seq(4L), segmentId = 2L)
    val (tf, df, meta, Some(del)) = graft.operators.TextAnalysis.loadBm25Segments(spark, path)
    def broadcasts(p: String): Int =
      "BroadcastExchange".r.findAllIn(p).length
    val served = graft.operators.TextAnalysis.bm25SegmentedTopK(
      tf, df, meta, queryIds = Seq(0L, 1L), k = 3)
    val plan = planOf(served)
    assert(plan.contains("PushedFilters") && plan.contains("__tok"), plan)
    assert(broadcasts(plan) == 1,
      s"exactly the qterms broadcast expected, got ${broadcasts(plan)}:\n$plan")
    val servedDel = graft.operators.TextAnalysis.bm25SegmentedTopK(
      tf, df, meta, queryIds = Seq(0L, 1L), k = 3,
      segDel = Some(del))
    val delPlan = planOf(servedDel)
    assert(broadcasts(delPlan) == 1,
      s"small del list must push down, not anti-join: ${broadcasts(delPlan)}:\n$delPlan")
    assert(!delPlan.contains("BroadcastHashJoin LeftAnti") &&
      !delPlan.contains("LeftAnti"), delPlan)
  }

  test("tombstoned serves fold the del collect into the probe/qrows action") {
    // r18 optimization round (carried item #6): the del tree and the
    // probe/qrows frame come from INDEPENDENT subtrees, so the serves
    // collect both under ONE tagged-union action — eager construction
    // with a tombstone tree must launch exactly as many Spark jobs as
    // construction without one. jobs × scheduler-floor is a floor-zone
    // serve's wall lower bound (tools/job_budget.txt pins the absolute
    // counts; this pins the delta at zero).
    def jobsDuring(body: => Unit): Int = JobLog.during(spark)(body)._2.jobs.size
    // vector side: the appended IVF store + a small tombstone tree
    val dir = java.nio.file.Files.createTempDirectory("fold_del_jobs").toString
    val rnd = new scala.util.Random(31)
    val emb = (0 until 40).map { i =>
      (i.toLong, Array.fill(4)(rnd.nextFloat()), i % 4)
    }.toDF("vec_id", "embedding", "label")
    val cents = graft.operators.Similarity.cellCentroids(emb)
    val vpath = s"$dir/corpus"
    graft.operators.Similarity.ivfAppend(emb, cents, vpath, batchId = 0L)
    graft.operators.Similarity.ivfDelete(spark, vpath, Seq(7L, 11L), batchId = 1L)
    val stored = IndexStore.levels(spark, vpath).get
    val vdel = IndexStore.levels(spark, s"${vpath}_del").get
    val queries = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
    def vServe(del: Option[org.apache.spark.sql.DataFrame]): Unit = {
      graft.operators.Similarity.ivfProbeTopKPruned(
        stored, queries, cents, k = 4, nprobe = 2, cellCol = "cell",
        delOpt = del); ()
    }
    // text side: a two-segment BM25 store + a tombstone segment
    val tpath = s"$dir/segs"
    val docs = Seq(
      (0L, "hash join scan filter"), (1L, "hash join merge"),
      (2L, "scan filter prune"), (3L, "window frame sum"),
      (4L, "hash partition shuffle"), (5L, "join scan hash probe"))
      .toDF("doc_id", "text")
    graft.operators.TextAnalysis.bm25AppendSegment(
      docs.filter(col("doc_id") < 3), tpath, segmentId = 0L)
    graft.operators.TextAnalysis.bm25AppendSegment(
      docs.filter(col("doc_id") >= 3), tpath, segmentId = 1L)
    graft.operators.TextAnalysis.bm25DeleteDocs(spark, tpath, Seq(4L), segmentId = 2L)
    val (tf, sdf, meta, Some(tdel)) = graft.operators.TextAnalysis.loadBm25Segments(spark, tpath)
    def tServe(del: Option[org.apache.spark.sql.DataFrame]): Unit = {
      graft.operators.TextAnalysis.bm25SegmentedTopK(
        tf, sdf, meta, queryIds = Seq(0L, 1L), k = 3, segDel = del); ()
    }
    // warmup: first-touch file listings submit their own jobs on some
    // sources — run both shapes once uncounted
    vServe(None); vServe(Some(vdel)); tServe(None); tServe(Some(tdel))
    val vBase = jobsDuring(vServe(None))
    val vDel = jobsDuring(vServe(Some(vdel)))
    assert(vDel == vBase,
      s"IVF tombstone serve construction must fold the del collect: $vDel jobs vs $vBase")
    val tBase = jobsDuring(tServe(None))
    val tDel = jobsDuring(tServe(Some(tdel)))
    assert(tDel == tBase,
      s"BM25 tombstone serve construction must fold the del collect: $tDel jobs vs $tBase")
  }

  test("tombstone fold is bounded: a large del tree never fully collects") {
    // r19 (verdict #1): the tagged-union fold limits the del branch
    // IN-PLAN to delPushdownMax + 1 ids, so a delete-heavy window
    // between compactions cannot OOM the driver. Above the bound the
    // fold returns None and both serves keep a genuinely DISTRIBUTED
    // anti-join against the tombstone tree — no NOT-IN pushdown, no
    // local-relation rebuild of the list — and answer identically to
    // the fully-collected shape.
    val dir = java.nio.file.Files.createTempDirectory("bounded_fold").toString
    val rnd = new scala.util.Random(41)
    val emb = (0 until 60).map { i =>
      (i.toLong, Array.fill(4)(rnd.nextFloat()), i % 4)
    }.toDF("vec_id", "embedding", "label")
    val cents = graft.operators.Similarity.cellCentroids(emb)
    val vpath = s"$dir/corpus"
    graft.operators.Similarity.ivfAppend(emb, cents, vpath, batchId = 0L)
    // 20 tombstones, far over a maxDel of 3
    graft.operators.Similarity.ivfDelete(
      spark, vpath, (30L until 50L).toSeq, batchId = 1L)
    val stored = IndexStore.levels(spark, vpath).get
    val vdel = IndexStore.levels(spark, s"${vpath}_del").get
    val queries = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
    // 1) the fold itself: driver receives at most maxDel + 1 del ids
    //    (the limit is in the collected plan), and reports the
    //    overflow as None
    val probe0 = graft.operators.Similarity.ivfProbeQProbe(
      queries, cents, nprobe = 2, "vec_id", "embedding")
    val (probeRows, over) = graft.operators.Similarity
      .collectProbeAndDelBounded(probe0, Some(vdel), "vec_id",
        org.apache.spark.sql.types.LongType, maxDel = 3)
    assert(over.isEmpty, s"20 del ids over maxDel=3 must return None, got $over")
    assert(probeRows.length == probe0.count(),
      "probe rows must survive the bounded fold intact")
    val (_, under) = graft.operators.Similarity
      .collectProbeAndDelBounded(probe0, Some(vdel), "vec_id",
        org.apache.spark.sql.types.LongType, maxDel = 64)
    assert(under.exists(_.toSet == (30L until 50L).toSet),
      s"under the bound the full deduped list must collect, got $under")
    // 1a) duplicate tombstones (the same id deleted in several
    //     batches) must not defeat the in-plan limit: the distinct
    //     runs BEFORE the limit, so a duplicate-heavy tree under the
    //     bound still yields the COMPLETE distinct id set (a bare
    //     limit could truncate unseen ids and silently serve deleted
    //     rows), and one over the bound still returns None
    val dupDel = vdel.union(vdel).union(vdel)
    val (_, dupUnder) = graft.operators.Similarity
      .collectProbeAndDelBounded(probe0, Some(dupDel), "vec_id",
        org.apache.spark.sql.types.LongType, maxDel = 20)
    assert(dupUnder.exists(_.toSet == (30L until 50L).toSet),
      s"duplicated del rows must still collect the full distinct set, got $dupUnder")
    val (_, dupOver) = graft.operators.Similarity
      .collectProbeAndDelBounded(probe0, Some(dupDel), "vec_id",
        org.apache.spark.sql.types.LongType, maxDel = 19)
    assert(dupOver.isEmpty,
      "20 distinct ids over maxDel=19 must return None even when duplicated")
    // 1b) the stats gate: a tree whose file bytes exceed the cutoff
    //     NEVER rides the fold — None without the union ever running
    //     (the probe collects alone, so the driver holds zero del ids)
    val bigDelPath = s"$dir/bigdel"
    val bigRnd = new scala.util.Random(43)
    (0 until 200000).map(_ => bigRnd.nextLong()).toDF("vec_id")
      .coalesce(1).write.parquet(bigDelPath)
    val bigDel = spark.read.parquet(bigDelPath)
    assert(bigDel.queryExecution.optimizedPlan.stats.sizeInBytes > 262144,
      "test tree must exceed the stats cutoff")
    val (bigProbe, bigOver) = graft.operators.Similarity
      .collectProbeAndDelBounded(probe0, Some(bigDel), "vec_id",
        org.apache.spark.sql.types.LongType, maxDel = 65536)
    assert(bigOver.isEmpty, "an over-cutoff tree must never fold")
    assert(bigProbe.length == probeRows.length,
      "probe rows must collect intact when the tree is stats-gated")
    // 2) vector serve: over the bound the plan anti-joins (no NOT-IN,
    //    no broadcast of driver-held ids) and values match the
    //    fully-collected pushdown serve
    def vServe(maxDel: Int) = graft.operators.Similarity.ivfProbeTopKPruned(
      stored, queries, cents, k = 4, nprobe = 2, cellCol = "cell",
      delOpt = Some(vdel), delPushdownMax = maxDel)
    val overPlan = planOf(vServe(3))
    assert(overPlan.contains("LeftAnti"),
      s"over-bound del tree must anti-join distributed:\n$overPlan")
    assert(!"Not\\(In\\(vec_id".r.findFirstIn(overPlan).isDefined,
      s"over-bound del tree must not push a NOT-IN list:\n$overPlan")
    val a = vServe(3).orderBy("query_id", "rank").collect().toSeq
    val b = vServe(65536).orderBy("query_id", "rank").collect().toSeq
    assert(a == b && a.nonEmpty, s"bounded != collected: $a vs $b")
    // 3) text serve: same discipline — over the bound the posting scan
    //    anti-joins the tree AND deleted query docs vanish from qterms
    //    (doc 0 is tombstoned but asked for as a query)
    val tpath = s"$dir/segs"
    val docs = (0 until 24).map(i =>
      (i.toLong, s"term${i % 5} term${i % 7} shared")).toDF("doc_id", "text")
    graft.operators.TextAnalysis.bm25AppendSegment(docs, tpath, segmentId = 0L)
    graft.operators.TextAnalysis.bm25DeleteDocs(
      spark, tpath, 0L +: (10L until 20L).toSeq, segmentId = 1L)
    val (tf, sdf, meta, Some(tdel)) = graft.operators.TextAnalysis.loadBm25Segments(spark, tpath)
    def tServe(maxDel: Int) = graft.operators.TextAnalysis.bm25SegmentedTopK(
      tf, sdf, meta, queryIds = Seq(0L, 1L), k = 3,
      segDel = Some(tdel), delPushdownMax = maxDel)
    val tOverPlan = planOf(tServe(3))
    assert(tOverPlan.contains("LeftAnti"),
      s"over-bound BM25 del tree must anti-join distributed:\n$tOverPlan")
    val ta = tServe(3).orderBy("query_id", "rank").collect().toSeq
    val tb = tServe(65536).orderBy("query_id", "rank").collect().toSeq
    assert(ta == tb && ta.nonEmpty, s"BM25 bounded != collected: $ta vs $tb")
    assert(!ta.exists(_.getLong(0) == 0L),
      "tombstoned query doc must vanish from the over-bound serve")
  }

  test("the frozen query set: 172 names, none dev_, all job-budgeted, bench set family-budgeted") {
    def tableLines(path: String): Seq[String] = {
      val src = scala.io.Source.fromFile(path)(scala.io.Codec.UTF8)
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally src.close()
    }
    val names = SparkEntry.queries.keySet
    assert(names.size == 172, s"${names.size} registered queries")
    assert(!names.exists(_.startsWith("dev_")), names.filter(_.startsWith("dev_")))
    // job_budget.txt: `query<TAB>jobs`, one line per registered query
    val jobBudgeted = tableLines(JobBudgetScan.BudgetPath).map(_.split('\t')(0)).toSet
    assert((names -- jobBudgeted).isEmpty, s"no job budget: ${names -- jobBudgeted}")
    // family_budget.txt: `family budget query...` over the queries the
    // bench times (the rest run under Verify only); the bench reports a
    // timed query in no family as `unbudgeted`
    val benched = (Bench.headlineQueries ++ Bench.extendedQueries).toSet
    assert((benched -- names).isEmpty, s"bench times unregistered: ${benched -- names}")
    val familyBudgeted = tableLines("tools/family_budget.txt")
      .flatMap(_.split("\\s+").drop(2)).toSet
    assert((benched -- familyBudgeted).isEmpty, s"in no family: ${benched -- familyBudgeted}")
  }
}
