package graft

import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.operators.{Curation, Dedup, Multimodal, RangeJoin, Salting, Similarity, Skew, TextAnalysis}
import graft.sources.IndexStore

/** Unit specs for the extension operators (SURVEY.md §2.12) on
  * handcrafted inputs with known answers. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat sat on the mat"),       // exact dup of 1
    (3L, "the cat sat on the red mat"),   // near dup of 1
    (4L, "completely different words here entirely now"))
    .toDF("doc_id", "text")

  test("exact dedup keeps min doc_id per digest") {
    val got = Dedup.exact(docs).orderBy("doc_id")
      .select("doc_id", "copies").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("shingles: n-gram count is tokens−n+1, distinct") {
    val sh = Dedup.shingles(Seq((1L, "a b c d")).toDF("doc_id", "text"), n = 2)
    assert(sh.count() == 3) // "a b", "b c", "c d"
    val repeated = Dedup.shingles(Seq((1L, "a b a b")).toDF("doc_id", "text"), n = 2)
    assert(repeated.count() == 2) // "a b", "b a" — dup "a b" collapsed
    assert(Dedup.shingles(Seq((1L, "solo")).toDF("doc_id", "text"), n = 2).count() == 0)
  }

  test("ngram Jaccard finds the near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 1, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.contains((1L, 3L))) // 5 shared / 6 union ≈ 0.83
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash: identical docs get identical signatures") {
    val sigs = Dedup.minHashSignatures(docs, n = 2, numHashes = 8)
      .groupBy("i").agg(countDistinct("sig").as("d"))
    // docs 1 and 2 identical → at most 3 distinct sigs per hash index
    assert(sigs.select(max("d")).as[Long].head() <= 3)
  }

  test("LSH candidates include the exact-dup pair") {
    val cand = Dedup.minHashLshCandidates(docs, n = 2, numHashes = 8, bands = 4)
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)))
  }

  test("LSH verified = exact Jaccard restricted to the candidate pairs") {
    val verified = Dedup.minHashLshVerified(docs, n = 2, numHashes = 8, bands = 4,
      threshold = 0.3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    val cand = Dedup.minHashLshCandidates(docs, n = 2, numHashes = 8, bands = 4)
      .as[(Long, Long)].collect().toSet
    // ground truth: exact Jaccard over ALL pairs (threshold ~0, no df cap)
    val exact = Dedup.ngramJaccardPairs(docs, n = 2, threshold = 1e-9)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    val expected = exact.filter { case (pair, j) => cand.contains(pair) && j >= 0.3 }
    assert(verified == expected)
    assert(verified.contains((1L, 2L)) && verified((1L, 2L)) == 1.0)
  }

  test("minHashLshVerified materialize=false: identical result, zero block growth") {
    val base = Dedup.minHashLshVerified(docs, n = 2, numHashes = 8, bands = 4,
      threshold = 0.3)
      .orderBy("id_a", "id_b").collect().toSeq
    // the default path checkpoints — its blocks are the GC-lifetime
    // contract; the loop-safe path must leave persistent-RDD storage
    // untouched across repeated calls while producing the same rows
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 3).foreach { _ =>
      val again = Dedup.minHashLshVerified(docs, n = 2, numHashes = 8, bands = 4,
        threshold = 0.3, materialize = Some(false))
        .orderBy("id_a", "id_b").collect().toSeq
      assert(again == base)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "materialize=Some(false) must not register checkpoint blocks")
  }

  test("quantizeInt8: known bytes, zero vector, reconstruction bound") {
    val emb = Seq(
      (1L, Array(1.27f, -1.27f, 0.635f, 0.0f)), // scale → 0.01
      (2L, Array(0.0f, 0.0f, 0.0f)),            // all-zero → scale 0
      (3L, Array(-0.002f, 0.001f))).toDF("vec_id", "embedding")
    val rows = graft.operators.Similarity.quantizeInt8(emb)
      .orderBy("vec_id")
      .as[(Long, Double, Seq[Byte], Double)].collect().toSeq
    val (id1, s1, q1, e1) = rows(0)
    assert(id1 == 1L && s1 == 0.01)
    assert(q1 == Seq[Byte](127, -127, 63, 0)) // 63.4999… + 0.5 floors to 63
    assert(e1 <= s1 / 2 + 1e-9)
    assert(rows(1) == ((2L, 0.0, Seq[Byte](0, 0, 0), 0.0)))
    // per-vector error bound holds generally: |v − q·scale| ≤ scale/2
    // plus the ≤1-ulp slack the 6-digit scale rounding introduces
    val rnd = new scala.util.Random(7)
    val many = (0 until 50).map(i =>
      (i.toLong, Array.fill(16)((rnd.nextFloat() - 0.5f) * 4f))).toDF("vec_id", "embedding")
    val viol = graft.operators.Similarity.quantizeInt8(many)
      .filter(col("max_err") > col("scale") * 0.5 + 1e-6).count()
    assert(viol == 0)
  }

  test("quantizedTopK: high recall vs the float top-k on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    val quant = Similarity.quantizeInt8(emb)
    val approx = Similarity.quantizedTopK(quant, quant.filter(col("vec_id") < 8), k = 5)
    val recall = Similarity.recallAtK(approx, exact)
      .agg(avg("recall")).head().getDouble(0)
    // int8 quantization perturbs cosines by ~1e-2 at most; on the fixed
    // testdata the top-5 sets should essentially survive
    assert(recall >= 0.9, s"mean recall@5 = $recall")
  }

  test("encodeWithVocab: rank-deterministic vocab, OOV=0, order preserved") {
    val corpus = Seq(
      (1L, "b b a c"),   // freqs: b=3, a=2, c=1-each → vocab(2): b=1, a=2
      (2L, "a b rare"),
      (3L, "")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.encodeWithVocab(corpus, vocabSize = 2)
      .orderBy("doc_id").as[(Long, Seq[Int])].collect().toSeq
    // tie between a (2) and c (1): freq decides; within the vocab cut
    // "rare" and "c" fall out → 0. Zero-token doc 3 emits no row.
    assert(got == Seq((1L, Seq(1, 1, 2, 0)), (2L, Seq(2, 1, 0))))
    // tie-break determinism: equal freqs rank alphabetically
    val ties = Seq((1L, "z y"), (2L, "y z")).toDF("doc_id", "text")
    val tied = graft.operators.TextAnalysis.encodeWithVocab(ties, vocabSize = 2)
      .orderBy("doc_id").as[(Long, Seq[Int])].collect().toSeq
    assert(tied == Seq((1L, Seq(2, 1)), (2L, Seq(1, 2)))) // y=1, z=2
  }

  test("kmeansTrain recovers separated clusters from lowest-id seeds") {
    import graft.operators.Similarity
    // three tight, well-separated clusters in 4-d; ids interleave the
    // clusters so the 3 lowest-id seeds land one per cluster
    val centers = Seq(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    val vecs = (0 until 30).map { i =>
      val c = centers(i % 3)
      val jitter = (i / 3) * 0.01f
      (i.toLong, c.map(_ + jitter))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val trained = Similarity.kmeansTrain(emb, k = 3, iters = 2)
    // all three cells survive with 10 members each
    val sizes = trained.select("cell", "n_vectors").distinct()
      .as[(Int, Long)].collect().toMap
    assert(sizes.keySet == Set(0, 1, 2) && sizes.values.forall(_ == 10L))
    // purity: every vector assigns to the cell seeded from its cluster
    val assigned = Similarity.assignCells(emb, trained)
      .as[(Long, Int, Option[Double])].collect()
    assert(assigned.forall { case (id, cell, _) => cell == (id % 3) })
    // the trained centroid's dominant dimension is its cluster's axis
    val dom = trained.select("cell", "dim", "mean_v")
      .as[(Int, Int, Double)].collect()
      .groupBy(_._1).map { case (cell, rows) => cell -> rows.maxBy(_._3)._2 }
    assert(dom == Map(0 -> 0, 1 -> 1, 2 -> 2))
    // determinism: retraining yields the identical centroid frame
    val again = Similarity.kmeansTrain(emb, k = 3, iters = 2)
      .orderBy("cell", "dim").collect().toSeq
    assert(again == trained.orderBy("cell", "dim").collect().toSeq)
  }

  test("pqTrain/pqEncode/pqAdcTopK: subspace codebooks, exact ADC lookups") {
    // 4-d, m=2: subspace 0 separates the x/y axes, subspace 1 the
    // (7,7)/(−7,7) directions — cosine-separable in BOTH halves, with
    // ids interleaving the patterns so the 2 lowest-id seeds split them
    val vecs = (0 until 24).map { i =>
      val j = (i / 2) * 0.01f
      val h1 = if (i % 2 == 0) Array(10f + j, 0f) else Array(0f, 10f + j)
      val h2 = if (i % 2 == 0) Array(7f, 7f + j) else Array(-7f, 7f + j)
      (i.toLong, h1 ++ h2)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val pq = Similarity.pqTrain(emb, m = 2, k = 2, iters = 2, dim = 4)
    // both subspaces trained; every cell keeps its 12 members
    val sizes = pq.select("subspace", "cell", "n_vectors").distinct()
      .as[(Int, Int, Long)].collect().toSeq
    assert(sizes.map(t => (t._1, t._2)).toSet ==
      Set((0, 0), (0, 1), (1, 0), (1, 1)))
    assert(sizes.forall(_._3 == 12L))
    // partition-invariance: the driver-merged DECIMAL accumulators must
    // produce the identical trained bytes for any input partitioning
    val again = Similarity.pqTrain(emb.repartition(7), m = 2, k = 2, iters = 2, dim = 4)
      .orderBy("subspace", "cell", "dim").collect().toSeq
    assert(again == pq.orderBy("subspace", "cell", "dim").collect().toSeq)

    // encode: even ids carry the even-seed pattern in both halves →
    // codes (0,0); odd ids → (1,1)
    val bookRows = Similarity.pqCentroidVectors(pq).collect()
    val books: Seq[Seq[(Any, Seq[Float])]] = (0 until 2).map { s =>
      bookRows.toSeq.filter(_.getInt(0) == s).map(r => (r.get(1), r.getSeq[Float](2)))
    }
    val codes = Similarity.pqEncode(emb, books, dim = 4)
      .as[(Long, Seq[Int])].collect().toSeq
    assert(codes.forall { case (id, cs) =>
      cs == Seq((id % 2).toInt, (id % 2).toInt) })

    // ADC scores are EXACTLY the summed 6dp codebook partial dots of
    // the candidate's codes — recomputed here independently
    def r(x: Double, scale: Int): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val bookMap = bookRows.map(row =>
      (row.getInt(0), row.getInt(1)) -> row.getSeq[Float](2)).toMap
    val codeMap = codes.toMap
    val vecMap = vecs.toMap
    val got = Similarity.pqAdcTopK(emb, emb.filter(col("vec_id") < 2), pq,
      k = 3, m = 2, dim = 4)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got.nonEmpty && got.forall { case (q, c, _, _) => q != c })
    got.foreach { case (q, cand, score, _) =>
      val expected = r((0 until 2).map { s =>
        val sub = vecMap(q).slice(s * 2, (s + 1) * 2).toSeq
        java.math.BigDecimal.valueOf(
          r(dot(sub, bookMap((s, codeMap(cand)(s)))), 6))
      }.reduce(_ add _).doubleValue(), 4)
      assert(score == expected, s"ADC score for ($q,$cand)")
    }
    // ranking contract: per query, scores descend with id tie-break
    got.groupBy(_._1).values.foreach { rs =>
      val byRank = rs.sortBy(_._4)
      assert(byRank.map(_._4) == (1 to byRank.length))
      assert(byRank.sliding(2).forall {
        case Seq(a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)
        case _         => true
      })
    }

    // IVF+PQ with every cell probed ≡ whole-corpus ADC (the pruning is
    // the ONLY difference between the two paths), and with nprobe=1
    // every candidate comes from the query's own best coarse cell
    val labeled = emb.withColumn("label", pmod(col("vec_id"), lit(2)).cast("int"))
    val cent = Similarity.cellCentroids(labeled)
    val corpus = labeled.withColumnRenamed("label", "cell")
    val queries = emb.filter(col("vec_id") < 2)
    val full = Similarity.ivfPqTopK(corpus, queries, cent, pq,
        k = 3, nprobe = 2, m = 2, dim = 4)
      .select("query_id", "cand_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    assert(full == got.sorted)
    val pruned = Similarity.ivfPqTopK(corpus, queries, cent, pq,
        k = 3, nprobe = 1, m = 2, dim = 4)
      .as[(Long, Long, Int, Double, Int)].collect().toSeq
    assert(pruned.nonEmpty)
    val cellOf = corpus.select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(pruned.forall { case (_, cand, cell, _, _) => cellOf(cand) == cell })

    // rerank: with the shortlist covering the whole corpus, the
    // re-ranked top-k IS the brute-force float top-k — the shortlist
    // stage only ever PRUNES, never re-orders the exact scores
    val rer = Similarity.pqRerankTopK(emb, queries, pq,
        k = 3, shortlistK = 23, m = 2, dim = 4)
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val brute = Similarity.bruteForceTopK(emb, queries, k = 3)
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    assert(rer == brute)
    // with a tight shortlist the result is still k-deep and exactly
    // cosine-scored (scores must be a subset of brute-force pair scores)
    val tight = Similarity.pqRerankTopK(emb, queries, pq,
        k = 3, shortlistK = 5, m = 2, dim = 4)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(tight.count(_._1 == 0L) == 3 && tight.count(_._1 == 1L) == 3)
  }

  test("bpeTrain: a corpus with no trainable words yields zero merges, no crash") {
    // every token fails the ^[a-z]+$ vocabulary filter → empty (even
    // zero-partition) base frame; the per-iteration fold must surface
    // this as exhaustion, not an RDD.reduce empty-collection crash
    val untrainable = Seq((1L, "123 456.0 789"), (2L, "0.5 77")).toDF("doc_id", "text")
    assert(graft.operators.TextAnalysis.bpeTrain(untrainable, iters = 3).count() == 0)
  }

  test("bm25TopK: rare terms outweigh common, length-normalized, stable") {
    val docs = Seq(
      (1L, "alpha beta beta beta"),          // common term, short
      (2L, "alpha " + ("pad " * 60).trim),   // common term, long (normalized down)
      (3L, "zebra beta"),                    // rare + common
      (4L, "pad pad pad"))                   // no query terms
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .bm25TopK(docs, Seq("beta", "zebra"), k = 4)
      .as[(Long, Long, Double)].collect().toSeq
    // doc 4 never appears; doc 3 wins (rare zebra + beta); all scores positive
    assert(!got.map(_._1).contains(4L))
    assert(got.head._1 == 3L && got.head._2 == 2L)
    assert(got.forall(_._3 > 0))
    // length normalization: doc 1's repeated beta in a short doc beats
    // nothing here, but scoring is deterministic across partitionings
    val again = graft.operators.TextAnalysis
      .bm25TopK(docs.repartition(7), Seq("beta", "zebra"), k = 4)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == again)
  }

  test("bm25TopK: duplicate ids raise by default, merge only when opted out") {
    val dup = Seq(
      (1L, "alpha beta beta"),
      (1L, "beta gamma"), // same id twice — per-row scoring would silently merge
      (2L, "beta delta"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      graft.operators.TextAnalysis.bm25TopK(dup, Seq("beta"), k = 3).collect()
    }
    assert(ex.getMessage.contains("duplicate values in id column 'doc_id'"),
      ex.getMessage)
    // opt-out keeps the documented rows-as-separate-docs-merged-per-id
    // semantics for pre-validated pipelines
    val merged = graft.operators.TextAnalysis
      .bm25TopK(dup, Seq("beta"), k = 3, requireUniqueIds = false)
      .as[(Long, Long, Double)].collect().toSeq
    assert(merged.map(_._1).sorted == Seq(1L, 2L) && merged.forall(_._3 > 0))
    // unique-id corpora pass the default guard untouched
    val clean = graft.operators.TextAnalysis
      .bm25TopK(dup.filter(col("text") =!= "beta gamma"), Seq("beta"), k = 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(clean.map(_._1).sorted == Seq(1L, 2L))
  }

  test("cdcContainmentPairs: near-identical docs pair with high containment") {
    val rnd = new scala.util.Random(29)
    val body = (1 to 300).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val other = (1 to 300).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq(
      (1L, body),
      (2L, "PREFIX EDIT " + body), // shares almost all chunks with 1
      (3L, other))                 // unrelated
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.cdcContainmentPairs(docs, minShared = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"only the near-identical pair should surface: $got")
    assert(got.head._4 >= 0.6, s"containment should be high: ${got.head}")
    // the pair face agrees with the census face on what recurs
    val censusCount = graft.operators.Dedup.cdcChunkCensus(docs, minDocs = 2).count()
    assert(censusCount > 0 && got.head._3 <= censusCount)
  }

  test("heavyHitters: exact top-N with sketch verdicts true under tiny k") {
    // 3 heavy tokens drowned in noise; k=5 forces constant decrements
    // and cross-partition merges, the regime where MG bounds actually
    // bite. Every verdict must still be true (the bounds are theorems).
    val heavy = (1 to 400).map(_ => "aa bb cc").mkString(" ")
    val noise = (1 to 3000).map(i => s"n$i").mkString(" ")
    val corpus = Seq((1L, heavy), (2L, noise), (3L, s"$heavy $noise"))
      .toDF("doc_id", "text").repartition(8)
    val got = graft.operators.TextAnalysis.heavyHitters(corpus, sketchK = 5, topN = 3)
      .as[(String, Long, Boolean)].collect().toSeq
    assert(got.map(_._1).sorted == Seq("aa", "bb", "cc"))
    assert(got.forall(_._2 == 800L))
    assert(got.forall(_._3), s"all sketch verdicts must hold: $got")
    // larger k: heavy tokens are guaranteed PRESENT in the summary
    // (freq 800 > n/(k+1) = 7600/41) with verdicts still true
    val roomy = graft.operators.TextAnalysis.heavyHitters(corpus, sketchK = 40, topN = 3)
      .as[(String, Long, Boolean)].collect().toSeq
    assert(roomy.forall(_._3))
  }

  test("bpeTrain learns the classic low/lower/lowest merges in order") {
    val docs = Seq((1L, "low low low lower lower lowest"))
      .toDF("doc_id", "text").repartition(4)
    val got = graft.operators.TextAnalysis.bpeTrain(docs, iters = 4)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    // it1: (l,o) and (o,w) both weigh 6; tie breaks to the smaller pair
    assert(got == Seq(
      (1, "l", "o", 6L), (2, "lo", "w", 6L),
      (3, "low", "e", 3L), (4, "lowe", "r", 2L)))
  }

  test("bpeTrain: greedy overlap resolution and early exhaustion") {
    // 'aaaa': pair (a,a) occurs at 3 positions; greedy left-to-right
    // merges to [aa, aa] (never [a, aa, a]), then (aa,aa) once, then
    // the single-symbol word has no pairs — training stops early
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.bpeTrain(docs, iters = 5)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
    // non-alphabetic tokens never reach training: '123' and 't0kens'
    // are filtered, 'Mixed' lowercases in
    val mixed = Seq((1L, "Mixed 123 t0kens")).toDF("doc_id", "text")
    val ml = graft.operators.TextAnalysis.bpeTrain(mixed, iters = 2)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(ml == Seq((1, "e", "d", 1L), (2, "i", "x", 1L)))
  }

  test("bpeTrain hybrid in-core tail is merge-for-merge identical to the distributed loop") {
    // enough structure that winners shift across iterations (shared
    // prefixes, overlaps, ties) — the exact surface where a batched or
    // sloppy local loop would diverge from sequential replay
    val docs = (0 until 40).map(i =>
      (i.toLong, s"low lower lowest newer newest wide wider widest " +
        s"aaa${"a" * (i % 3)} shared${i % 5} text tokens token"))
      .toDF("doc_id", "text").repartition(6)
    val local = graft.operators.TextAnalysis.bpeTrain(docs, iters = 10)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    val dist = graft.operators.TextAnalysis
      .bpeTrain(docs, iters = 10, localVocabWords = 0L)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(local == dist, s"hybrid $local != distributed $dist")
    assert(local.size == 10)
  }

  test("bpeEncode applies merges in order; opaque passthrough; position order") {
    val docs = Seq((1L, "low lower 42 Lo!w low")).toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"))
    val got = graft.operators.TextAnalysis.bpeEncode(docs, merges)
      .as[(Long, Seq[String])].collect().head
    // 'low' → [low]; 'lower' → [low, e, r]; '42' and 'Lo!w' are not
    // alphabetic after lowering → single opaque symbols, original case
    assert(got == (1L ->
      Seq("low", "low", "e", "r", "42", "Lo!w", "low")))
    // merge order matters: applying (lo, w) before (l, o) merges nothing
    val reversed = graft.operators.TextAnalysis.bpeEncode(docs, merges.reverse)
      .as[(Long, Seq[String])].collect().head
    assert(reversed._2.take(3) == Seq("lo", "w", "lo"))
  }

  test("splitDecontaminated flags train docs sharing a trigram with eval") {
    import graft.operators.Sampling
    // find one eval-side and two train-side ids under the real hash
    val buckets = Seq.range(1L, 60L).toDF("id")
      .select(col("id"), Sampling.bucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val evalId = buckets.collectFirst { case (id, b) if b < 20 => id }.get
    val Seq(leakyId, cleanId) =
      buckets.toSeq.sortBy(_._1).collect { case (id, b) if b >= 20 => id }.take(2)
    val shared = "alpha beta gamma delta"
    val corpus = Seq(
      (evalId, s"$shared eval tail"),
      (leakyId, s"prefix $shared more words here"), // shares trigrams with eval
      (cleanId, "totally unrelated content words")).toDF("doc_id", "text")
    val got = Sampling.splitDecontaminated(corpus, evalPct = 20, n = 3)
      .as[(Long, String, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(evalId)._2 == "eval" && got(evalId)._4, "eval doc always kept")
    assert(got(leakyId)._2 == "train" && got(leakyId)._3 > 0 && !got(leakyId)._4,
      "train doc sharing a trigram with eval must be dropped")
    assert(got(cleanId)._2 == "train" && got(cleanId)._3 == 0 && got(cleanId)._4,
      "clean train doc kept")
    // raising maxOverlap past the leak count keeps the leaky doc
    val lenient = Sampling.splitDecontaminated(corpus, evalPct = 20, n = 3,
      maxOverlap = Long.MaxValue)
      .as[(Long, String, Long, Boolean)].collect().map(r => r._1 -> r._4).toMap
    assert(lenient(leakyId), "within-bound overlap is kept")
  }

  test("lmScores: boilerplate scores above noise, short docs null out") {
    val common = "the quick brown fox"
    val corpus = Seq(
      (1L, common), (2L, common), (3L, common), (4L, common),  // boilerplate
      (5L, "zq xw vv kj pq mn"),                               // unique junk
      (6L, "solo"),                                            // 1 token
      (7L, "")).toDF("doc_id", "text")                         // 0 tokens
    val got = graft.operators.TextAnalysis.lmScores(corpus)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(got.map(_._1) == (1L to 7L))
    // every doc present; <2-token docs have zero bigrams and null score
    assert(got.filter(r => r._1 >= 6).forall(r => r._2 == 0L && r._3.isEmpty))
    assert(got.take(4).forall(_._2 == 3L)) // 4 tokens → 3 bigrams
    assert(got(4)._2 == 5L)                // 6 tokens → 5 bigrams
    // the repeated document's bigrams are 4× likelier than the unique
    // junk's under the corpus model → strictly higher mean log-prob
    val boiler = got.head._3.get
    val junk = got(4)._3.get
    assert(boiler > junk, s"boilerplate $boiler should beat junk $junk")
    // all four copies of the boilerplate share one score
    assert(got.take(4).map(_._3.get).distinct.size == 1)
    // scores are log-probabilities: strictly negative
    assert(boiler < 0.0 && junk < 0.0)
  }

  test("duplicatedSpans finds cross-document spans, ignores within-doc repeats") {
    val block = "a b c d"                       // one 4-token span
    val corpus = Seq(
      (1L, s"$block x1 y1 z1 w1"),              // span 0 = block
      (2L, s"$block x2 y2 z2 w2"),              // span 0 = block → cross-doc dup
      (3L, "p q r s t u v w"),                  // unique spans only
      (4L, s"m n o p $block"),                  // span 1 = block → 3rd doc
      (5L, "r r r r r r r r"),                  // within-doc repeat spans... one doc
      (6L, "")).toDF("doc_id", "text")          // empty doc: no spans, no crash
    val got = graft.operators.Dedup.duplicatedSpans(corpus, spanTokens = 4)
      .select("doc_id", "span_no", "n_docs")
      .as[(Long, Long, Long)].collect().toSet
    // the shared block appears in docs 1, 2, 4 → n_docs = 3, at span 0,
    // 0, and 1 respectively; doc 5's self-repeat is NOT cross-document
    // (its two spans are identical to each other but no other doc has
    // them) and doc 3 shares nothing
    assert(got == Set((1L, 0L, 3L), (2L, 0L, 3L), (4L, 1L, 3L)))
    // tail spans compare too: two docs ending in the same short tail
    val tails = Seq((1L, "a b c d e f"), (2L, "x y z w e f"))
      .toDF("doc_id", "text")
    val tailGot = graft.operators.Dedup.duplicatedSpans(tails, spanTokens = 4)
      .select("doc_id", "span_no").as[(Long, Long)].collect().toSet
    assert(tailGot == Set((1L, 1L), (2L, 1L))) // the 2-token tail "e f"
  }

  test("removeDuplicatedSpans keeps the globally-first occurrence and reassembles") {
    val block = "a b c d"
    val corpus = Seq(
      (1L, s"$block x1 y1 z1 w1"),  // first holder of the block
      (2L, s"$block x2 y2 z2 w2"),  // later holder → block stripped
      (3L, s"$block $block"),       // later holder twice → empty
      (4L, "")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.removeDuplicatedSpans(corpus, spanTokens = 4)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, s"$block x1 y1 z1 w1", 2L, 0L),
      (2L, "x2 y2 z2 w2", 1L, 1L),
      (3L, "", 0L, 2L),
      (4L, "", 0L, 0L)))
    // conservation: kept + dropped = total spans, and reassembling the
    // kept spans of the whole corpus loses no non-duplicated content
    val spans = graft.operators.Dedup
      .removeDuplicatedSpans(corpus, spanTokens = 4)
      .agg(sum(col("n_kept") + col("n_dropped"))).as[Long].head()
    assert(spans == 6L) // 2 + 2 + 2 + 0
  }

  test("incrementalNewBloom routes rows but never decides them") {
    val seenDocs = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val seen = Dedup.exact(seenDocs).select("digest")
    val incoming = Seq(
      (10L, "alpha beta"),    // true re-ingest → dropped by the verify join
      (11L, "fresh content"), // unseen → bloom-no rows skip the join entirely
      (12L, "gamma delta"),   // re-ingest → dropped
      (13L, "more new text")).toDF("doc_id", "text")
    val plain = Dedup.incrementalNew(incoming, seen)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(plain == Seq(11L, 13L))
    // both fpp extremes must agree exactly with the anti-join: a sloppy
    // filter routes more rows through the verify join, a tight one
    // routes more around it — the RESULT may depend on neither
    for (fpp <- Seq(0.9, 0.001)) {
      val bloomed = Dedup.incrementalNewBloom(incoming, seen,
        expectedDigests = 100, fpp = fpp)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(bloomed == plain, s"fpp=$fpp")
    }
  }

  test("assignCells: vectors land on their nearest trained centroid") {
    // two well-separated clusters; labels deliberately MISLEAD (both "x")
    // to prove assignment ignores pre-existing labels
    val emb = Seq(
      (1L, "a", Array(1.0f, 0.0f)), (2L, "a", Array(0.9f, 0.1f)),
      (3L, "b", Array(0.0f, 1.0f)), (4L, "b", Array(0.1f, 0.9f)),
      (5L, "a", Array(0.05f, 1.0f))) // labeled a, but lives in cluster b
      .toDF("vec_id", "label", "embedding")
    val cent = Similarity.cellCentroids(emb)
    val got = Similarity.assignCells(emb, cent)
      .select("vec_id", "cell").as[(Long, String)].collect().toMap
    assert(got(1L) == "a" && got(2L) == "a")
    assert(got(3L) == "b" && got(4L) == "b")
    assert(got(5L) == "b") // reassigned to the geometrically nearest cell
  }

  test("contaminationScores: full overlap = 1, disjoint = 0, short docs = 0") {
    val train = Seq(
      (1L, "the cat sat on the mat"),   // identical to benchmark doc
      (2L, "completely different words entirely"),
      (3L, "solo"))                     // < n tokens: no shingles
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the cat sat on the mat")).toDF("doc_id", "text")
    val got = Dedup.contaminationScores(train, bench, n = 2)
      .select("doc_id", "contamination").as[(Long, Double)].collect().toMap
    assert(got(1L) == 1.0 && got(2L) == 0.0 && got(3L) == 0.0)
  }

  test("repetitionScores: templated text scores high, all-distinct scores 0") {
    val got = Dedup.repetitionScores(Seq(
      (1L, "buy now buy now buy now buy now"),
      (2L, "a quick brown fox jumps"))
      .toDF("doc_id", "text"), n = 2)
      .select("doc_id", "repetition").as[(Long, Double)].collect().toMap
    // doc 1: 7 bigrams, 2 distinct ("buy now"/"now buy") → 1 - 2/7
    assert(math.abs(got(1L) - (1.0 - 2.0 / 7.0)) < 1e-6)
    assert(got(2L) == 0.0)
  }

  test("recallAtK: perfect self-recall, counted misses, short truth lists") {
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("query_id", "cand_id")
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L)).toDF("query_id", "cand_id")
    val got = Similarity.recallAtK(approx, exact)
      .select("query_id", "truth_k", "hits", "recall")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (q, t, h, r) => (q, (t, h, r)) }.toMap
    assert(got(1L) == ((2L, 2L, 1.0)))  // all true neighbors found
    assert(got(2L) == ((2L, 0L, 0.0)))  // probe missed the cell entirely
  }

  test("simhash: identical docs identical, fits 48 bits") {
    val sh = Dedup.simHash(docs, n = 2).orderBy("doc_id")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(sh.values.forall(v => v >= 0 && v < (1L << 48)))
  }

  test("cosine column: exact on known vectors; zero-norm gives null not an ANSI abort") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val got = df.select(Portable.cosine(col("a"), col("b"))).as[Double].collect()
    assert(got(0) == 0.0 && math.abs(got(1) - 1.0) < 1e-12)
    val zero = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    assert(zero.select(Portable.cosine(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("quality handles empty and whitespace-only text without dividing by zero") {
    val d = Seq((1L, ""), (2L, "   "), (3L, "real text here"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.quality(d).orderBy("doc_id").collect()
    assert(got(0).getAs[Double]("quality") == 0.0)
    assert(got(1).getAs[Double]("quality") == 0.0 && got(1).isNullAt(3)) // null avg_token_len
    assert(got(2).getAs[Double]("quality") > 0.0)
  }

  test("gopherRules: each published rule fires on its crafted violator") {
    val fiftyGood = (1 to 30).map(i => s"word$i the").mkString(" ")
    val docs = Seq(
      // 0: healthy doc — enough words, stopwords, letters, no dups
      (0L, ((1 to 60).map(i => "the quick brown fox of lore".split(" ")(i % 6)).mkString(" "))),
      (1L, "too few words here"),                        // word count < 50
      (2L, (1 to 60).map(_ => "a").mkString(" ")),       // mean word length < 3
      (3L, (1 to 60).map(_ => "the####").mkString(" ")), // hash ratio > 0.1
      (4L, (1 to 10).map(_ => "- the bullet item of note").mkString("\n")), // >90% bullet lines
      (5L, (1 to 10).map(_ => "the line trails off of...").mkString("\n")), // >30% ellipsis lines
      (6L, (1 to 60).map(_ => "1234 5678 !!!").mkString(" ")), // alpha words < 80%
      (7L, fiftyGood),                                   // only 1 distinct stopword ("the")
      (8L, (1 to 10).map(_ => "the same line of text and more with it be that have").mkString("\n")), // dup lines
      (9L, ""),                                          // empty: everything fails
      // 10: 6% hashes + 6% unicode ellipses — KEPT under the published
      // per-symbol 0.1 thresholds; the pre-r13 combined ratio (0.12)
      // wrongly rejected exactly this document
      (10L, {
        val base = Seq("the", "quick", "brown", "fox", "of", "lore")
        (0 until 100).map { i =>
          val w = base(i % 6)
          if (i < 6) w + "#" else if (i < 12) w + "…" else w
        }.mkString(" ")
      }),
      (11L, (1 to 60).map(_ => "the…").mkString(" ")),   // unicode-ellipsis ratio 1.0 > 0.1
      (12L, "the quick\nbrown fox\tof lore\rmore"),      // \n \t \r all break words
      (13L, null.asInstanceOf[String])                   // null text ≡ empty: everything fails
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs).orderBy("doc_id").collect()
    def b(r: org.apache.spark.sql.Row, c: String): Boolean = {
      val i = r.fieldIndex(c); !r.isNullAt(i) && r.getBoolean(i)
    }
    assert(got(0).getAs[Boolean]("gopher_keep"), got(0).toString)
    assert(!b(got(1), "r_word_count"))
    assert(!b(got(2), "r_mean_word_len"))
    assert(!b(got(3), "r_hash_ratio"))
    assert(!b(got(4), "r_bullet_lines"))
    assert(!b(got(5), "r_ellipsis_lines"))
    assert(!b(got(6), "r_alpha_words"))
    assert(!b(got(7), "r_stopwords") && got(7).getAs[Long]("stopwords_present") == 1L)
    assert(!b(got(8), "r_dup_lines") && !b(got(8), "r_dup_line_chars"))
    assert(!got(9).getAs[Boolean]("gopher_keep") && got(9).getAs[Long]("n_words") == 0L)
    // every violator is kept=false
    (1 to 9).foreach(i => assert(!got(i).getAs[Boolean]("gopher_keep"), s"doc $i"))
    // 10: separate thresholds keep what the combined ratio rejected
    assert(got(10).getAs[Double]("hash_word_ratio") == 0.06 &&
      got(10).getAs[Double]("ellipsis_word_ratio") == 0.06, got(10).toString)
    assert(b(got(10), "r_hash_ratio") && b(got(10), "r_ellipsis_ratio") &&
      got(10).getAs[Boolean]("gopher_keep"), got(10).toString)
    // 11: '…' counts toward the ellipsis ratio (pre-r13 kernel missed it)
    assert(!b(got(11), "r_ellipsis_ratio") &&
      got(11).getAs[Double]("ellipsis_word_ratio") == 1.0, got(11).toString)
    assert(!got(11).getAs[Boolean]("gopher_keep"))
    // 12: newline/tab/CR are word delimiters (0x20-only split saw 4 words)
    assert(got(12).getAs[Long]("n_words") == 7L, got(12).toString)
    // 13: null text behaves exactly like empty text on the Spark side
    // (the oracle mirrors via COALESCE(text, ''))
    assert(!got(13).getAs[Boolean]("gopher_keep") && got(13).getAs[Long]("n_words") == 0L)
  }

  test("sampleFrames emits the trailing partial window's frame") {
    // 80-byte payload, frameBytes=16, stride=4 (span 64): offsets 0 and 64.
    val a = Multimodal.assetsFromText(Seq((1L, "x" * 80)).toDF("doc_id", "text"))
    val frames = Multimodal.sampleFrames(a, 16, 4).orderBy("frame_no").collect()
    assert(frames.length == 2)
    assert(frames(1).getAs[Array[Byte]]("frame").length == 16)
  }

  test("bruteForceTopK ranks by score then id, k respected") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.05f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), k = 2)
      .select("cand_id", "rank").as[(Long, Int)].collect().toSeq
    assert(got == Seq((3L, 1), (1L, 2)))
  }

  test("labelPurity counts same-label neighbors per class, exact ratio") {
    // two clean clusters on the axes + one mislabeled vector (5 carries
    // label 1 but sits on the y-axis)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1), (1L, Array(0.9f, 0.1f), 1),
      (2L, Array(0.95f, 0.05f), 1),
      (3L, Array(0.0f, 1.0f), 2), (4L, Array(0.1f, 0.9f), 2),
      (5L, Array(0.05f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelPurity(emb, emb, k = 2)
      .orderBy("label")
      .select("label", "n_queries", "n_matched", "purity")
      .as[(Int, Long, Long, Double)].collect().toSeq
    // label 1: queries 0,1,2 match both x-axis neighbors (6); query 5's
    // neighbors are 3,4 (label 2) → 0. purity = 6 / (4 * 2)
    // label 2: queries 3,4 each rank 5 (label 1) in their top-2 → 1 match
    // each. purity = 2 / (2 * 2)
    assert(got == Seq((1, 4L, 6L, 0.75), (2, 2L, 2L, 0.5)))
  }

  test("ivfProbeTopK probes only the nearest cells and ranks within them") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1),   // query: x-axis, lives in cell 1
      (1L, Array(0.9f, 0.1f), 1),
      (2L, Array(0.8f, 0.0f), 1),
      (3L, Array(0.0f, 1.0f), 2),   // cell 2: y-axis vectors
      (4L, Array(0.1f, 0.9f), 2))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.cellCentroids(emb)
    // nprobe=1: only cell 1 candidates, ranked by cosine
    val one = Similarity.ivfProbeTopK(emb, emb.filter(col("vec_id") === 0), cents,
      k = 5, nprobe = 1)
      .select("cand_id", "cell", "rank").as[(Long, Int, Int)].collect().toSeq.sortBy(_._3)
    assert(one.map(_._2).toSet == Set(1))
    assert(one.map(_._1) == Seq(2L, 1L)) // 2 is exactly parallel → rank 1
    // nprobe=2: cell 2 candidates join the list below the cell-1 ones
    val two = Similarity.ivfProbeTopK(emb, emb.filter(col("vec_id") === 0), cents,
      k = 5, nprobe = 2)
    assert(two.count() == 4)
  }

  test("ivfAppend: appended store serves like assign-all-at-once; replay is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    val rnd = new scala.util.Random(33)
    val emb = (0 until 80).map { i =>
      (i.toLong, Array.fill(4)(rnd.nextFloat()), i % 5)
    }.toDF("vec_id", "embedding", "label")
    // centroids train on the RESIDENT slice only; the held-out quarter
    // is assigned against the frozen codebook and appended later
    val resident = emb.filter(pmod(col("vec_id"), lit(4)) =!= 3)
    val batch = emb.filter(pmod(col("vec_id"), lit(4)) === 3)
    val cent = Similarity.cellCentroids(resident)
    val path = s"$dir/corpus"
    Similarity.ivfAppend(resident, cent, path, batchId = 0L)
    Similarity.ivfAppend(batch, cent, path, batchId = 1L)
    val stored = IndexStore.levels(spark, path).get
    assert(stored.count() == 80)
    assert(stored.filter(col("batch_id") === 1).count() == batch.count())
    val queries = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
    val got = Similarity.ivfProbeTopKPruned(stored, queries, cent,
      k = 4, nprobe = 2, cellCol = "cell")
      .orderBy("query_id", "rank").collect().toSeq
    // one-shot oracle: the FULL corpus assigned against the same
    // frozen centroids in a single pass — maintenance must not change
    // a single served row
    val allAssigned = emb.join(
      Similarity.assignCells(emb, cent).select(col("vec_id"), col("cell")), "vec_id")
    val expect = Similarity.ivfProbeTopK(allAssigned, queries, cent,
      k = 4, nprobe = 2, cellCol = "cell")
      .orderBy("query_id", "rank").collect().toSeq
    assert(got == expect && got.nonEmpty)
    // replay of an already-committed batch id (the at-least-once case):
    // deterministic assignment regenerates exactly the original
    // (cell, batch_id) leaves, and the level's commit replaces them
    Similarity.ivfAppend(batch, cent, path, batchId = 1L)
    val replayed = IndexStore.levels(spark, path).get
    assert(replayed.count() == 80,
      "a replayed batch must overwrite its own leaves, not duplicate them")
    val afterReplay = Similarity.ivfProbeTopKPruned(replayed, queries, cent,
      k = 4, nprobe = 2, cellCol = "cell")
      .orderBy("query_id", "rank").collect().toSeq
    assert(afterReplay == expect)
    // the store is never compacted, yet after one more commit the
    // replay's superseded files are gone: every file on disk is one the
    // retained manifests list
    Similarity.ivfAppend(emb.filter(col("vec_id") === 0L).withColumn("vec_id", lit(80L)), cent,
      path, batchId = 2L)
    val (disk, retained) = StoreFiles.diskAndRetained(path)
    assert(disk == retained, s"${(disk -- retained).size} files on disk that no retained manifest lists")
  }

  test("ivfCompact: folds every level into one, serves identically, converges on replay") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_compact").toString
    val rnd = new scala.util.Random(55)
    def mk(ids: Seq[Long]) = ids.map(i =>
      (i, Array.fill(4)(rnd.nextFloat()), (i % 5).toInt))
    val residentRows = mk(0L until 60L)
    val b1Rows = mk(60L until 70L)
    val b2Rows = mk(70L until 80L)
    val resident = residentRows.toDF("vec_id", "embedding", "label")
    val cent = Similarity.cellCentroids(resident)
    val path = s"$dir/corpus"
    Similarity.ivfAppend(resident, cent, path, batchId = 0L)
    Similarity.ivfAppend(b1Rows.toDF("vec_id", "embedding", "label"), cent, path, batchId = 1L)
    val b2 = b2Rows.toDF("vec_id", "embedding", "label")
    val queries = resident.filter(col("vec_id") < 3).select("vec_id", "embedding")
    def probe(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfProbeTopKPruned(c, queries, cent, k = 4, nprobe = 2, cellCol = "cell")
    def serve(c: org.apache.spark.sql.DataFrame) =
      probe(c).orderBy("query_id", "rank").collect().toSeq
    // a reader planned before the compaction executes after it, as of
    // its plan: the compaction keeps the previous manifest's files
    val plannedBefore = probe(IndexStore.levels(spark, path).get)
    val answerBefore = serve(IndexStore.levels(spark, path).get)
    Similarity.ivfCompact(b2, cent, path, batchId = 2L)
    assert(plannedBefore.orderBy("query_id", "rank").collect().toSeq == answerBefore &&
      answerBefore.nonEmpty)
    val stored = IndexStore.levels(spark, path).get
    assert(stored.count() == 80)
    assert(stored.select("batch_id").distinct().as[Int].collect().toSeq == Seq(2),
      "compaction must fold every older level into the trigger batch's own")
    val all = (residentRows ++ b1Rows ++ b2Rows).toDF("vec_id", "embedding", "label")
    val allAssigned = all.join(
      Similarity.assignCells(all, cent).select(col("vec_id"), col("cell")), "vec_id")
    val expect = Similarity.ivfProbeTopK(allAssigned, queries, cent,
      k = 4, nprobe = 2, cellCol = "cell")
      .orderBy("query_id", "rank").collect().toSeq
    assert(serve(stored) == expect && expect.nonEmpty)
    // replayed compaction (crash between the rewrite and the deletes):
    // the merged read includes its own committed level, dedupes, and
    // rewrites the same leaves — state converges, nothing duplicates
    Similarity.ivfCompact(b2, cent, path, batchId = 2L)
    val replayed = IndexStore.levels(spark, path).get
    assert(replayed.count() == 80)
    assert(serve(replayed) == expect)
    // a later append lands beside the compacted level untouched
    val b3Rows = mk(80L until 86L)
    Similarity.ivfAppend(b3Rows.toDF("vec_id", "embedding", "label"), cent, path, batchId = 3L)
    val grown = IndexStore.levels(spark, path).get
    assert(grown.count() == 86)
    val all2 = (residentRows ++ b1Rows ++ b2Rows ++ b3Rows)
      .toDF("vec_id", "embedding", "label")
    val all2Assigned = all2.join(
      Similarity.assignCells(all2, cent).select(col("vec_id"), col("cell")), "vec_id")
    val expect2 = Similarity.ivfProbeTopK(all2Assigned, queries, cent,
      k = 4, nprobe = 2, cellCol = "cell")
      .orderBy("query_id", "rank").collect().toSeq
    assert(serve(grown) == expect2)
  }

  test("ivfDelete: tombstones screen the serve; compaction removes physically") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_delete").toString
    val rnd = new scala.util.Random(77)
    val rows = (0L until 60L).map(i =>
      (i, Array.fill(4)(rnd.nextFloat()), (i % 5).toInt))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val cent = Similarity.cellCentroids(emb)
    val path = s"$dir/corpus"
    Similarity.ivfAppend(emb, cent, path, batchId = 0L)
    // ids that RANK in the undeleted serve (the sanity assert below
    // proves it) — deleting them must visibly reshape the top-k
    val doomed = Seq(47L, 28L, 37L)
    Similarity.ivfDelete(spark, path, doomed, batchId = 1L)
    val queries = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
    def serve(c: org.apache.spark.sql.DataFrame,
        del: Option[org.apache.spark.sql.DataFrame]) =
      Similarity.ivfProbeTopKPruned(c, queries, cent, k = 4, nprobe = 2,
        cellCol = "cell", delOpt = del)
        .orderBy("query_id", "rank").collect().toSeq
    val stored = IndexStore.levels(spark, path).get
    val delTree = IndexStore.levels(spark, s"${path}_del").get
    // ground truth: the store with the rows physically absent
    val expect = serve(stored.filter(!col("vec_id").isin(doomed: _*)), None)
    assert(serve(stored, Some(delTree)) == expect && expect.nonEmpty,
      "the tombstone anti-join must equal serve-without-the-rows")
    assert(serve(stored, None) != expect,
      "sanity: the doomed ids actually appear in the undeleted serve")
    // the pushed tombstone list is sorted, so the same serve plans the
    // same text (up to expression and plan ids) whatever order the del
    // ids are collected in
    def servePlan(del: org.apache.spark.sql.DataFrame) =
      Similarity.ivfProbeTopKPruned(stored, queries, cent, k = 4, nprobe = 2,
        cellCol = "cell", delOpt = Some(del))
        .queryExecution.executedPlan.toString.replaceAll("(#|plan_id=)\\d+", "$1")
    val planAsc = servePlan(delTree.orderBy(col("vec_id")))
    val planDesc = servePlan(delTree.orderBy(col("vec_id").desc))
    assert(planAsc == planDesc, s"plan text depends on collect order:\n$planAsc\nvs\n$planDesc")
    assert(planAsc.contains("IN (28,37,47)"), planAsc)
    // replayed delete rewrites exactly its own leaf
    Similarity.ivfDelete(spark, path, doomed, batchId = 1L)
    assert(serve(IndexStore.levels(spark, path).get,
      Some(IndexStore.levels(spark, s"${path}_del").get)) == expect)
    // compaction applies the tombstones physically and drops them
    val b2 = Seq((100L, Array.fill(4)(rnd.nextFloat()), 0))
      .toDF("vec_id", "embedding", "label")
    Similarity.ivfCompact(b2, cent, path, batchId = 2L)
    val compacted = IndexStore.levels(spark, path).get
    assert(compacted.filter(col("vec_id").isin(doomed: _*)).count() == 0,
      "merge-time removal: doomed rows gone from the corpus tree")
    assert(compacted.count() == 58, "60 - 3 deleted + 1 new")
    assert(IndexStore.levels(spark, s"${path}_del").isEmpty,
      "applied tombstone leaves dropped")
    // the compacted store serves the survivors WITHOUT the del tree
    val all2 = rows.filterNot(r => doomed.contains(r._1))
      .toDF("vec_id", "embedding", "label").unionByName(b2)
    val all2Assigned = all2.join(
      Similarity.assignCells(all2, cent).select(col("vec_id"), col("cell")), "vec_id")
    val expect2 = Similarity.ivfProbeTopK(all2Assigned, queries, cent,
      k = 4, nprobe = 2, cellCol = "cell")
      .orderBy("query_id", "rank").collect().toSeq
    assert(serve(compacted, None) == expect2 && expect2.nonEmpty)
  }

  test("ivfPqAppend/ivfPqCompact: the maintained code store serves like the float path") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_maint").toString
    val rnd = new scala.util.Random(77)
    def mk(ids: Seq[Long]) = ids.map(i =>
      (i, Array.fill(8)(rnd.nextFloat()), (i % 4).toInt))
    val residentRows = mk(0L until 50L)
    val b1Rows = mk(50L until 60L)
    val b2Rows = mk(60L until 70L)
    val resident = residentRows.toDF("vec_id", "embedding", "label")
    // both codebooks FREEZE at the epoch: coarse cells from the
    // resident slice, fine PQ books trained on it too
    val cent = Similarity.cellCentroids(resident)
    val pq = Similarity.pqTrain(resident, m = 2, k = 3, iters = 2, dim = 8)
    val path = s"$dir/codes"
    Similarity.ivfPqAppend(resident, cent, pq, path, batchId = 0L, m = 2, dim = 8)
    Similarity.ivfPqAppend(b1Rows.toDF("vec_id", "embedding", "label"),
      cent, pq, path, batchId = 1L, m = 2, dim = 8)
    val b2 = b2Rows.toDF("vec_id", "embedding", "label")
    Similarity.ivfPqCompact(b2, cent, pq, path, batchId = 2L, m = 2, dim = 8)
    val stored = IndexStore.levels(spark, path).get
    assert(stored.count() == 70)
    assert(stored.select("batch_id").distinct().as[Int].collect().toSeq == Seq(2),
      "compaction must fold the code levels into the trigger batch's own")
    assert(!stored.columns.contains("embedding"),
      "the code store must never hold float vectors")
    val all = (residentRows ++ b1Rows ++ b2Rows).toDF("vec_id", "embedding", "label")
    val allAssigned = all.join(
      Similarity.assignCells(all, cent).select(col("vec_id"), col("cell")), "vec_id")
    val queries = resident.filter(col("vec_id") < 3).select("vec_id", "embedding")
    val got = Similarity.ivfPqTopKFromCodes(stored, queries, cent, pq,
      k = 4, nprobe = 2, m = 2, dim = 8)
      .orderBy("query_id", "rank").collect().toSeq
    val expect = Similarity.ivfPqTopK(allAssigned, queries, cent, pq,
      k = 4, nprobe = 2, m = 2, dim = 8, cellCol = "cell")
      .orderBy("query_id", "rank").collect().toSeq
    assert(got == expect && got.nonEmpty)
    // replayed compaction converges (same argument as the raw store)
    Similarity.ivfPqCompact(b2, cent, pq, path, batchId = 2L, m = 2, dim = 8)
    val replayed = IndexStore.levels(spark, path).get
    assert(replayed.count() == 70)
    assert(Similarity.ivfPqTopKFromCodes(replayed, queries, cent, pq,
      k = 4, nprobe = 2, m = 2, dim = 8)
      .orderBy("query_id", "rank").collect().toSeq == expect)
    // tombstones screen the CODE serve too: delete ids that rank,
    // serve must equal the code store with those rows absent
    val doomedPq = expect.map(_.getLong(1)).distinct.take(2)
    Similarity.ivfDelete(spark, path, doomedPq, batchId = 3L)
    val delTree = IndexStore.levels(spark, s"${path}_del").get
    val expectDel = Similarity.ivfPqTopKFromCodes(
      replayed.filter(!col("vec_id").isin(doomedPq: _*)), queries, cent, pq,
      k = 4, nprobe = 2, m = 2, dim = 8)
      .orderBy("query_id", "rank").collect().toSeq
    val gotDel = Similarity.ivfPqTopKFromCodes(replayed, queries, cent, pq,
      k = 4, nprobe = 2, m = 2, dim = 8, delOpt = Some(delTree))
      .orderBy("query_id", "rank").collect().toSeq
    assert(gotDel == expectDel && gotDel != expect,
      "deleted codes must screen out of the encoded-at-rest serve")
    // and the PQ compaction removes them physically + drops the
    // tombstones (fresh-id trigger batch — re-adding a deleted id is
    // out of contract)
    val b3Rows = mk(70L until 72L)
    Similarity.ivfPqCompact(b3Rows.toDF("vec_id", "embedding", "label"),
      cent, pq, path, batchId = 4L, m = 2, dim = 8)
    val afterCompact = IndexStore.levels(spark, path).get
    assert(afterCompact.filter(col("vec_id").isin(doomedPq: _*)).count() == 0)
    val all3 = (residentRows ++ b1Rows ++ b2Rows ++ b3Rows)
      .filterNot(r => doomedPq.contains(r._1))
      .toDF("vec_id", "embedding", "label")
    val all3Assigned = all3.join(
      Similarity.assignCells(all3, cent).select(col("vec_id"), col("cell")), "vec_id")
    val expect3 = Similarity.ivfPqTopK(all3Assigned, queries, cent, pq,
      k = 4, nprobe = 2, m = 2, dim = 8, cellCol = "cell")
      .orderBy("query_id", "rank").collect().toSeq
    assert(Similarity.ivfPqTopKFromCodes(afterCompact, queries, cent, pq,
      k = 4, nprobe = 2, m = 2, dim = 8)
      .orderBy("query_id", "rank").collect().toSeq == expect3)
  }

  test("segmented BM25: append-then-serve equals the whole-corpus index; replay converges") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_segs").toString
    val path = s"$dir/segs"
    val corpus = Seq(
      (0L, "hash join scan filter"), (1L, "hash join merge sort"),
      (2L, "scan filter prune push"), (3L, "window frame running sum"),
      (4L, "hash partition shuffle exchange"), (5L, "join scan hash probe build"),
      (6L, "filter scan join"), (7L, "sort merge join hash"),
      (8L, "prune partition scan"), (9L, "shuffle exchange hash"),
      (10L, "frame window sort"), (11L, "probe build hash join"))
    val docs = corpus.toDF("doc_id", "text")
    val s1 = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val s2 = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    TextAnalysis.bm25AppendSegment(s1, path, segmentId = 0L)
    TextAnalysis.bm25AppendSegment(s2, path, segmentId = 1L)
    def serve() = {
      val (tf, df, meta, _) = TextAnalysis.loadBm25Segments(spark, path)
      TextAnalysis.bm25SegmentedTopK(tf, df, meta, queryIds = Seq(0L, 1L), k = 3)
        .orderBy("query_id", "rank").collect().toSeq
    }
    // the whole-corpus ground truth: one bm25Index over ALL docs
    def oneShot(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bm25RelatedTopKFrom(
        TextAnalysis.bm25Index(d), queryIds = Seq(0L, 1L), k = 3)
        .orderBy("query_id", "rank").collect().toSeq
    val expect = oneShot(docs)
    assert(serve() == expect && expect.nonEmpty,
      "segmentation must be invisible to the scores (df + stats merge exactly)")
    // replayed segment (the at-least-once case): the level's commit
    // replaces exactly the original leaf, nothing duplicates
    TextAnalysis.bm25AppendSegment(s2, path, segmentId = 1L)
    assert(serve() == expect)
    // a later append SHIFTS df and corpus stats — the segmented serve
    // must track the whole-corpus rebuild, not the stale epoch
    val s3 = Seq((100L, "hash scan join extra"), (101L, "filter sum window"))
      .toDF("doc_id", "text")
    TextAnalysis.bm25AppendSegment(s3, path, segmentId = 2L)
    assert(serve() == oneShot(docs.unionByName(s3)),
      "query-time df/stats merge must reflect appended segments")
    // fold-forward compaction: a trigger batch merges itself with all
    // resident segments into ONE leaf; the serve must not notice
    val s4 = Seq((200L, "merge fold segment compact"))
      .toDF("doc_id", "text")
    // a reader planned before the compaction executes after it, as of
    // its plan: the compaction keeps the previous manifest's files
    val (tf0, df0, meta0, _) = TextAnalysis.loadBm25Segments(spark, path)
    val plannedBefore = TextAnalysis.bm25SegmentedTopK(tf0, df0, meta0,
      queryIds = Seq(0L, 1L), k = 3)
    TextAnalysis.bm25CompactSegments(s4, path, segmentId = 3L)
    assert(plannedBefore.orderBy("query_id", "rank").collect().toSeq ==
      oneShot(docs.unionByName(s3)))
    val allDocs = docs.unionByName(s3).unionByName(s4)
    assert(serve() == oneShot(allDocs),
      "compaction must be invisible to the scores")
    def segs(sub: String) = IndexStore.levels(spark, path, sub).get
      .select(col("segment").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(segs("tf") == Set(3L) && segs("df") == Set(3L) &&
      segs("meta") == Set(3L),
      "superseded segments must be deleted from all three trees")
    // crash-replay convergence: re-running the SAME compaction reads
    // its own committed merge, dedupes, and rewrites the same state
    TextAnalysis.bm25CompactSegments(s4, path, segmentId = 3L)
    assert(serve() == oneShot(allDocs) && segs("tf") == Set(3L))
  }

  test("tombstoned BM25: delete-by-id serves like a rebuild on the survivors; compaction removes physically") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_del").toString
    val path = s"$dir/segs"
    val corpus = Seq(
      (0L, "hash join scan filter"), (1L, "hash join merge sort"),
      (2L, "scan filter prune push"), (3L, "window frame running sum"),
      (4L, "hash partition shuffle exchange"), (5L, "join scan hash probe build"),
      (6L, "filter scan join"), (7L, "sort merge join hash"),
      (8L, "prune partition scan"), (9L, "shuffle exchange hash"))
    val docs = corpus.toDF("doc_id", "text")
    TextAnalysis.bm25AppendSegment(
      docs.filter(col("doc_id") < 5), path, segmentId = 0L)
    TextAnalysis.bm25AppendSegment(
      docs.filter(col("doc_id") >= 5), path, segmentId = 1L)
    // tombstone doc 3 (a candidate) and doc 1 (a QUERY doc)
    TextAnalysis.bm25DeleteDocs(spark, path, Seq(1L, 3L), segmentId = 2L)
    def serve() = {
      val (tf, df, meta, del) = TextAnalysis.loadBm25Segments(spark, path)
      TextAnalysis.bm25SegmentedTopK(tf, df, meta, queryIds = Seq(0L, 1L), k = 3, segDel = del)
        .orderBy("query_id", "rank").collect().toSeq
    }
    val survivors = docs.filter(!col("doc_id").isin(1L, 3L))
    val expect = TextAnalysis.bm25RelatedTopKFrom(
      TextAnalysis.bm25Index(survivors), queryIds = Seq(0L, 1L), k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(serve() == expect && expect.nonEmpty,
      "tombstones must subtract from df/stats and screen queries+candidates")
    assert(!serve().exists(_.getLong(0) == 1L),
      "a deleted query doc must vanish from the output")
    // replayed delete rewrites exactly its own leaves
    TextAnalysis.bm25DeleteDocs(spark, path, Seq(1L, 3L), segmentId = 2L)
    assert(serve() == expect)
    // compaction applies the tombstones physically and drops them
    val noDocs = spark.emptyDataFrame.select(lit(0L).as("doc_id"), lit("").as("text"))
      .limit(0)
    TextAnalysis.bm25CompactSegments(noDocs, path, segmentId = 3L)
    val (tfAfter, _, _, delAfter) = TextAnalysis.loadBm25Segments(spark, path)
    assert(tfAfter.filter(col("doc_id").isin(1L, 3L)).count() == 0,
      "merge-time removal: doomed rows gone from the tf tree")
    assert(delAfter.isEmpty, "applied tombstones dropped")
    // the compacted store serves identically WITHOUT the del tree
    def serveNoDel() = {
      val (tf, df, meta, _) = TextAnalysis.loadBm25Segments(spark, path)
      TextAnalysis.bm25SegmentedTopK(tf, df, meta, queryIds = Seq(0L, 1L), k = 3)
        .orderBy("query_id", "rank").collect().toSeq
    }
    assert(serveNoDel() == expect)
    // a delete AT the compaction's own segment id is applied by that
    // compaction too, so its leaf must go with it (tombstones reap at
    // <= the level) — a left-behind leaf would keep every later serve
    // on the tombstone branch
    TextAnalysis.bm25DeleteDocs(spark, path, Seq(5L), segmentId = 4L)
    TextAnalysis.bm25CompactSegments(noDocs, path, segmentId = 4L)
    assert(IndexStore.levels(spark, path, "del").isEmpty,
      "a tombstone at the compaction's own segment must be dropped")
    val expect2 = TextAnalysis.bm25RelatedTopKFrom(
      TextAnalysis.bm25Index(docs.filter(!col("doc_id").isin(1L, 3L, 5L))),
      queryIds = Seq(0L, 1L), k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(serveNoDel() == expect2 && expect2 != expect)
  }

  test("langId predicts the marker-heavy language deterministically") {
    val d = Seq((1L, "der und der und die"), (2L, "xxx yyy zzz"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.langId(d).orderBy("doc_id")
      .select("pred_lang", "score").as[(String, Int)].collect()
    assert(got(0) == ("de", 5))
    assert(got(1)._2 == 0 && got(1)._1 == "de") // all-zero tie → smallest lang
  }

  test("tokenCounts: whitespace vs word tokens") {
    val d = Seq((1L, "ab cd-ef gh")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenCounts(d).head()
    assert(got.getAs[Int]("ws_tokens") == 3)
    assert(got.getAs[Int]("word_tokens") == 4)
    assert(got.getAs[Long]("approx_bpe_tokens") == 2L)
  }

  test("fingerprint is order-sensitive") {
    val d = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    val got = TextAnalysis.fingerprint(d).as[(Long, Long)].collect().toMap
    assert(got(1L) != got(2L))
  }

  test("multimodal: decode features are deterministic and frame slicing covers payload") {
    val assets = Multimodal.assetsFromText(docs)
    assert(assets.schema("media").dataType.typeName == "binary")
    val feats = Multimodal.decodeFeatures(assets, dim = 4).orderBy("asset_id").collect()
    assert(feats.length == 4)
    assert(feats(0).getSeq[Double](1).length == 4)
    // identical payloads → identical features
    assert(feats(0).getSeq[Double](1) == feats(1).getSeq[Double](1))
    val frames = Multimodal.sampleFrames(assets, frameBytes = 4, stride = 2)
    assert(frames.count() >= 4)
    val meta = Multimodal.resizeMeta(assets, 8, 8).select("meta.width").as[Int].collect()
    assert(meta.forall(_ <= 8))
  }

  test("distributed prefix sum equals the single-partition window, incl. ties and nulls") {
    import org.apache.spark.sql.expressions.Window
    val rows = (1L to 500L).map { id =>
      // bucket-boundary ties (few distinct priorities) + some null
      // priorities + some NaN priorities (Spark sorts NaN above every
      // double, so DESC puts them first)
      val p =
        if (id % 97 == 0) None
        else if (id % 89 == 0) Some(Double.NaN)
        else Some((id % 7).toDouble / 10.0)
      (id, p, id % 13 + 1)
    }
    val df = rows.toDF("doc_id", "priority", "v")
    val naive = df.withColumn("rt",
      sum(col("v")).over(Window.orderBy(col("priority").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("doc_id", "rt").as[(Long, Long)].collect().toMap
    val dist = Curation.runningTotalByPriority(df, "priority", "doc_id", "v", "rt", buckets = 8)
      .select("doc_id", "rt").as[(Long, Long)].collect().toMap
    assert(dist == naive)
    val fixed = Curation.runningTotalByPriority(df, "priority", "doc_id", "v", "rt",
      fixedThresholds = Array(0.2, 0.4))
      .select("doc_id", "rt").as[(Long, Long)].collect().toMap
    assert(fixed == naive)
    // r19 fixed-width buckets: any positive width must reproduce the
    // naive window exactly — incl. the priorities here (sub-width
    // values collapsing into one bucket), the null priorities (their
    // own Long.MaxValue bucket, DESC NULLS LAST), the NaN priorities
    // (their own Long.MinValue bucket, first), and boundary ties —
    // and with no quantile scan and materialize = false the operator
    // is a single action
    for (w <- Seq(0.05, 0.3, 1000.0)) {
      val fw = Curation.runningTotalByPriority(df, "priority", "doc_id", "v", "rt",
        materialize = Some(false), fixedWidth = w)
        .select("doc_id", "rt").as[(Long, Long)].collect().toMap
      assert(fw == naive, s"fixedWidth=$w diverged from the naive window")
    }
    val cut = Curation.budgetCut(df, "priority", "doc_id", "v", budget = 100, buckets = 8)
    assert(cut.agg(sum("v")).as[Long].head() <= 100)
  }

  test("simHashNearDup: identical docs at hamming 0, disjoint docs absent") {
    val got = Dedup.simHashNearDup(docs, n = 2)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(got.contains((1L, 2L, 0))) // exact dups share the fingerprint
    assert(got.forall(p => p._3 <= 3))
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated doc excluded
  }

  test("duplicateClusters: multi-hop chain collapses to one min-labeled component") {
    // chain 10-20-30-40 (diameter 3, needs >1 propagation round),
    // pair 50-60, singleton edge 70-80 with reversed id order
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (50L, 60L), (80L, 70L))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got(10L) == 10L && got(20L) == 10L && got(30L) == 10L && got(40L) == 10L)
    assert(got(50L) == 50L && got(60L) == 50L)
    assert(got(70L) == 70L && got(80L) == 70L)
    assert(got.size == 8)
  }

  test("bucketedRangeJoin: half-open bounds, multi-bucket spans, no nested loop") {
    val probe = Seq((1L, 0.0), (2L, 9.99), (3L, 10.0), (4L, 25.0), (5L, 99.0))
      .toDF("pid", "v")
    val intervals = Seq(
      ("a", 0.0, 10.0),    // pid 1,2 (10.0 itself excluded)
      ("b", 10.0, 40.0),   // pid 3 (lo inclusive), 4 — spans 4 buckets at w=10
      ("empty", 5.0, 5.0)) // hi <= lo matches nothing
      .toDF("name", "lo", "hi")
    val got = RangeJoin.bucketedRangeJoin(probe, "v", intervals, "lo", "hi", 10.0)
      .select("pid", "name").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")))
    val plan = RangeJoin.bucketedRangeJoin(probe, "v", intervals, "lo", "hi", 10.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), "range join must not plan a nested loop")
    // shared column names between the two sides must not break resolution
    val ivsShared = intervals.withColumnRenamed("name", "pid")
    val shared = RangeJoin.bucketedRangeJoin(probe, "v", ivsShared, "lo", "hi", 10.0)
    assert(shared.count() == 4)
  }

  test("tfIdf: corpus-wide term gets minimum idf, rare term scores higher") {
    val d = Seq((1L, "shared rare"), (2L, "shared shared"), (3L, "shared"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfIdf(d).orderBy("doc_id", "token").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // "shared": df=3 → idf = ln(4/4)+1 = 1 → tfidf == tf
    assert(got.filter(_._2 == "shared").forall(r => r._5 == r._3.toDouble))
    // "rare": df=1 → idf = ln(2)+1 ≈ 1.693147
    val rare = got.find(_._2 == "rare").get
    assert(rare._4 == 1L && math.abs(rare._5 - 1.693147) < 1e-6)
  }

  test("incrementalNew keeps only unseen digests") {
    val seen = Dedup.exact(docs.filter(col("doc_id") <= 2)).select("digest")
    val got = Dedup.incrementalNew(docs.filter(col("doc_id") >= 2), seen)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(3L, 4L)) // doc 2's text == doc 1's → already seen
  }

  test("incrementalNearDup collides with the seen side only, never batch-internal") {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val seen = Seq((1L, text), (2L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    // 10 and 11 are identical near-dups of seen doc 1; 12 is novel —
    // and 10/11 must NOT pair with each other (batch-internal dup is
    // the standard x_dedup_lsh's job, not ingest screening's)
    val incoming = Seq((10L, text), (11L, text),
      (12L, "unrelated fresh content nothing shared at all"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(incoming, seen,
      n = 2, numHashes = 16, bands = 8)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (11L, 1L)))
    // the prebuilt-index path is the same operator split at the epoch
    // boundary: identical result, and the index survives reuse across
    // two different batches
    val idx = Dedup.nearDupIndex(seen, n = 2, numHashes = 16, bands = 8)
    val viaIdx = Dedup.incrementalNearDupAgainst(incoming, idx,
      n = 2, numHashes = 16, bands = 8)
      .as[(Long, Long)].collect().toSet
    assert(viaIdx == got)
    val second = Dedup.incrementalNearDupAgainst(
      Seq((20L, text)).toDF("doc_id", "text"), idx,
      n = 2, numHashes = 16, bands = 8)
      .as[(Long, Long)].collect().toSet
    assert(second == Set((20L, 1L)))
  }

  test("normalize lowercases, strips punctuation, collapses whitespace") {
    val d = Seq((1L, "  Hello,   WORLD!! 42 ")).toDF("doc_id", "text")
    val got = TextAnalysis.normalize(d).select("norm_text").as[String].head()
    assert(got == "hello world 42")
  }

  test("approx_percentile stays near the exact percentile") {
    val df = spark.range(100000).select((col("id") % 1000).cast("double").as("v"))
    val r = df.agg(
      expr("approx_percentile(v, array(0.5, 0.95), 1000)"),
      expr("percentile(v, array(0.5, 0.95))")).head()
    val approx = r.getSeq[Double](0)
    val exact = r.getSeq[Double](1)
    approx.zip(exact).foreach { case (a, e) =>
      assert(math.abs(a - e) <= 10.0, s"approx=$a exact=$e") // 1% of the 0..999 domain
    }
  }

  test("approx_count_distinct stays within its error bound at 20k ids") {
    val df = spark.range(100000).select(
      (col("id") % 5).cast("string").as("grp"), (col("id") % 20000).as("uid"))
    val got = df.groupBy("grp")
      .agg(approx_count_distinct(col("uid"), rsd = 0.02).as("approx"),
        countDistinct(col("uid")).as("exact"))
      .select("approx", "exact").as[(Long, Long)].collect()
    got.foreach { case (approx, exact) =>
      assert(math.abs(approx - exact).toDouble / exact < 0.06, s"approx=$approx exact=$exact")
    }
  }

  test("portable hash32/hash60 are non-negative and stable") {
    val h = spark.range(1).select(
      Portable.hash32(lit("hello")), Portable.hash60(lit("hello"))).head()
    assert(h.getLong(0) == 1564557354L) // 0x5d41402a
    assert(h.getLong(1) == 419982666956583591L)
  }

  test("LSH bucket cap drops the degenerate bucket and accounts for it") {
    // 500 identical docs: every band key collides into ONE bucket of 500.
    // Uncapped that is 500²/2 pair rows from one array in one task; the
    // cap completes with zero candidates and the drop is auditable.
    val clones = (0L until 500L).map(i => (i, "the cat sat on the mat again"))
      .toDF("doc_id", "text")
    val capped = Dedup.minHashLshCandidates(clones, n = 2, numHashes = 8, bands = 4,
      maxBucket = 100)
    assert(capped.count() == 0)
    val dropped = Dedup.minHashLshDroppedBuckets(clones, n = 2, numHashes = 8, bands = 4,
      maxBucket = 100)
    assert(dropped.count() == 4) // one hot bucket per band
    assert(dropped.select(max("bucket_size")).as[Long].head() == 500L)
    // a cap above the bucket size changes nothing
    val uncapped = Dedup.minHashLshCandidates(clones, n = 2, numHashes = 8, bands = 4,
      maxBucket = 1000)
    assert(uncapped.count() == 500L * 499L / 2L)
  }

  test("SimHash bucket cap drops the degenerate bucket and accounts for it") {
    val clones = (0L until 300L).map(i => (i, "the cat sat on the mat again"))
      .toDF("doc_id", "text")
    val capped = Dedup.simHashNearDup(clones, n = 2, maxBucket = 100)
    assert(capped.count() == 0)
    val dropped = Dedup.simHashDroppedBuckets(clones, n = 2, maxBucket = 100)
    assert(dropped.count() == 4)
    assert(dropped.select(max("bucket_size")).as[Long].head() == 300L)
  }

  test("duplicateClusters leaves session shuffle partitions untouched") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("semanticWinners keeps the top-scored doc per cluster, singletons keep") {
    // two blocks: vectors 1,2 colinear (cos=1) in block 0; 3 orthogonal to
    // nothing (singleton in block 1); 4 in block 0 but orthogonal to 1,2.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(2.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(0.0f, 3.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val scores = Seq((1L, 5.0), (2L, 9.0), (3L, 1.0), (4L, 2.0))
      .toDF("vec_id", "score")
    val got = Dedup.semanticWinners(emb, scores, threshold = 0.9)
      .orderBy("vec_id")
      .select("vec_id", "cluster", "keep").as[(Long, Long, Int)].collect().toSeq
    // {1,2} cluster → 2 wins (higher score); 3 and 4 are singletons
    assert(got == Seq((1L, 1L, 0), (2L, 1L, 1), (3L, 3L, 1), (4L, 4L, 1)))
  }

  test("redactPii replaces and counts emails, IPs, phone numbers") {
    val d = Seq(
      (1L, "mail me at a.b+c@ex-site.org or 10.0.0.7 or +44 (0)20 1234 5678 ok"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(d).orderBy("doc_id")
      .select("redacted", "n_email", "n_ip", "n_phone")
      .as[(String, Int, Int, Int)].collect().toSeq
    assert(got(0)._1 == "mail me at [EMAIL] or [IP] or [PHONE] ok")
    assert((got(0)._2, got(0)._3, got(0)._4) == ((1, 1, 1)))
    assert(got(1) == (("no pii here at all", 0, 0, 0)))
  }

  test("packSequences assigns global offsets and context windows") {
    val d = Seq((1L, 100), (2L, 50), (3L, 120), (4L, 10))
      .toDF("doc_id", "n_tokens")
    val got = Curation.packSequences(d, "doc_id", "n_tokens", packTokens = 128L)
      .orderBy("doc_id")
      .select("doc_id", "token_start", "pack_id", "pack_offset")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 0L),      // [0, 100)
      (2L, 100L, 0L, 100L),  // [100, 150) — spans the 128 boundary
      (3L, 150L, 1L, 22L),   // starts inside pack 1
      (4L, 270L, 2L, 14L)))
  }

  test("packStats audits per-window composition of the packing") {
    val d = Seq((1L, 100), (2L, 50), (3L, 120), (4L, 10), (5L, 0))
      .toDF("doc_id", "n_tokens")
    // stream: doc1 [0,100) doc2 [100,150) doc3 [150,270) doc4 [270,280);
    // windows of 128: w0 [0,128) w1 [128,256) w2 [256,280)
    val got = Curation.packStats(d, "doc_id", "n_tokens", packTokens = 128L)
      .orderBy("pack_id")
      .select("pack_id", "n_docs", "n_full_docs", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 1L, 128L),   // doc1 full, doc2 contributes 28 of its 50
      (1L, 2L, 0L, 128L),   // doc2's tail (22) + doc3's head (106)
      (2L, 2L, 1L, 24L)))   // doc3's tail (14) + doc4 full (10)
  }

  test("extractJsonFields promotes typed columns; jsonKeyProfile counts keys") {
    val d = Seq(
      (1L, """{"k": 7, "tag": "x"}"""),
      (2L, """{"k": 9}"""),
      (3L, """{"tag": "y"}""")).toDF("event_id", "props")
    val fields = graft.operators.SemiStructured.extractJsonFields(
      d, "props", Seq(("k", "$.k", "int"), ("tag", "$.tag", "string")))
      .orderBy("event_id")
      .select("event_id", "k", "tag")
      .as[(Long, Option[Int], Option[String])].collect().toSeq
    assert(fields == Seq(
      (1L, Some(7), Some("x")), (2L, Some(9), None), (3L, None, Some("y"))))
    val keys = graft.operators.SemiStructured.jsonKeyProfile(d, "props")
      .orderBy("key").as[(String, Long)].collect().toSeq
    assert(keys == Seq(("k", 2L), ("tag", 2L)))
  }

  test("keepTopQuantile keeps the per-stratum top fraction with deterministic ties") {
    // stratum a: scores 10..1 over ids 1..10 → pr = (rank−1)/9 ≤ 0.3
    // keeps ranks 1-3 (scores 10, 9, 8); stratum b: 2 rows, pr ∈ {0, 1}
    // → only the winner survives q=0.3.
    val df = ((1 to 10).map(i => ("a", i.toLong, 11.0 - i)) ++
      Seq(("b", 100L, 5.0), ("b", 101L, 4.0))).toDF("lang", "doc_id", "score")
    val kept = graft.operators.Curation
      .keepTopQuantile(df, "lang", "score", "doc_id", q = 0.3)
      .orderBy("doc_id").as[(String, Long, Double)].collect().toSeq
    assert(kept == Seq(("a", 1L, 10.0), ("a", 2L, 9.0), ("a", 3L, 8.0), ("b", 100L, 5.0)))
    // tie determinism: equal scores rank by the tie column, so the cut
    // keeps a fixed FRACTION even through a tie group — and the same
    // ids every run (pr over (score, id) = 0, 1/3, 2/3, 1 → q=0.5
    // keeps ids 1 and 2)
    val ties = Seq(("a", 1L, 7.0), ("a", 2L, 7.0), ("a", 3L, 7.0), ("a", 4L, 7.0))
      .toDF("lang", "doc_id", "score")
    val keptTies = graft.operators.Curation
      .keepTopQuantile(ties, "lang", "score", "doc_id", q = 0.5)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptTies == Seq(1L, 2L))
  }

  test("keepTopQuantileApprox matches the exact gate on a skewed stratum") {
    // Deliberate skew: stratum 'big' has 20k rows (the regime where the
    // exact gate's per-stratum sort is the scale hazard), 'tiny' has 3.
    // Scores are tie-free (distinct doubles), so the threshold cut and
    // the rank cut act on the same total order and must agree within the
    // sketch's rank error plus the exact gate's floor-boundary row:
    // accuracy=1000 → ≤ 20000/1000 + 1 = 21 rows slack on 'big' (the
    // percent_rank cut rounds its boundary independently of the sketch,
    // hence the +1); 'tiny' is far below the sketch's exact threshold,
    // so it must agree EXACTLY.
    val big = (1 to 20000).map(i => ("big", i.toLong, i * 1.0))
    val tiny = Seq(("tiny", 100001L, 5.0), ("tiny", 100002L, 4.0), ("tiny", 100003L, 3.0))
    val df = (big ++ tiny).toDF("lang", "doc_id", "score").repartition(8)
    val approx = graft.operators.Curation
      .keepTopQuantileApprox(df, "lang", "score", q = 0.25, accuracy = 1000)
    val exact = graft.operators.Curation
      .keepTopQuantile(df, "lang", "score", "doc_id", q = 0.25)
    val aCounts = approx.groupBy("lang").count().as[(String, Long)].collect().toMap
    val eCounts = exact.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(math.abs(aCounts("big") - eCounts("big")) <= 21,
      s"big stratum: approx ${aCounts("big")} vs exact ${eCounts("big")}")
    assert(aCounts("tiny") == eCounts("tiny"))
    // every kept row clears the stratum threshold by construction: the
    // kept set is a score-suffix of each stratum (no cherry-picking)
    val minKept = approx.filter(col("lang") === "big")
      .agg(org.apache.spark.sql.functions.min("score")).as[Double].head()
    val droppedAbove = df.filter(col("lang") === "big" && col("score") >= minKept)
      .count()
    assert(droppedAbove == aCounts("big"), "kept set must be a contiguous top slice")
    // q = 1.0 keeps every non-null-scored row
    assert(graft.operators.Curation
      .keepTopQuantileApprox(df, "lang", "score", q = 1.0).count() == df.count())
  }

  test("ppJoinPairs: exact — equals the uncapped all-pairs Jaccard join") {
    // Corpus with a clone pair, a partial overlap, and unrelated docs;
    // shared boilerplate tokens everywhere so the rarity order matters.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and AGAIN"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"),
      (4L, "completely different text about training data pipelines at scale"),
      (5L, "totally unrelated words concerning graph analytics and page rank"),
      (6L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    val pp = Dedup.ppJoinPairs(docs, n = 3, threshold = 0.3)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
    val full = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.3)
      .select(col("id_a"), col("id_b"), col("inter"),
        col("sz_a").cast("int"), col("sz_b").cast("int"), col("jaccard"))
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
    assert(pp.nonEmpty, "constructed near-dups must surface")
    assert(pp == full, "prefix filtering must lose no pair (exactness theorem)")
    // the clone pair is found at jaccard 1.0; unrelated docs never pair
    assert(pp.exists(p => p._1 == 1L && p._2 == 6L && p._6 == 1.0))
    assert(!pp.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("rrfFuse: agreement outranks single-list hits; absent legs contribute zero") {
    val dense = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)).toDF("query_id", "cand_id", "rank")
    val lex = Seq((1L, 11L, 1), (1L, 13L, 2)).toDF("query_id", "cand_id", "rank")
    val out = graft.operators.Similarity.rrfFuse(dense, lex, k = 10)
      .orderBy("rank")
      .as[(Long, Long, Option[Int], Option[Int], Double, Int)].collect().toSeq
    // 11 is in both lists (1/62 + 1/61) and must win over 10 (1/61 alone)
    assert(out.head._2 == 11L && out.head._3 == Some(2) && out.head._4 == Some(1))
    assert(out.map(_._2) == Seq(11L, 10L, 13L, 12L))
    // absent-leg ranks are null, their contribution exactly the other leg's
    val r13 = out.find(_._2 == 13L).get
    assert(r13._3.isEmpty && r13._5 == math.rint(1.0 / 62 * 1e8) / 1e8)
  }

  test("ndcgAtK: perfect ranking scores 1; a missed top hit scores less than a missed tail hit") {
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)).toDF("query_id", "cand_id", "rank")
    val perfect = graft.operators.Similarity.ndcgAtK(exact, exact, k = 3)
      .as[(Long, Long, Double)].head()
    assert(perfect == ((1L, 3L, 1.0)))
    // miss the rank-1 item vs miss the rank-3 item (replace with junk)
    val missTop = Seq((1L, 99L, 1), (1L, 11L, 2), (1L, 12L, 3)).toDF("query_id", "cand_id", "rank")
    val missTail = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 99L, 3)).toDF("query_id", "cand_id", "rank")
    val nTop = graft.operators.Similarity.ndcgAtK(missTop, exact, k = 3).as[(Long, Long, Double)].head()._3
    val nTail = graft.operators.Similarity.ndcgAtK(missTail, exact, k = 3).as[(Long, Long, Double)].head()._3
    assert(nTop < nTail && nTail < 1.0)
  }

  test("bm25RelatedTopK: a clone ranks first for its twin; self never appears") {
    val docs = Seq(
      (0L, "spark shuffles partition the keyed stream across executors"),
      (1L, "spark shuffles partition the keyed stream across executors"),
      (2L, "ducks paddle across the quiet pond at dawn"),
      (3L, "completely unrelated gardening notes about tomato seedlings")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25RelatedTopK(docs, queryIds = Seq(0L), k = 3)
      .orderBy("rank")
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSeq
    assert(out.head == ((0L, 1L, 1)), "the clone must rank first")
    assert(!out.exists(_._2 == 0L), "self-match excluded")
  }

  test("ppJoinPairs: threshold 1.0 keeps only exact set-equal pairs") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d x")
    ).toDF("doc_id", "text")
    val out = Dedup.ppJoinPairs(docs, n = 1, threshold = 1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L)))
    // materialize=false (no localCheckpoint) is plan-shape only
    val lazyOut = Dedup.ppJoinPairs(docs, n = 1, threshold = 1.0, materialize = false)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(lazyOut == out)
  }

  test("ppJoinAgainst: incremental exact screen equals the brute-force cross join") {
    val rnd = new scala.util.Random(43)
    val docs = (0 until 60).map { i =>
      val len = 4 + rnd.nextInt(12)
      (i.toLong, (0 until len).map(_ => s"w${rnd.nextInt(12)}").mkString(" "))
    } ++ Seq(
      (100L, "only batch tokens qzx qzy qzz never seen"), // df=0 prefix slots
      (101L, "w1 w2 w3 w4 w5"), (102L, "w1 w2 w3 w4 w5")) // planted clone pair
    val df = docs.toDF("doc_id", "text")
    val batch = df.filter(col("doc_id") % 2 === 0)
    val corpus = df.filter(col("doc_id") % 2 =!= 0)
    for (t <- Seq(0.4, 0.7)) {
      val idx = Dedup.ppJoinIndex(corpus, n = 1, threshold = t)
      val got = Dedup.ppJoinAgainst(batch, idx)
        .orderBy("new_id", "seen_id")
        .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
      // brute force: every batch x corpus pair via the uncapped
      // all-pairs join restricted to the split
      val full = Dedup.ngramJaccardPairs(df, n = 1, threshold = t)
        .select(col("id_a"), col("id_b"), col("inter"),
          col("sz_a").cast("int"), col("sz_b").cast("int"), col("jaccard"))
        .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
        .flatMap { case (a, b, i, sa, sb, j) =>
          // orient each qualifying pair as (batch, corpus)
          Seq((a, b, i, sa, sb, j), (b, a, i, sb, sa, j))
        }
        .filter { case (n2, s2, _, _, _, _) => n2 % 2 == 0 && s2 % 2 != 0 }
        .sorted
      assert(got == full, s"threshold $t: incremental screen must be exact")
    }
    // the clone pair (102 batch, 101 corpus) surfaces at jaccard 1.0
    val idx = Dedup.ppJoinIndex(corpus, n = 1, threshold = 0.7)
    val hit = Dedup.ppJoinAgainst(batch, idx)
      .filter(col("new_id") === 102L && col("seen_id") === 101L)
      .select("jaccard").as[Double].collect().toSeq
    assert(hit == Seq(1.0))
    val expect = Dedup.ppJoinAgainst(batch, idx)
      .orderBy("new_id", "seen_id")
      .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
    // materialize=false (no checkpoint) is the same plan lazily
    val lazyIdx = Dedup.ppJoinIndex(corpus, n = 1, threshold = 0.7,
      materialize = false)
    val lazyOut = Dedup.ppJoinAgainst(batch, lazyIdx)
      .orderBy("new_id", "seen_id")
      .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
    assert(lazyOut == expect)
    // the parquet round-trip (the per-epoch persistence the scaladoc
    // prescribes) screens identically from the stored tables
    val root = java.nio.file.Files.createTempDirectory("ppjoin_idx").toString
    idx.dfTable.write.mode("overwrite").parquet(s"$root/df")
    idx.postings.write.mode("overwrite").parquet(s"$root/postings")
    idx.sets.write.mode("overwrite").parquet(s"$root/sets")
    val stored = Dedup.PpJoinIndex(spark.read.parquet(s"$root/df"),
      spark.read.parquet(s"$root/postings"), spark.read.parquet(s"$root/sets"),
      n = 1, threshold = 0.7, idCol = "doc_id")
    val storedOut = Dedup.ppJoinAgainst(batch, stored)
      .orderBy("new_id", "seen_id")
      .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
    assert(storedOut == expect)
    // the co-located load form (r17: join-key repartition + in-partition
    // sort + checkpoint, so per-screen joins never exchange the corpus
    // side) screens identically again
    val colocatedOut = Dedup.ppJoinAgainst(batch, Dedup.colocatePpJoinIndex(stored))
      .orderBy("new_id", "seen_id")
      .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
    assert(colocatedOut == expect)
  }

  test("ppJoinPairs: length+positional filters lose no pair on a randomized corpus") {
    // 40 docs over a tiny alphabet — dense overlap structure exercises
    // boundary Jaccards where an off-by-float filter would drop pairs
    val rnd = new scala.util.Random(41)
    val docs = (0 until 40).map { i =>
      val len = 4 + rnd.nextInt(12)
      (i.toLong, (0 until len).map(_ => s"w${rnd.nextInt(14)}").mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val pp = Dedup.ppJoinPairs(docs, n = 1, threshold = t)
        .orderBy("id_a", "id_b")
        .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
      val full = Dedup.ngramJaccardPairs(docs, n = 1, threshold = t)
        .select(col("id_a"), col("id_b"), col("inter"),
          col("sz_a").cast("int"), col("sz_b").cast("int"), col("jaccard"))
        .orderBy("id_a", "id_b")
        .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
      assert(pp == full, s"threshold $t: PPJoin filters must lose no pair")
      assert(pp.nonEmpty, s"threshold $t: corpus must produce pairs")
    }
  }

  test("ppJoinPairsFromIndex: stored-index replay equals the one-shot join") {
    // the x_dedup_ppjoin serving path: pair-gen + verify from the
    // persisted posting/set tables must reproduce ppJoinPairs exactly,
    // including through a parquet round-trip (nullable-element arrays)
    val rnd = new scala.util.Random(47)
    val docs = ((0 until 40).map { i =>
      val len = 4 + rnd.nextInt(12)
      (i.toLong, (0 until len).map(_ => s"w${rnd.nextInt(14)}").mkString(" "))
    } :+ ((100L, "w1 w2 w3 w4 w5")) :+ ((101L, "w1 w2 w3 w4 w5")))
      .toDF("doc_id", "text")
    for (t <- Seq(0.4, 0.8)) {
      val oneShot = Dedup.ppJoinPairs(docs, n = 1, threshold = t)
        .orderBy("id_a", "id_b")
        .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
      val idx = Dedup.ppJoinIndex(docs, n = 1, threshold = t)
      val fromIdx = Dedup.ppJoinPairsFromIndex(idx)
        .orderBy("id_a", "id_b")
        .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
      assert(fromIdx == oneShot, s"threshold $t: in-memory index replay")
      val root = java.nio.file.Files.createTempDirectory("ppjoin_full_idx").toString
      idx.dfTable.write.mode("overwrite").parquet(s"$root/df")
      idx.postings.write.mode("overwrite").parquet(s"$root/postings")
      idx.sets.write.mode("overwrite").parquet(s"$root/sets")
      val stored = Dedup.PpJoinIndex(spark.read.parquet(s"$root/df"),
        spark.read.parquet(s"$root/postings"), spark.read.parquet(s"$root/sets"),
        n = 1, threshold = t, idCol = "doc_id")
      val storedOut = Dedup.ppJoinPairsFromIndex(stored)
        .orderBy("id_a", "id_b")
        .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
      assert(storedOut == oneShot, s"threshold $t: parquet round-trip replay")
      // the persisted pt-grouped posting lists (the zero-set-prep
      // serving path the bench query uses) replay identically too
      Dedup.ppJoinPostingLists(idx.postings)
        .write.mode("overwrite").parquet(s"$root/posting_lists")
      val listsOut = Dedup.ppJoinPairsFromIndex(stored,
          Some(spark.read.parquet(s"$root/posting_lists")))
        .orderBy("id_a", "id_b")
        .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq
      assert(listsOut == oneShot, s"threshold $t: stored posting-list replay")
      assert(oneShot.exists(p => p._1 == 100L && p._2 == 101L && p._6 == 1.0))
    }
  }

  test("covarianceMatrix + pcaTopK: planted principal axis recovered") {
    // perfectly correlated 2-D signal inside 4-D: dims 0,1 carry 4t and
    // 0.5t; dims 2,3 are constant → rank-1 covariance, principal axis
    // ∝ (4, 0.5, 0, 0), all other eigenvalues 0
    val rows = (0 until 40).map { i =>
      val t = (i - 19.5) / 4.0
      (i.toLong, Seq((4 * t).toFloat, (0.5 * t).toFloat, 1.0f, 0.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val cov = Similarity.covarianceMatrix(df, dim = 4)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(cov.size == 10, "upper triangle of a 4x4")
    assert(cov((2, 2)) == 0.0 && cov((3, 3)) == 0.0, "constant dims: zero variance")
    // perfect correlation: cov01² = cov00·cov11 (up to float storage noise)
    val (c00, c01, c11) = (cov((0, 0)), cov((0, 1)), cov((1, 1)))
    assert(math.abs(c01 * c01 - c00 * c11) < 1e-6)
    assert(c00 > c11 && c11 > 0)
    val comps = Similarity.pcaTopK(df, dim = 4, k = 2)
    assert(comps.length == 2)
    val (i0, ev0, v0) = comps.head
    assert(i0 == 0)
    val axis = {
      val n = math.sqrt(4.0 * 4 + 0.5 * 0.5)
      Array(4.0 / n, 0.5 / n, 0.0, 0.0)
    }
    val dot = v0.zip(axis).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) > 0.9999, s"principal axis off: ${v0.toSeq}")
    assert(v0.map(x => x * x).sum > 0.9999 && v0.map(x => x * x).sum < 1.0001)
    assert(ev0 > 0 && math.abs(comps(1)._2) < 1e-6, "rank-1: second eigenvalue ~0")
    // projection onto the top axis carries ~all the variance
    val proj = Similarity.pcaProject(df, comps.take(1))
      .select(element_at(col("pca"), 1)).as[Double].collect()
    val mean = proj.sum / proj.length
    val pvar = proj.map(x => (x - mean) * (x - mean)).sum / (proj.length - 1)
    assert(math.abs(pvar - ev0) / ev0 < 1e-3, s"projected var $pvar vs eigval $ev0")
  }

  test("classTfIdf: distinctive terms rank first, shared terms rank low") {
    val corpus = Seq(
      (1L, "tensor gradient tensor layer", "ml"),
      (2L, "gradient tensor epoch", "ml"),
      (3L, "pasta basil pasta oven", "food"),
      (4L, "basil oven sauce", "food"),
      (5L, "tensor pasta common common", "mixed")  // shares terms with both
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.classTfIdf(corpus, "source", topK = 2)
      .select("group", "token", "rank").as[(String, String, Int)].collect()
      .groupBy(_._1).map { case (g, rs) => g -> rs.sortBy(_._3).map(_._2).toSeq }
    assert(got("ml").head == "tensor", s"ml's top term: ${got("ml")}")
    // "pasta" leaks into mixed (groups_with = 2) so the food-exclusive
    // "basil" (2 × idf(1) = 3.39) outranks it (2 × idf(2) = 2.58)
    assert(got("food").head == "basil", s"food's top term: ${got("food")}")
    // "common" appears only in mixed → its idf beats the shared terms
    assert(got("mixed").head == "common", s"mixed's top term: ${got("mixed")}")
  }

  test("lshPlan: thresholds are monotone in rows-per-band, probabilities in s") {
    val plan = Dedup.lshPlan(spark, numHashes = 16)
      .orderBy("bands")
      .select("bands", "rows_per_band", "s_star", "p_at_03", "p_at_09")
      .as[(Int, Int, Double, Double, Double)].collect().toSeq
    assert(plan.map(_._1) == Seq(1, 2, 4, 8, 16))
    // more bands (fewer rows each) → lower collision threshold
    val stars = plan.map(_._3)
    assert(stars == stars.sorted.reverse, s"s* must fall as bands grow: $stars")
    // and collision probability at any s is monotone in banding
    assert(plan.forall(r => r._5 >= r._4), "p(0.9) >= p(0.3) everywhere")
    // closed-form spot check: b=4, r=4 → s* = (1/4)^(1/4)
    val b4 = plan.find(_._1 == 4).get
    assert(math.abs(b4._3 - math.pow(0.25, 0.25)) < 1e-7)
  }

  test("quantileNormalize: cross-stratum percentiles line up") {
    val df = Seq(
      ("en", 0.9), ("en", 0.5), ("en", 0.1),
      ("de", 0.09), ("de", 0.05), ("de", 0.01),  // same SHAPE, lower scale
      ("zh", 0.7)                                 // singleton stratum
    ).toDF("lang", "score")
    val got = Curation.quantileNormalize(df, "lang", "score")
      .select("lang", "score", "calibrated")
      .as[(String, Double, Double)].collect().toSeq
    val en = got.filter(_._1 == "en").sortBy(_._2).map(_._3)
    val de = got.filter(_._1 == "de").sortBy(_._2).map(_._3)
    // raw scores differ 10x; calibrated percentiles are identical
    assert(en == de && en == Seq(0.0, 0.5, 1.0), s"en=$en de=$de")
    assert(got.find(_._1 == "zh").get._3 == 0.0, "singleton stratum → 0.0")
  }

  test("mahalanobis: distribution-aware distance beats Euclidean intuition") {
    // anisotropic cloud: dim0 spread ±20, dim1 spread ±1, dims 2,3
    // constant (zero-variance manifold)
    val r = new scala.util.Random(5)
    val cloud = (0 until 200).map { i =>
      (i.toLong, Seq((r.nextGaussian() * 20).toFloat,
        r.nextGaussian().toFloat, 3.0f, 0.0f))
    }
    // probes: far along the wide axis / modest along the narrow axis /
    // a step OFF the zero-variance manifold
    val probes = Seq(
      (1000L, Seq(40.0f, 0.0f, 3.0f, 0.0f)),   // ~2 sigma on dim0
      (1001L, Seq(0.0f, 6.0f, 3.0f, 0.0f)),    // ~6 sigma on dim1
      (1002L, Seq(0.0f, 0.0f, 4.0f, 0.0f)))    // off-manifold on dim2
    val df = (cloud ++ probes).toDF("vec_id", "embedding")
    val m2 = Similarity.mahalanobisScores(df, dim = 4, eps = 1e-6)
      .filter(col("vec_id") >= 1000L).orderBy("vec_id")
      .select("m2").as[Double].collect()
    val (wide, narrow, off) = (m2(0), m2(1), m2(2))
    // Euclidean would rank wide (40 units) >> narrow (6) >> off (1);
    // Mahalanobis must invert: the off-manifold step is the most
    // anomalous, the 6-sigma narrow step beats the 2-sigma wide one
    assert(narrow > wide, s"6-sigma narrow $narrow must beat 2-sigma wide $wide")
    // the probes are part of the scored frame, so the off-manifold
    // point itself inflates dim2's variance to ~1/n — its distance is
    // ~n, still far above any in-manifold probe
    assert(off > narrow * 3, s"off-manifold $off must dwarf in-manifold $narrow")
    assert(off > 100, s"off-manifold distance ~n expected, got $off")
    // whitened projection: unit variance per kept axis
    val comps = Similarity.pcaTopK(cloud.toDF("vec_id", "embedding"), dim = 4, k = 2)
    val white = Similarity.pcaProject(cloud.toDF("vec_id", "embedding"),
      comps, whiten = true)
      .select(element_at(col("pca"), 1)).as[Double].collect()
    val mean = white.sum / white.length
    val v = white.map(x => (x - mean) * (x - mean)).sum / (white.length - 1)
    assert(math.abs(v - 1.0) < 0.05, s"whitened variance $v should be ~1")
  }

  test("strataOverlap: clone strata read ~1, disjoint pairs absent") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta", "s1"),
      (2L, "alpha beta gamma delta", "s2"),   // clone of s1's content
      (3L, "alpha beta epsilon zeta", "s3"),  // shares "alpha beta" with s1/s2
      (4L, "omega psi chi phi", "s4")         // disjoint
    ).toDF("doc_id", "text", "source")
    val got = graft.operators.Dedup.strataOverlap(corpus, "source", n = 2)
      .select("stratum_a", "stratum_b", "inter", "jaccard")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got(("s1", "s2")) == ((3L, 1.0)), "identical content → jaccard 1")
    assert(got(("s1", "s3"))._1 == 1L, "one shared bigram: 'alpha beta'")
    assert(!got.keySet.exists(p => p._1 == "s4" || p._2 == "s4"),
      "disjoint stratum appears in no pair")
  }

  test("importanceWeights: target-like docs outrank unrelated ones") {
    val corpus = Seq(
      (1L, "acid base titration molar solution", true),
      (2L, "molar acid solution base reaction", true),
      (3L, "acid base solution chemistry reaction", false),  // pool, target-like
      (4L, "football goal referee penalty kick", false),     // pool, unrelated
      (5L, "", false)                                        // token-free
    ).toDF("doc_id", "text", "tgt")
    val got = TextAnalysis.importanceWeights(corpus, col("tgt"))
      .orderBy("doc_id")
      .select("doc_id", "is_target", "n_tokens", "log_ratio")
      .as[(Long, Boolean, Long, Option[Double])].collect().toSeq
    assert(got.map(_._1) == (1L to 5L))
    assert(got.map(_._2) == Seq(true, true, false, false, false))
    assert(got(4)._3 == 0L && got(4)._4.isEmpty, "token-free doc: null ratio")
    val chem = got(2)._4.get
    val sport = got(3)._4.get
    assert(chem > sport, s"target-like $chem must outrank unrelated $sport")
    assert(sport < 0.0, "tokens never seen in the target score negative")
    // partition immunity
    val re = TextAnalysis.importanceWeights(corpus.repartition(5), col("tgt"))
      .orderBy("doc_id").select("doc_id", "is_target", "n_tokens", "log_ratio")
      .as[(Long, Boolean, Long, Option[Double])].collect().toSeq
    assert(re == got)
  }

  test("nbClassify: separable corpus recovered; empty doc takes the prior") {
    val corpus = Seq(
      (1L, "grep awk sed pipe shell", "code"),
      (2L, "shell pipe grep compile link", "code"),
      (3L, "awk sed compile shell grep", "code"),
      (4L, "sonnet stanza rhyme verse meter", "poem"),
      (5L, "verse rhyme meter couplet stanza", "poem"),
      (6L, "", "code"),                                  // token-free
      (7L, "grep stanza", "poem")                        // mixed doc
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.nbClassify(corpus).orderBy("doc_id")
      .select("doc_id", "label", "predicted", "correct")
      .as[(Long, String, String, Boolean)].collect().toSeq
    assert(got.map(_._1) == (1L to 7L), "one row per input doc")
    // the separable docs classify to their own label
    assert(got.take(5).forall(_._4), s"separable docs must be correct: $got")
    // the empty doc scores on priors alone: "code" has 4 label rows vs
    // "poem" 3 → highest prior wins
    assert(got(5)._3 == "code")
    // determinism: a different partitioning yields the identical frame
    val re = TextAnalysis.nbClassify(corpus.repartition(7)).orderBy("doc_id")
      .select("doc_id", "label", "predicted", "correct")
      .as[(Long, String, String, Boolean)].collect().toSeq
    assert(re == got)
  }

  test("nbClassify: serving=join matches serving=model row for row") {
    // The distributed escape hatch (deltas stay a shuffle-joined frame,
    // no vocab-sized collect) must be replay-exact to the model-in-
    // expression path: same predictions AND same 6dp winning scores,
    // including token-free docs (prior-only), mixed docs, and ties.
    val corpus = Seq(
      (1L, "grep awk sed pipe shell", "code"),
      (2L, "shell pipe grep compile link", "code"),
      (3L, "awk sed compile shell grep", "code"),
      (4L, "sonnet stanza rhyme verse meter", "poem"),
      (5L, "verse rhyme meter couplet stanza", "poem"),
      (6L, "", "code"),
      (7L, "grep stanza", "poem"),
      (8L, null, "poem")
    ).toDF("doc_id", "text", "source")
    def rows(serving: String) =
      TextAnalysis.nbClassify(corpus, serving = serving).orderBy("doc_id")
        .select("doc_id", "label", "predicted", "correct", "score")
        .as[(Long, String, String, Boolean, Double)].collect().toSeq
    val model = rows("model")
    val join = rows("join")
    assert(join == model, s"join serving diverged:\n  model=$model\n  join =$join")
    val bad = intercept[IllegalArgumentException] {
      TextAnalysis.nbClassify(corpus, serving = "rpc")
    }
    assert(bad.getMessage.contains("serving"))
  }

  test("nbClassify: prior tie between classes breaks lexicographically") {
    // two classes, one doc each, and an empty query doc whose class has
    // equal prior — the winner must be the lexicographically smaller
    val corpus = Seq(
      (1L, "x y z", "b"),
      (2L, "p q r", "a"),
      (3L, "", "b")).toDF("doc_id", "text", "source")
    // priors: a=1/3, b=2/3 → empty doc → b (not a tie; checks prior math)
    val got3 = TextAnalysis.nbClassify(corpus)
      .filter(col("doc_id") === 3L).select("predicted").as[String].head()
    assert(got3 == "b")
    val even = Seq(
      (1L, "x y z", "b"),
      (2L, "p q r", "a"),
      (3L, "", "a"),
      (4L, "", "b")).toDF("doc_id", "text", "source")
    // equal priors, equal (empty) likelihoods → tie → "a"
    val tied = TextAnalysis.nbClassify(even)
      .filter(col("doc_id") >= 3L).select("predicted").as[String].collect().toSeq
    assert(tied == Seq("a", "a"))
  }

  test("nbClassify: null labels dropped, non-string labels cast") {
    val corpus = Seq(
      (1L, "grep awk sed", Some(10)),
      (2L, "grep sed pipe", Some(10)),
      (3L, "verse rhyme meter", Some(20)),
      (4L, "stanza verse rhyme", Some(20)),
      (5L, "grep verse", None)            // unlabeled: not trained, not scored
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.nbClassify(corpus).orderBy("doc_id")
      .select("doc_id", "label", "predicted")
      .as[(Long, String, String)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L), "null-label doc dropped")
    assert(got.forall { case (_, l, p) => l == p }, s"separable: $got")
    assert(got.map(_._2).toSet == Set("10", "20"), "int labels cast to string")
  }

  test("nbClassify: null text scores by priors; zero labeled docs -> empty frame") {
    // null text = empty token list (the doc still scores, on priors
    // alone); a class whose only docs are token-free must not break
    // the class-stat collect
    val corpus = Seq(
      (1L, "grep awk sed", "code"),
      (2L, "grep sed pipe", "code"),
      (3L, null, "misc")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.nbClassify(corpus).orderBy("doc_id")
      .select("doc_id", "predicted").as[(Long, String)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L), "null-text doc still scored")
    // doc 3: priors code=2/3 > misc=1/3, likelihoods empty -> code wins
    assert(got(2)._2 == "code")
    // all labels null: empty frame with the output schema, not a throw
    val unlabeled = Seq((1L, "alpha beta", null: String))
      .toDF("doc_id", "text", "source")
    val empty = TextAnalysis.nbClassify(unlabeled)
    assert(empty.isEmpty)
    assert(empty.columns.toSeq ==
      Seq("doc_id", "label", "predicted", "correct", "score"))
  }

  test("trainer entries fail loudly on degenerate corpora") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val eEmptyK = intercept[IllegalArgumentException] {
      Similarity.kmeansTrain(empty, k = 2, iters = 1)
    }
    assert(eEmptyK.getMessage.contains("kmeansTrain: corpus is empty"))
    val eEmptyP = intercept[IllegalArgumentException] {
      Similarity.pqTrain(empty, m = 2, k = 2, iters = 1, dim = 4)
    }
    assert(eEmptyP.getMessage.contains("pqTrain: corpus is empty"))

    // all-zero seed set: cosine has nothing to score — the entry names
    // the cause instead of degenerating into the null-score fallback
    val zeros = Seq(
      (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val eZeroK = intercept[IllegalArgumentException] {
      Similarity.kmeansTrain(zeros, k = 2, iters = 2)
    }
    assert(eZeroK.getMessage.contains("zero-norm"))

    // pq: subspace 1 (dims 2..3) all-zero across seeds while subspace 0
    // is live — the error names the dead subspace
    val halfDead = Seq(
      (1L, Seq(1.0f, 0.5f, 0.0f, 0.0f)),
      (2L, Seq(0.25f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val eDeadP = intercept[IllegalArgumentException] {
      Similarity.pqTrain(halfDead, m = 2, k = 2, iters = 2, dim = 4)
    }
    assert(eDeadP.getMessage.contains("subspace(s) 1"))

    // covariance: sample covariance divides by n−1, so a single-vector
    // corpus fails at the entry rather than emitting Infinity
    val one = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val eCov = intercept[IllegalArgumentException] {
      Similarity.covarianceMatrix(one, dim = 2)
    }
    assert(eCov.getMessage.contains("at least 2 vectors"))
  }

  test("Skew.keyProfile: hand-computed profile on a planted-skew frame") {
    // key 7: 12 rows; keys 1..4: 2 rows each — n=20, keys=5, mean 4
    val rows = Seq.fill(12)(7L) ++ (1L to 4L).flatMap(k => Seq(k, k))
    val df = rows.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("k", "payload")
    val p = Skew.keyProfile(df, "k", k = 2).head()
    assert(p.getLong(0) == 20L)                  // n_rows
    assert(p.getLong(1) == 5L)                   // n_keys
    assert(p.getLong(2) == 12L)                  // max_cnt
    assert(p.getDouble(3) == 0.6)                // max_share
    assert(p.getLong(4) == 14L)                  // top-2 = 12 + first tied 2
    assert(p.getLong(5) == 3L)                   // ceil(12 * 5 / 20)
    // balanced frame → salt_factor 1, top-k capped at the key count
    val bal = (1L to 4L).flatMap(k => Seq(k, k)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "payload")
    val b = Skew.keyProfile(bal, "k", k = 10).head()
    assert(b.getLong(5) == 1L && b.getLong(4) == 8L)
    // tie-break determinism: equally heavy keys pick ascending key order
    // (pinned by the planted tie above: top-2 takes key 1, not 2..4)
  }

  test("Salting.bucketsFromProfile: profile-sized salting levels the hot key") {
    // profile → plan: the planted-skew frame (key 7: 12 of 20 rows)
    // recommends salt_factor 3; the profiled salted aggregate must (a)
    // equal the plain GROUP BY bit-for-bit and (b) actually level the
    // hot key's phase-1 groups below its unsalted row count
    val rows = Seq.fill(12)(7L) ++ (1L to 4L).flatMap(k => Seq(k, k))
    val df = rows.zipWithIndex.map { case (k, i) => (k, i.toDouble) }
      .toDF("k", "value")
    val profile = Skew.keyProfile(df, "k")
    assert(Salting.bucketsFromProfile(profile) == 3)
    assert(Salting.bucketsFromProfile(profile, maxBuckets = 2) == 2, "clamped")
    val salted = Salting.saltedStatsProfiled(df, Seq("k"), "value", profile)
      .orderBy("k").collect().toSeq
    val plain = df.groupBy("k").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .orderBy("k").collect().toSeq
    assert(salted == plain, "profiled salted stats must equal the plain GROUP BY")
    // leveling: no (key, salt) phase-1 group still holds the hot key's
    // full 12 rows — the fan-out genuinely split it
    val phase1Max = df.withColumn("_salt",
        pmod(xxhash64(col("k"), col("value")), lit(3)))
      .groupBy("k", "_salt").count()
      .agg(max("count")).head().getLong(0)
    assert(phase1Max < 12L, s"hot key must split across salts, max group $phase1Max")
    // balanced input → factor 1: the profiled path degrades to the
    // plain single-phase cost, no gratuitous fan-out
    val bal = (1L to 4L).flatMap(k => Seq(k, k)).zipWithIndex
      .map { case (k, i) => (k, i.toDouble) }.toDF("k", "value")
    assert(Salting.bucketsFromProfile(Skew.keyProfile(bal, "k")) == 1)
    // EMPTY input → one all-null profile row → factor 1, not an NPE
    val empty = Seq.empty[(Long, Double)].toDF("k", "value")
    assert(Salting.bucketsFromProfile(Skew.keyProfile(empty, "k")) == 1)
  }

  test("hammingNearDup64 ≡ brute-force all-pairs popcount on random fingerprints") {
    // 8 byte-bands pigeonhole up to 7 flipped bits, so every pair at
    // hamming <= maxHamming must surface — seeded random 32-bit halves
    // plus planted low-distance pairs (clones and 1-3 bit flips)
    val rnd = new scala.util.Random(42)
    val base = (0L until 60L).map(i => (i, rnd.nextInt().toLong & 0xFFFFFFFFL,
      rnd.nextInt().toLong & 0xFFFFFFFFL))
    val planted = Seq(
      (100L, base(0)._2, base(0)._3),                     // clone of 0
      (101L, base(1)._2 ^ 1L, base(1)._3),                // 1 bit off 1
      (102L, base(2)._2, base(2)._3 ^ 0x80000001L & 0xFFFFFFFFL), // 2 bits off 2
      (103L, base(3)._2 ^ 6L, base(3)._3 ^ 16L))          // 3 bits off 3
    val fps = (base ++ planted).toDF("asset_id", "dhash_hi", "dhash_lo")
    for (maxH <- Seq(0, 3, 7)) {
      val got = graft.operators.Dedup.hammingNearDup64(fps, maxHamming = maxH)
        .orderBy("id_a", "id_b")
        .as[(Long, Long, Int)].collect().toSeq
      val rows = (base ++ planted)
      val brute = for {
        a <- rows; b <- rows if a._1 < b._1
        h = java.lang.Long.bitCount(a._2 ^ b._2) + java.lang.Long.bitCount(a._3 ^ b._3)
        if h <= maxH
      } yield (a._1, b._1, h)
      assert(got == brute.sortBy(p => (p._1, p._2)), s"maxHamming=$maxH")
    }
    // null halves (undecodable images) are skipped, not joined
    val withNull = fps.union(Seq((200L, null.asInstanceOf[java.lang.Long],
      null.asInstanceOf[java.lang.Long])).toDF("asset_id", "dhash_hi", "dhash_lo"))
    assert(!graft.operators.Dedup.hammingNearDup64(withNull, maxHamming = 7)
      .filter(col("id_a") === 200L || col("id_b") === 200L).collect().nonEmpty)
    // radius beyond the pigeonhole guarantee is rejected loudly
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.hammingNearDup64(fps, maxHamming = 8)
    }
  }

  test("image codec loop: render→PNG→decode→dHash recovers planted sibling near-dups") {
    val ids = (0L until 20L).toDF("asset_id")
    val assets = graft.operators.Multimodal.renderPng(ids)
    // decoded channel sums equal the pixel formula (PNG is lossless)
    val feats = graft.operators.Multimodal.decodeImageFeatures(assets)
      .orderBy("asset_id")
      .as[(Long, Int, Int, Long, Long, Long)].collect().toSeq
    val expect = (0L until 20L).map { a =>
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until 32; x <- 0 until 32) {
        sr += graft.operators.Multimodal.pixelR(a, x, y)
        sg += graft.operators.Multimodal.pixelG(a, x, y)
        sb += graft.operators.Multimodal.pixelB(a, x, y)
      }
      (a, 32, 32, sr, sg, sb)
    }
    assert(feats == expect, "decoded sums must equal the formula sums bit-for-bit")
    // every planted sibling pair (2q, 2q+1) surfaces as a near-dup
    val pairs = graft.operators.Dedup.hammingNearDup64(
      graft.operators.Multimodal.imageDHash(assets), maxHamming = 4)
      .as[(Long, Long, Int)].collect().toSeq
    val siblings = pairs.filter(p => p._2 == p._1 + 1 && p._1 % 2 == 0)
    assert(siblings.size == 10, s"all 10 sibling pairs must surface, got $pairs")
  }

  test("hammingScreen64 ≡ brute-force batch × corpus popcount (seen-side cap honored)") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 50L).map(i => (i, rnd.nextInt().toLong & 0xFFFFFFFFL,
      rnd.nextInt().toLong & 0xFFFFFFFFL))
    val batch = Seq(
      (100L, corpus(4)._2, corpus(4)._3),          // clone of corpus 4
      (101L, corpus(9)._2 ^ 3L, corpus(9)._3),     // 2 bits off corpus 9
      (102L, rnd.nextInt().toLong & 0xFFFFFFFFL, rnd.nextInt().toLong & 0xFFFFFFFFL))
    val got = graft.operators.Dedup.hammingScreen64(
      batch.toDF("asset_id", "dhash_hi", "dhash_lo"),
      corpus.toDF("asset_id", "dhash_hi", "dhash_lo"), maxHamming = 5)
      .orderBy("new_id", "seen_id").as[(Long, Long, Int)].collect().toSeq
    val brute = for {
      b <- batch; c <- corpus
      h = java.lang.Long.bitCount(b._2 ^ c._2) + java.lang.Long.bitCount(b._3 ^ c._3)
      if h <= 5
    } yield (b._1, c._1, h)
    assert(got == brute.sortBy(x => (x._1, x._2)))
    // the SEEN-side bucket cap drops hot buckets deterministically: a
    // corpus where every fingerprint is identical exceeds maxBucket=2
    // in every band, so nothing screens — capped, not exploded
    val hot = (0L until 10L).map(i => (i, 7L, 7L))
    assert(graft.operators.Dedup.hammingScreen64(
      Seq((99L, 7L, 7L)).toDF("asset_id", "dhash_hi", "dhash_lo"),
      hot.toDF("asset_id", "dhash_hi", "dhash_lo"),
      maxHamming = 0, maxBucket = 2).count() == 0)
  }

  test("video codec loop: frames→animated GIF→decode stats equal the formula; stride samples") {
    val ids = (0L until 10L).toDF("asset_id")
    val assets = graft.operators.Multimodal.renderGif(ids, 16, 16, nFrames = 6)
    // one payload per asset, genuinely multi-frame GIF (header + n_frames)
    val metas = assets.select("asset_id", "media", "meta.n_frames")
      .as[(Long, Array[Byte], Int)].collect().toSeq
    assert(metas.size == 10)
    metas.foreach { case (a, bytes, nf) =>
      assert(bytes.take(6).map(_.toChar).mkString == "GIF89a" ||
        bytes.take(6).map(_.toChar).mkString == "GIF87a", s"asset $a: not a GIF payload")
      assert(nf == 6)
    }
    def expect(stride: Int): Seq[(Long, Int, Int, Int, Long, Int)] =
      for (a <- 0L until 10L; f <- 0 until 6 by stride) yield {
        val gs = for (y <- 0 until 16; x <- 0 until 16)
          yield graft.operators.Multimodal.framePixel(a, f, x, y)
        (a, f, 16, 16, gs.map(_.toLong).sum, gs.max)
      }
    // full decode: GIF is lossless over 8-bit grayscale, so per-frame
    // stats equal the formula bit-for-bit
    val full = graft.operators.Multimodal.decodeVideoFeatures(assets)
      .orderBy("asset_id", "frame_no")
      .as[(Long, Int, Int, Int, Long, Int)].collect().toSeq
    assert(full == expect(1), "decoded GIF frame stats must equal the formula")
    // stride-2 sampling decodes EXACTLY frames 0,2,4 (random-access read)
    val sampled = graft.operators.Multimodal.decodeVideoFeatures(assets, stride = 2)
      .orderBy("asset_id", "frame_no")
      .as[(Long, Int, Int, Int, Long, Int)].collect().toSeq
    assert(sampled == expect(2), "stride sampling must touch exactly frames 0,2,4")
    // inputs WITHOUT the meta column fall back to the counting scan
    // (getNumImages) and decode the same frames
    val noMeta = graft.operators.Multimodal.decodeVideoFeatures(
      assets.select("asset_id", "media"))
      .orderBy("asset_id", "frame_no")
      .as[(Long, Int, Int, Int, Long, Int)].collect().toSeq
    assert(noMeta == expect(1), "meta-less input must use the counting-scan fallback")
  }

  test("video fingerprint: temporal-mean dHash equals the formula replay; siblings surface") {
    val ids = (0L until 20L).toDF("asset_id")
    val assets = graft.operators.Multimodal.renderGif(ids, 16, 16, nFrames = 8)
    // independent reference: formula pixels → stride-2 gray sums →
    // 9×8 integer box-average grid → adjacent-cell bits, re-derived
    // here without touching the library's helper
    def refHash(a: Long): (Long, Long) = {
      val sum = Array.ofDim[Long](16 * 16)
      for (f <- 0 until 8 by 2; y <- 0 until 16; x <- 0 until 16)
        sum(y * 16 + x) += graft.operators.Multimodal.framePixel(a, f, x, y)
      val avg = Array.ofDim[Long](9, 8)
      for (ci <- 0 until 9; cj <- 0 until 8) {
        val (x0, x1) = (ci * 16 / 9, (ci + 1) * 16 / 9)
        val (y0, y1) = (cj * 2, cj * 2 + 2)
        val cells = for (y <- y0 until y1; x <- x0 until x1) yield sum(y * 16 + x)
        avg(ci)(cj) = cells.sum / cells.size
      }
      var hi = 0L; var lo = 0L
      for (j <- 0 until 8; i <- 0 until 8; if avg(i)(j) < avg(i + 1)(j)) {
        val bit = 1L << ((j % 4) * 8 + i)
        if (j < 4) hi |= bit else lo |= bit
      }
      (hi, lo)
    }
    val got = graft.operators.Multimodal.videoDHash(assets, stride = 2)
      .orderBy("asset_id").as[(Long, Long, Long)].collect().toSeq
    val expect = (0L until 20L).map(a => { val (hi, lo) = refHash(a); (a, hi, lo) })
    assert(got == expect, "video fingerprint must equal the formula replay bit-for-bit")
    // both halves are non-negative 32-bit values (the portable split)
    got.foreach { case (a, hi, lo) =>
      assert(hi >= 0L && hi < (1L << 32) && lo >= 0L && lo < (1L << 32), s"asset $a") }
    // every planted sibling pair (2q, 2q+1) surfaces through the
    // banded Hamming screen at the bench radius
    val pairs = graft.operators.Dedup.hammingNearDup64(
      graft.operators.Multimodal.videoDHash(assets, stride = 2), maxHamming = 6)
      .as[(Long, Long, Int)].collect().toSeq
    val siblings = pairs.filter(p => p._2 == p._1 + 1 && p._1 % 2 == 0)
    assert(siblings.size == 10, s"all 10 sibling pairs must surface, got $pairs")
    // undecodable payloads fingerprint to a null row, not a job error
    val junk = Seq((99L, Array[Byte](1, 2, 3))).toDF("asset_id", "media")
    val nulls = graft.operators.Multimodal.videoDHash(junk).collect()
    assert(nulls.length == 1 && nulls(0).isNullAt(1) && nulls(0).isNullAt(2))
  }

  test("audio codec loop: PCM→WAV→decode stats equal the formula (lossless)") {
    val ids = (0L until 12L).toDF("asset_id")
    val got = graft.operators.Multimodal.decodeAudioFeatures(
      graft.operators.Multimodal.renderWav(ids, nSamples = 256))
      .orderBy("asset_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val expect = (0L until 12L).map { a =>
      val s = (0 until 256).map(graft.operators.Multimodal.pcmSample(a, _))
      val zc = (1 until 256).count(t => (s(t) < 0) != (s(t - 1) < 0)).toLong
      (a, 256L, s.map(v => math.abs(v.toLong)).sum, s.map(v => math.abs(v.toLong)).max, zc)
    }
    assert(got == expect, "decoded WAV stats must equal the formula bit-for-bit")
  }
}
