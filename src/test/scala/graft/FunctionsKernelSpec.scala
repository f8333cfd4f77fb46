package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Portable, ShingleHashes, SortedIntersectCount}
import graft.operators.Dedup

/** Pins the codegen scalar kernels to their SQL-primitive reference
  * formulations — the kernels replaced those formulations on the hot
  * path, so any divergence is silent oracle corruption. */
class FunctionsKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The SQL-primitive shingle formulation the kernel replaced:
    * posexplode tokens, per-token [[Portable.hash32]], (n−1) lead
    * windows, arithmetic fold — kept here as the reference semantics. */
  private def referenceShingles(docs: org.apache.spark.sql.DataFrame, n: Int) = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), col("pos"), Portable.hash32(col("tok")).as("h0"))
    if (n == 1) {
      toks.select(col("doc_id"), col("h0").as("sh"))
    } else {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val withLeads = (1 until n).foldLeft(toks) { (df, k) =>
        df.withColumn(s"h$k", lead(col("h0"), k).over(w))
      }
      val sh = (1 until n).foldLeft(col("h0")) { (acc, k) =>
        pmod(acc * lit(1000003L) + col(s"h$k"), lit(Portable.MinHashPrime))
      }
      withLeads.filter(col(s"h${n - 1}").isNotNull)
        .select(col("doc_id"), sh.as("sh"))
    }
  }

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a b c d"),
    (3L, "solo"),
    (4L, ""),
    (5L, "  double  spaces   everywhere  "),
    (6L, "répétition naïve café déjà vu naïve café"),
    (7L, "x y x y x y x y"),
    (8L, "tab\tis one token here"))

  test("ShingleHashes matches the SQL-primitive formulation for n=1,2,3") {
    for (n <- 1 to 3) {
      val docs = corpus.toDF("doc_id", "text")
      val kernel = Dedup.shingleStream(docs, n)
        .groupBy("doc_id", "sh").count().orderBy("doc_id", "sh")
      val reference = referenceShingles(docs, n)
        .groupBy("doc_id", "sh").count().orderBy("doc_id", "sh")
      assert(kernel.collect().toSeq == reference.collect().toSeq, s"n=$n")
    }
  }

  test("ShingleHashes: null text yields null array (no rows after explode)") {
    val docs = Seq((1L, Option.empty[String]), (2L, Some("a b"))).toDF("doc_id", "text")
    val arr = docs.select(col("doc_id"), ShingleHashes(col("text"), 2).as("hs"))
      .orderBy("doc_id").collect()
    assert(arr(0).isNullAt(1))
    assert(arr(1).getSeq[Long](1).nonEmpty)
    assert(Dedup.shingleStream(docs, 2).filter(col("doc_id") === 1L).count() == 0)
  }

  test("ShingleHashes: interpreted compute agrees with the DataFrame (codegen) path") {
    val viaDf = corpus.toDF("doc_id", "text")
      .select(col("doc_id"), ShingleHashes(col("text"), 2).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    corpus.foreach { case (id, text) =>
      val direct = ShingleHashes.compute(UTF8String.fromString(text), 2)
      assert(direct.toLongArray().toList == viaDf(id), s"doc $id")
    }
  }

  test("ShingleHashes: hash32 value matches Portable.hash32 per token") {
    val tok = "fox"
    val viaSql = spark.range(1)
      .select(Portable.hash32(lit(tok)).as("h")).head().getLong(0)
    val viaKernel = ShingleHashes.compute(UTF8String.fromString(tok), 1).getLong(0)
    assert(viaKernel == viaSql)
  }

  test("ShingleHashes distinct mode equals distinct() + sort over the stream") {
    val docs = corpus.toDF("doc_id", "text")
    val kernel = Dedup.shingles(docs, 2).orderBy("doc_id", "sh")
    val reference = Dedup.shingleStream(docs, 2).distinct().orderBy("doc_id", "sh")
    assert(kernel.collect().toSeq == reference.collect().toSeq)
    // within-row ordering: the distinct array itself is sorted ascending
    val arr = docs.filter(col("doc_id") === 1L)
      .select(ShingleHashes(col("text"), 2, distinct = true)).head().getSeq[Long](0)
    assert(arr == arr.sorted && arr.distinct == arr)
  }

  test("MinHashFromGrams matches the min-aggregate formulation") {
    val docs = corpus.toDF("doc_id", "text")
    val numHashes = 16
    val kernel = docs
      .select(col("doc_id"),
        graft.functions.MinHashFromGrams(ShingleHashes(col("text"), 2), numHashes).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id") +: (0 until numHashes).map(i => col("s").getItem(i).as(s"sig_$i")): _*)
      .orderBy("doc_id")
    val reference = Dedup.shingleStream(docs, 2)
      .groupBy(col("doc_id")).agg(
        min(Portable.minHashPerm(col("sh"), 0)).as("sig_0"),
        (1 until numHashes).map(i => min(Portable.minHashPerm(col("sh"), i)).as(s"sig_$i")): _*)
      .orderBy("doc_id")
    assert(kernel.collect().toSeq == reference.collect().toSeq)
    // duplicate-insensitivity: distinct grams give the same signature
    val distinctIn = docs
      .select(col("doc_id"),
        graft.functions.MinHashFromGrams(
          ShingleHashes(col("text"), 2, distinct = true), numHashes).as("s"))
      .filter(col("s").isNotNull).orderBy("doc_id").collect()
    val multisetIn = docs
      .select(col("doc_id"),
        graft.functions.MinHashFromGrams(ShingleHashes(col("text"), 2), numHashes).as("s"))
      .filter(col("s").isNotNull).orderBy("doc_id").collect()
    assert(distinctIn.toSeq == multisetIn.toSeq)
  }

  test("SimHashFromGrams matches the bit-vote aggregate formulation") {
    val docs = corpus.toDF("doc_id", "text")
    val bits = 48
    val kernel = Dedup.simHash(docs, 2, bits).orderBy("doc_id")
    val sh = Dedup.shingleStream(docs, 2)
      .select(col("doc_id"), Portable.hash60(col("sh").cast("string")).as("h"))
    val voteCols = (0 until bits).map { b =>
      sum(when(expr(s"shiftright(h, $b) & 1") === 1, 1).otherwise(-1)).as(s"v_$b")
    }
    val wide = sh.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
    val fp = (0 until bits).map { b =>
      when(col(s"v_$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    val reference = wide.select(col("doc_id"), fp.as("simhash")).orderBy("doc_id")
    assert(kernel.collect().toSeq == reference.collect().toSeq)
  }

  test("TextFingerprint matches the posexplode + aggregate formulation") {
    import org.apache.spark.sql.DataFrame
    def referenceFingerprint(docs: DataFrame): DataFrame =
      docs
        .select(col("doc_id"),
          posexplode(filter(split(col("text"), " "), t => t =!= "")).as(Seq("pos", "token")))
        .select(col("doc_id"),
          pmod((col("pos") + 1) * Portable.hash32(col("token")),
            lit(Portable.MinHashPrime)).as("ph"))
        .groupBy(col("doc_id"))
        .agg(pmod(sum(col("ph")), lit(Portable.MinHashPrime)).as("fingerprint"))
    val docs = corpus.toDF("doc_id", "text")
    val kernel = graft.operators.TextAnalysis.fingerprint(docs).orderBy("doc_id")
    val reference = referenceFingerprint(docs).orderBy("doc_id")
    assert(kernel.collect().toSeq == reference.collect().toSeq)
    // order sensitivity: same bag of tokens, different order, different print
    val ab = graft.operators.TextAnalysis.fingerprint(
      Seq((1L, "alpha beta")).toDF("doc_id", "text")).head().getLong(1)
    val ba = graft.operators.TextAnalysis.fingerprint(
      Seq((1L, "beta alpha")).toDF("doc_id", "text")).head().getLong(1)
    assert(ab != ba)
    // zero-token text yields no row, like the aggregate formulation
    assert(graft.operators.TextAnalysis.fingerprint(
      Seq((1L, "   ")).toDF("doc_id", "text")).count() == 0)
  }

  test("kernels handle a 200k-token document without quadratic blowup") {
    // One pathological row: the kernels are per-row loops, so a huge doc
    // must stream through linearly (array growth is doubling, signature
    // loop is k·m) — a regression to quadratic behavior would time out.
    val big = (0 until 200000).map(i => s"t${i % 5000}").mkString(" ")
    val df = Seq((1L, big)).toDF("doc_id", "text")
    val row = df.select(
      size(ShingleHashes(col("text"), 2)).as("total"),
      size(ShingleHashes(col("text"), 2, distinct = true)).as("dist"),
      graft.functions.MinHashFromGrams(ShingleHashes(col("text"), 2), 16).as("sigs"),
      graft.functions.SimHashFromGrams(ShingleHashes(col("text"), 2), 48).as("sh"),
      graft.functions.TextFingerprint(col("text")).as("fp")).head()
    assert(row.getInt(0) == 199999)
    assert(row.getInt(1) > 0 && row.getInt(1) <= 5000 * 5000)
    assert(row.getSeq[Long](2).size == 16)
    assert(!row.isNullAt(3) && !row.isNullAt(4))
  }

  test("TextStats matches the split/filter/regexp_replace formulation") {
    val stop = Seq("the", "a", "and", "of", "to", "in")
    val docs = (corpus ++ Seq(
      (20L, "the the THE a of99 to in2 in"),
      (21L, "100 200,300 abc-def _x_ 42"),
      (22L, "ünïcödé 1ö2 mixed42tokens"),
      (23L, " leading and trailing "))).toDF("doc_id", "text")
    val t = filter(split(col("text"), " "), x => x =!= "")
    val reference = docs.select(col("doc_id"),
      length(col("text")).as("n_chars"),
      size(t).as("n_tokens"),
      size(filter(t, x => stop.map(m => x === m).reduce(_ || _))).as("n_stop"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[0-9]", ""))).as("n_digits"),
      size(filter(split(col("text"), "[^a-zA-Z0-9]+"), x => x =!= ""))
        .as("word_tokens"))
    val kernel = docs.select(col("doc_id"),
      graft.functions.TextStats(col("text"), stop).as("st"))
      .select(col("doc_id"), col("st.n_chars"), col("st.n_tokens"),
        col("st.n_stop"), col("st.n_digits"), col("st.word_tokens"))
    assert(kernel.orderBy("doc_id").collect().toSeq ==
      reference.orderBy("doc_id").collect().toSeq)
    // null text propagates to a null struct, like every replaced primitive
    val nullRow = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(graft.functions.TextStats(col("text"), stop).as("st")).head()
    assert(nullRow.isNullAt(0))
    // interpreted eval agrees with the codegen path
    val stats = graft.functions.TextStats.compute(
      UTF8String.fromString("the a 12 naïve x9y"),
      graft.functions.TextStats.toStopBytes(stop))
    assert((stats.getInt(0), stats.getInt(1), stats.getInt(2),
      stats.getInt(3), stats.getInt(4)) == (18, 5, 2, 3, 6))
  }

  test("TermCounts matches the split/filter per-term formulation") {
    val terms = Seq("the", "beta", "ünïcödé")
    val docs = (corpus ++ Seq(
      (20L, "the the beta  beta the"),          // double space, repeats
      (21L, ""),                                 // empty text
      (22L, "ünïcödé beta ünïcödéx the-"),      // multibyte + near-misses
      (23L, " leading the trailing "))).toDF("doc_id", "text")
    val t = filter(split(col("text"), " "), x => x =!= "")
    val reference = docs.select(Seq(col("doc_id"),
      size(t).cast("long").as("dl")) ++
      terms.zipWithIndex.map { case (w, i) =>
        size(filter(t, x => x === lit(w))).cast("long").as(s"tf$i")
      }: _*)
    val kernel = docs.select(col("doc_id"),
      graft.functions.TermCounts(col("text"), terms).as("tc"))
      .select(Seq(col("doc_id"), element_at(col("tc"), 1).as("dl")) ++
        terms.indices.map(i => element_at(col("tc"), i + 2).as(s"tf$i")): _*)
    assert(kernel.orderBy("doc_id").collect().toSeq ==
      reference.orderBy("doc_id").collect().toSeq)
    // null text propagates, like the split formulation
    val nullRow = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(graft.functions.TermCounts(col("text"), terms).as("tc")).head()
    assert(nullRow.isNullAt(0))
    // interpreted eval agrees with the codegen path
    val arr = graft.functions.TermCounts.compute(
      UTF8String.fromString("beta the  beta x"),
      graft.functions.TextStats.toStopBytes(terms))
    assert(arr.toLongArray().toSeq == Seq(4L, 1L, 2L, 0L))
  }

  test("GopherStats signals match an independent primitive formulation on randomized text") {
    // Independent reimplementation of every gopherRules signal from
    // split/regexp/array primitives, over a seeded random corpus that
    // exercises the r13 kernel semantics: tabs/newlines/CRs as word
    // delimiters, '...' AND unicode '…' ellipses, '#' runs, bullets,
    // duplicate lines, empty and null text.
    val rnd = new scala.util.Random(1013)
    val pool = Seq("the", "be", "to", "of", "and", "that", "have", "with",
      "fox", "plasma", "x9", "42", "##", "#tag", "a…b", "...", "…",
      "-", "•", "* item", "trailing...", "dots…", "naïve", "!!!")
    val seps = Seq(" ", " ", " ", " ", "\n", "\n", "\t", "\r", "  ", " \n ")
    val randomDocs = (0 until 150).map { i =>
      val k = 1 + rnd.nextInt(60)
      val sb = new StringBuilder(pool(rnd.nextInt(pool.size)))
      (1 until k).foreach { _ =>
        sb.append(seps(rnd.nextInt(seps.size))).append(pool(rnd.nextInt(pool.size)))
      }
      (i.toLong, sb.toString)
    }
    val docs = (randomDocs ++ Seq(
      (900L, ""), (901L, null.asInstanceOf[String]), (902L, "\n\n"),
      (903L, "…"), (904L, "# # #"), (905L, "a\nb\nb\nb"),
      (906L, "same line\nsame line\ndifferent")))
      .toDF("doc_id", "text")

    val stops = array(Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(lit): _*)
    val t = coalesce(col("text"), lit(""))
    val w = filter(split(t, "[ \t\n\r]"), x => x =!= "")
    val l = split(t, "\n", -1)
    val nW = size(w)
    val nL = size(l)
    val r6 = (c: org.apache.spark.sql.Column) => round(c, 6)
    val lineChars = aggregate(transform(l, x => length(x)), lit(0L), (a, x) => a + x)
    val reference = docs.select(col("doc_id"),
      nW.cast("long").as("n_words"),
      r6(when(nW === 0, lit(null)).otherwise(
        aggregate(transform(w, x => length(x)), lit(0L), (a, x) => a + x)
          .cast("double") / nW)).as("mean_word_len"),
      r6(when(nW === 0, lit(null)).otherwise(
        (length(t) - length(regexp_replace(t, "#", ""))).cast("double") / nW))
        .as("hash_word_ratio"),
      r6(when(nW === 0, lit(null)).otherwise(
        ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
          + (length(t) - length(regexp_replace(t, "…", "")))).cast("double") / nW))
        .as("ellipsis_word_ratio"),
      r6(when(nL === 0, lit(null)).otherwise(
        size(filter(l, x => regexp_replace(x, "^ +", "").rlike("^[-*•]")))
          .cast("double") / nL)).as("bullet_line_ratio"),
      r6(when(nL === 0, lit(null)).otherwise(
        size(filter(l, x => regexp_replace(x, " +$", "").rlike("(\\.\\.\\.|…)$")))
          .cast("double") / nL)).as("ellipsis_line_ratio"),
      r6(when(nW === 0, lit(null)).otherwise(
        size(filter(w, x => x.rlike("[A-Za-z]"))).cast("double") / nW))
        .as("alpha_word_ratio"),
      size(filter(stops, s => exists(w, x => lower(x) === s))).cast("long")
        .as("stopwords_present"),
      r6(when(nL === 0, lit(null)).otherwise(
        (nL - size(array_distinct(l))).cast("double") / nL)).as("dup_line_frac"),
      r6(when(lineChars === 0, lit(null)).otherwise(
        aggregate(transform(l, x =>
          when(size(filter(l, y => y === x)) > 1, length(x).cast("long"))
            .otherwise(lit(0L))), lit(0L), (a, x) => a + x)
          .cast("double") / lineChars)).as("dup_line_char_frac"))

    val sigCols = Seq("doc_id", "n_words", "mean_word_len", "hash_word_ratio",
      "ellipsis_word_ratio", "bullet_line_ratio", "ellipsis_line_ratio",
      "alpha_word_ratio", "stopwords_present", "dup_line_frac", "dup_line_char_frac")
    val kernel = graft.operators.TextAnalysis.gopherRules(docs)
      .select(sigCols.map(col): _*).orderBy("doc_id").collect().toSeq
    val ref = reference.select(sigCols.map(col): _*).orderBy("doc_id").collect().toSeq
    kernel.zip(ref).foreach { case (k, r) =>
      assert(k == r, s"kernel $k != reference $r")
    }
  }

  test("SpanDigests matches the transform/slice/concat_ws formulation") {
    val docs = (corpus ++ Seq(
      (30L, (1 to 20).map(i => s"t$i").mkString(" ")),   // 2.5 spans of 8
      (31L, "exactly eight tokens a b c d e"),
      (32L, "  doubled  spaces collapse   here  "))).toDF("doc_id", "text")
    for (n <- Seq(1, 3, 8)) {
      val toksC = filter(split(col("text"), " "), t => t =!= "")
      val nSpans = ((size(toksC) + lit(n - 1)) / lit(n)).cast("long")
      val spanIdx = when(size(toksC) > 0, sequence(lit(0L), nSpans - 1))
        .otherwise(array().cast("array<long>"))
      val reference = docs.select(col("doc_id"),
        explode(transform(spanIdx, i => struct(
          i.as("span_no"),
          concat_ws(" ", slice(toksC, (i * n + 1).cast("int"), lit(n)))
            .as("span_text")))).as("s"))
        .select(col("doc_id"), col("s.span_no"), col("s.span_text"),
          md5(col("s.span_text").cast("binary")).as("span_digest"))
        .orderBy("doc_id", "span_no").collect().toSeq
      val kernel = docs.select(col("doc_id"),
        explode(graft.functions.SpanDigests(col("text"), n, withText = true)).as("s"))
        .select(col("doc_id"), col("s.span_no"), col("s.span_text"), col("s.span_digest"))
        .orderBy("doc_id", "span_no").collect().toSeq
      assert(kernel == reference, s"spanTokens=$n")
    }
    // digest-only variant agrees with the full one, minus the text
    val a = docs.select(explode(
      graft.functions.SpanDigests(col("text"), 4, withText = true)).as("s"))
      .select(col("s.span_no"), col("s.span_digest")).collect().toSeq
    val b = docs.select(explode(
      graft.functions.SpanDigests(col("text"), 4, withText = false)).as("s"))
      .select(col("s.span_no"), col("s.span_digest")).collect().toSeq
    assert(a == b)
    // null text → null; empty text → no spans
    val edge = Seq((1L, null: String), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    assert(edge.select(graft.functions.SpanDigests(col("text"), 4, withText = true))
      .collect().count(_.isNullAt(0)) == 1)
    assert(edge.select(explode(
      graft.functions.SpanDigests(col("text"), 4, withText = true))).count() == 0)
  }

  test("ByteVectorDot equals the zip_with/aggregate fold on int8 vectors") {
    val rnd = new scala.util.Random(11)
    // Seq[Byte] encodes as array<tinyint> (Array[Byte] would be BINARY)
    val cases = (0 until 100).map { i =>
      def arr(n: Int) = Seq.fill(n)((rnd.nextInt(255) - 127).toByte)
      (i.toLong, arr(64), arr(64))
    } :+ ((200L, Seq[Byte](127, -127, 0), Seq[Byte](127, -127, 0))) :+
      ((201L, Seq.empty[Byte], Seq[Byte](1, 2)))
    val df = cases.toDF("id", "a", "b")
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("int") * y.cast("int")),
      lit(0L), (acc, e) => acc + e.cast("long"))
    val mismatches = df.select(col("id"),
      graft.functions.ByteVectorDot(col("a"), col("b")).as("kernel"),
      hof.as("fold"))
      .filter(col("kernel") =!= col("fold"))
    assert(mismatches.count() == 0)
    // SQL registration carries the kernel too
    graft.GraftExtensions.register(spark)
    df.createOrReplaceTempView("bvd_t")
    val viaSql = spark.sql(
      "SELECT sum(byte_vector_dot(a, b)) FROM bvd_t").head().getLong(0)
    val viaCol = df.select(sum(graft.functions.ByteVectorDot(col("a"), col("b"))))
      .head().getLong(0)
    assert(viaSql == viaCol)
  }

  test("KMinValues: deterministic across partitionings, exact below k") {
    import graft.functions.{KMinValues, Portable}
    val ids = (1 to 5000).map(i => s"user$i")
    def estimate(parts: Int): Double = {
      val df = ids.map(Tuple1(_)).toDF("id").repartition(parts)
      df.agg(KMinValues(Portable.hash60(col("id")), 64).as("e"))
        .head().getDouble(0)
    }
    // the k smallest of a set are invariant under partitioning/merge
    // order — the property HLL++ cannot give us
    val e1 = estimate(1)
    assert(e1 == estimate(7) && e1 == estimate(32))
    // ~1/sqrt(62) relative error: 5000 true, accept 25%
    assert(math.abs(e1 - 5000.0) / 5000.0 < 0.25, s"estimate $e1 too far from 5000")
    // fewer than k distinct values: exact, even with duplicates
    val small = (1 to 300).map(i => s"u${i % 40}").map(Tuple1(_))
      .toDF("id").repartition(5)
    val es = small.agg(KMinValues(Portable.hash60(col("id")), 64).as("e"))
      .head().getDouble(0)
    assert(es == 40.0)
    // serde roundtrip
    val buf = new KMinValues.Sketch(8)
    (1L to 100L).foreach(v => buf.add(v * 7919L % 1000L))
    val back = KMinValues.Sketch.fromBytes(buf.toBytes, 8)
    assert(back.mins == buf.mins && back.estimate == buf.estimate)
  }

  test("BoundedIdSet: the sorted distinct ids up to the cap, null above it, in any partitioning") {
    import graft.functions.BoundedIdSet
    val ids = (1 to 300).map(i => Tuple1(Option((i % 40).toLong))) :+ Tuple1(Option.empty[Long])
    def set(parts: Int, cap: Long): Seq[Long] = {
      val v = ids.toDF("id").repartition(parts).agg(BoundedIdSet(col("id"), cap)).head().get(0)
      if (v == null) null else v.asInstanceOf[scala.collection.Seq[Long]].toSeq
    }
    for (parts <- Seq(1, 7)) {
      assert(set(parts, 40L) == (0L until 40L))
      assert(set(parts, 1000L) == (0L until 40L))
      assert(set(parts, 39L) == null)
      assert(set(parts, 0L) == null)
    }
    // serde roundtrip, below and above the cap
    val buf = new BoundedIdSet.Ids(3)
    Seq(5L, 1L, 5L).foreach(buf.add)
    val back = BoundedIdSet.Ids.fromBytes(buf.toBytes, 3)
    assert(back.ids == buf.ids && !back.overflowed)
    Seq(2L, 3L).foreach(buf.add)
    assert(buf.overflowed && BoundedIdSet.Ids.fromBytes(buf.toBytes, 3).overflowed)
  }

  test("KMinSet algebra: union/intersection/Jaccard estimates near truth; exact below k") {
    import graft.functions.{KMinSet, KMinValues, Portable}
    // planted overlap: A = u1..u3000, B = u2001..u5000 → |A∩B| = 1000,
    // |A∪B| = 5000, J = 0.2
    val rows = (1 to 3000).map(i => ("a", s"u$i")) ++
      (2001 to 5000).map(i => ("b", s"u$i"))
    val df = rows.toDF("seg", "id").repartition(13)
    val k = 128
    def algebra(frame: org.apache.spark.sql.DataFrame) = frame.agg(
        KMinSet(when(col("seg") === "a", Portable.hash60(col("id"))), k).as("ma"),
        KMinSet(when(col("seg") === "b", Portable.hash60(col("id"))), k).as("mb"))
      .withColumn("mu", slice(array_sort(array_distinct(concat(col("ma"), col("mb")))), 1, k))
      .withColumn("szu", size(col("mu")))
      .withColumn("uest", when(col("szu") < k, col("szu").cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(KMinValues.HashSpace) /
          element_at(col("mu"), k).cast("double")))
      .withColumn("c", size(array_intersect(array_intersect(col("mu"), col("ma")), col("mb"))))
      .select(col("uest"),
        (col("c").cast("double") / col("szu") * col("uest")).as("iest"),
        (col("c").cast("double") / col("szu")).as("jest"))
      .head()
    val r = algebra(df)
    assert(math.abs(r.getDouble(0) - 5000.0) / 5000.0 < 0.25, s"union ${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 1000.0) / 1000.0 < 0.5, s"inter ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - 0.2) < 0.1, s"jaccard ${r.getDouble(2)}")
    // merge-order invariance: same algebra, different partitioning
    val r2 = algebra(rows.toDF("seg", "id").repartition(3))
    assert(r.getDouble(0) == r2.getDouble(0) && r.getDouble(1) == r2.getDouble(1))
    // sub-k universe: every estimate is EXACT set arithmetic
    val tiny = ((1 to 30).map(i => ("a", s"v$i")) ++
      (21 to 50).map(i => ("b", s"v$i"))).toDF("seg", "id")
    val t = algebra(tiny)
    assert(t.getDouble(0) == 50.0 && t.getDouble(1) == 10.0 && t.getDouble(2) == 0.2)
    // A-not-B difference: |A| est − intersection est; planted truth
    // |A \ B| = 2000 of |A| = 3000
    val d = df.agg(
        KMinSet(when(col("seg") === "a", Portable.hash60(col("id"))), k).as("ma"),
        KMinSet(when(col("seg") === "b", Portable.hash60(col("id"))), k).as("mb"))
      .withColumn("sza", size(col("ma")))
      .withColumn("aest", when(col("sza") < k, col("sza").cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(KMinValues.HashSpace) /
          element_at(col("ma"), k).cast("double")))
      .withColumn("mu", slice(array_sort(array_distinct(concat(col("ma"), col("mb")))), 1, k))
      .withColumn("szu", size(col("mu")))
      .withColumn("uest", when(col("szu") < k, col("szu").cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(KMinValues.HashSpace) /
          element_at(col("mu"), k).cast("double")))
      .withColumn("c", size(array_intersect(array_intersect(col("mu"), col("ma")), col("mb"))))
      .select((col("aest") - col("c").cast("double") / col("szu") * col("uest")).as("d"))
      .head().getDouble(0)
    assert(math.abs(d - 2000.0) / 2000.0 < 0.5, s"anotb $d vs 2000")
  }

  test("MisraGriesTopK summary: guarantees hold against exact counts") {
    import graft.functions.MisraGriesTopK
    // deterministic skewed stream: token frequency ∝ 1/rank
    val rnd = new scala.util.Random(7)
    val stream = (0 until 20000).map { _ =>
      val r = rnd.nextInt(210)
      if (r < 60) s"hot${r % 3}" else s"cold${rnd.nextInt(2000)}"
    }
    val exact = stream.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val df = stream.map(Tuple1(_)).toDF("token").repartition(16)
    val row = df.agg(MisraGriesTopK(col("token"), 20).as("s")).head()
    val s = row.getStruct(0)
    val n = s.getLong(0)
    val entries = s.getSeq[org.apache.spark.sql.Row](1)
      .map(e => e.getString(0) -> e.getLong(1))
    assert(n == 20000)
    assert(entries.size <= 20)
    val m = entries.map(_._2).sum
    val slack = (n - m) / 21
    val inSketch = entries.toMap
    exact.foreach { case (t, c) =>
      inSketch.get(t) match {
        case Some(est) => assert(est <= c && c - est <= slack, s"$t est=$est exact=$c slack=$slack")
        case None => assert(c <= slack, s"absent $t exact=$c slack=$slack")
      }
    }
    // the three hot tokens (freq ≈ 1900 ≫ n/21) must be present
    (0 until 3).foreach(i => assert(inSketch.contains(s"hot$i")))
    // serde roundtrip preserves the summary
    val buf = new MisraGriesTopK.Summary(20)
    stream.foreach(t => buf.add(org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    val back = MisraGriesTopK.Summary.fromBytes(buf.toBytes, 20)
    assert(back.n == buf.n && back.counts == buf.counts)
  }

  test("CountMinSketch: order-invariant matrix, estimates never undercount") {
    import graft.functions.CountMinSketch
    val rnd = new scala.util.Random(11)
    val stream = (0 until 30000).map { _ =>
      val r = rnd.nextInt(100)
      if (r < 30) s"hot${r % 5}" else s"cold${rnd.nextInt(3000)}"
    }
    val exact = stream.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    def matrix(parts: Int): (Long, Seq[Seq[Long]]) = {
      val row = stream.map(Tuple1(_)).toDF("token").repartition(parts)
        .agg(CountMinSketch(col("token"), 4, 128).as("s")).head()
      val s = row.getStruct(0)
      (s.getLong(0), s.getSeq[scala.collection.Seq[Long]](1).map(_.toSeq).toSeq)
    }
    // sums are order-invariant: identical matrix under any partitioning
    val (n1, m1) = matrix(1)
    assert(n1 == 30000L)
    assert((n1, m1) == matrix(7) && (n1, m1) == matrix(32))
    // every row of the matrix conserves total mass
    m1.foreach(row => assert(row.sum == 30000L))
    // JVM-side estimates vs exact: never undercount
    val buf = new CountMinSketch.Matrix(4, 128)
    stream.foreach(t => buf.add(org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    val df = exact.keys.toSeq.sorted.map(Tuple1(_)).toDF("token")
    // column-side estimate binds the 1-row sketch via broadcast cross
    val sk = stream.map(Tuple1(_)).toDF("token").agg(CountMinSketch(col("token"), 4, 128).as("s"))
    val checked = df.crossJoin(broadcast(sk))
      .select(col("token"),
        CountMinSketch.estimate(col("s"), col("token"), 4, 128).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, c) =>
      assert(checked(t) >= c, s"$t est=${checked(t)} < exact=$c")
    }
    // serde roundtrip
    val back = CountMinSketch.Matrix.fromBytes(buf.toBytes, 4, 128)
    assert(back.n == buf.n && back.cells.toSeq == buf.cells.toSeq)
    // JVM bucket mapping == SQL portable hash (md5 first-8-hex mod w):
    // the column-side estimate over the single-token stream recovers
    // the exact count for a unique token (no collisions at width 128
    // is not guaranteed — so assert against the matrix min instead)
    val one = checked("hot0")
    val jvmEst = (0 until 4).map { d =>
      val b = {
        val mdd = java.security.MessageDigest.getInstance("MD5")
        val dig = mdd.digest(s"cms$d:hot0".getBytes("UTF-8"))
        ((((dig(0) & 0xFFL) << 24) | ((dig(1) & 0xFFL) << 16) |
          ((dig(2) & 0xFFL) << 8) | (dig(3) & 0xFFL)) % 128).toInt
      }
      buf.cells(d * 128 + b)
    }.min
    assert(one == jvmEst)
  }

  test("CdcChunks: chunks partition the text, digests are edit-local") {
    import graft.functions.CdcChunks
    val rnd = new scala.util.Random(13)
    val base = (1 to 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    def chunksOf(s: String): Seq[(Int, Int, Long)] = {
      val arr = CdcChunks.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 4, 64)
      (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 3)
        (r.getInt(0), r.getInt(1), r.getLong(2))
      }
    }
    val cs = chunksOf(base)
    // chunks tile the text exactly: starts/lens are a partition
    assert(cs.head._1 == 1 && cs.map(_._2).sum == base.length)
    assert(cs.sliding(2).forall {
      case Seq(a, b) => b._1 == a._1 + a._2
      case _         => true
    })
    // reconstructing each chunk's substring reproduces the digest via
    // the SQL-side portable hash (engine parity of the JVM md5 path)
    val subs = cs.map { case (st, ln, dig) => (base.substring(st - 1, st - 1 + ln), dig) }
    val viaSql = subs.map(_._1).toDF("s")
      .select(graft.functions.Portable.hash60(col("s"))).as[Long].collect().toSeq
    assert(viaSql == subs.map(_._2))
    // content-defined: a prefix edit re-chunks only the neighborhood —
    // the digest multiset still shares most chunks with the original
    val edited = "XY" + base
    val shared = chunksOf(edited).map(_._3).toSet
      .intersect(cs.map(_._3).toSet)
    assert(shared.size >= cs.size - 3,
      s"only ${shared.size}/${cs.size} chunks survived a 2-char prefix edit")
    // a fixed-size grid would share (almost) nothing under the same
    // edit — the property CDC buys; empty text → empty array
    assert(chunksOf("").isEmpty)
    // degenerate constant input still chunks deterministically
    assert(chunksOf("aaaaaaaaaa") == chunksOf("aaaaaaaaaa"))
  }

  test("TokenHashCounts equals the explode+groupBy term frequencies") {
    import graft.functions.{ShingleHashes, TokenHashCounts}
    val rnd = new scala.util.Random(7)
    val words = Vector("the", "cat", "sat", "mat", "zh1", "ému", "a")
    val docs = (0L until 50L).map { i =>
      (i, (0 until rnd.nextInt(40)).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val viaKernel = docs
      .select(col("doc_id"), explode(TokenHashCounts(col("text"))).as("e"))
      .select(col("doc_id"), col("e.w").as("w"), col("e.m").as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaAgg = docs
      .select(col("doc_id"), explode(ShingleHashes(col("text"), 1)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaKernel == viaAgg)
    // per-row order is sorted by hash ascending (deterministic), empty
    // text yields an empty array, null stays null
    val probe = Seq((1L, "b a b a b"), (2L, ""), (3L, null))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TokenHashCounts(col("text")).as("tc"))
      .orderBy("doc_id").collect()
    val row1 = probe(0).getSeq[org.apache.spark.sql.Row](1)
    assert(row1.map(_.getLong(0)) == row1.map(_.getLong(0)).sorted)
    assert(row1.map(_.getLong(1)).sum == 5L)
    assert(probe(1).getSeq[org.apache.spark.sql.Row](1).isEmpty)
    assert(probe(2).isNullAt(1))
  }

  test("CdcChunks bounds: min/max caps tame degenerate runs, 0/0 = classic") {
    import graft.functions.CdcChunks
    def chunksOf(s: String, min: Int, max: Int,
        window: Int = 4, avg: Int = 64): Seq[(Int, Int, Long)] = {
      val arr = CdcChunks.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), window, avg, min, max)
      (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 3)
        (r.getInt(0), r.getInt(1), r.getLong(2))
      }
    }
    def tiles(s: String, cs: Seq[(Int, Int, Long)]): Boolean =
      cs.nonEmpty && cs.head._1 == 1 && cs.map(_._2).sum == s.length &&
        cs.sliding(2).forall {
          case Seq(a, b) => b._1 == a._1 + a._2
          case _         => true
        }
    val rnd = new scala.util.Random(13)
    val base = (1 to 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // bounds off ⇒ exactly the classic unbounded chunking
    assert(chunksOf(base, 0, 0) == chunksOf(base, 0, 0, 4, 64))

    // degenerate case 1 — constant run whose every window hashes to a
    // boundary (avg=2 makes hits dense): unbounded yields slivers;
    // minSize floors every chunk but the last
    val run = "a" * 200
    val slivers = chunksOf(run, 0, 0, avg = 2)
    assert(slivers.exists(_._2 < 8), "premise: unbounded produces slivers")
    val floored = chunksOf(run, 8, 0, avg = 2)
    assert(tiles(run, floored))
    assert(floored.dropRight(1).forall(_._2 >= 8), s"min violated: $floored")

    // degenerate case 2 — no hash hit anywhere (huge avg): unbounded
    // returns ONE whole-text chunk; maxSize forces a boundary grid
    val whole = chunksOf(run, 0, 0, avg = 1 << 29)
    assert(whole.length == 1, "premise: unbounded yields one whole-text chunk")
    val capped = chunksOf(run, 0, 16, avg = 1 << 29)
    assert(tiles(run, capped))
    assert(capped.forall(_._2 <= 16) && capped.dropRight(1).forall(_._2 == 16))

    // both bounds live on real text: every chunk within [min, max],
    // except the final remainder which may undershoot min
    val both = chunksOf(base, 8, 32)
    assert(tiles(base, both))
    assert(both.forall(_._2 <= 32) && both.dropRight(1).forall(_._2 >= 8))

    // bounded chunking is still content-defined: a prefix edit
    // resynchronizes at the next unsuppressed boundary, so most chunk
    // digests survive
    val edited = "XY" + base
    val shared = chunksOf(edited, 8, 32).map(_._3).toSet
      .intersect(both.map(_._3).toSet)
    assert(shared.size >= both.size - 4,
      s"only ${shared.size}/${both.size} bounded chunks survived the edit")
    // (the 5-arg SQL face is pinned in ExtensionsSpec, whose session
    // has GraftExtensions registered)

    // r19 fixed-grid fast path: minSize == maxSize makes the rolling
    // hash dead work (the max-force fires before a hash boundary can),
    // so compute() takes a grid-only path — pin it against an
    // independent construction: code-point tiles of exactly K with the
    // same md5-prefix digest, incl. a supplementary-plane string where
    // char offsets and code-point offsets diverge
    def hash60(sub: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(sub.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    for (text <- Seq(base, run, "ab", "x", "😀abc😁defgh" * 7);
         k <- Seq(1, 5, 64)) {
      val got = chunksOf(text, k, k)
      val cps = text.codePoints().toArray
      val expect = cps.grouped(k).zipWithIndex.map { case (g, gi) =>
        (gi * k + 1, g.length, hash60(new String(g, 0, g.length)))
      }.toSeq
      assert(got == expect, s"fixed grid k=$k mismatch on ${text.take(12)}…")
      assert(got.map(_._2).sum == cps.length) // code-point tiling, no gaps
    }
  }

  test("NbScores memoizes the model broadcast NaN-stably across apply calls") {
    import graft.functions.NbScores
    assert(spark.sparkContext.isStopped == false) // force session init
    // A realistic trained model: deltaMat carries NaN sentinels for
    // (token, class) pairs with no training mass. Boxed NaN == NaN is
    // false, so a value-based key would miss on every lookup — the
    // memo must key on bit patterns to ever hit.
    def model() = (
      Array("ham", "spam"),
      Array(java.math.BigDecimal.valueOf(-1.2).setScale(10),
        java.math.BigDecimal.valueOf(-0.4).setScale(10)),
      Array(-2.5, -3.5),
      Map(11L -> 0, 22L -> 1),
      Array(Array(1.5, Double.NaN), Array(Double.NaN, 2.5)))
    val (c1, p1, b1, t1, d1) = model()
    val (c2, p2, b2, t2, d2) = model() // structurally equal, fresh arrays
    val bc1 = NbScores.broadcastFor(c1, p1, b1, t1, d1)
    val bc2 = NbScores.broadcastFor(c2, p2, b2, t2, d2)
    assert(bc1 eq bc2,
      "two apply calls with an identical NaN-bearing model must share one broadcast")
    // …and a genuinely different model must NOT collide
    val d3 = Array(Array(1.5, Double.NaN), Array(Double.NaN, 99.0))
    val bc3 = NbScores.broadcastFor(c1, p1, b1, t1, d3)
    assert(!(bc1 eq bc3), "distinct models must get distinct broadcasts")
    NbScores.invalidateModelMemo()
  }

  test("SortedIntersectCount equals size(array_intersect) on sorted arrays") {
    val rnd = new scala.util.Random(42)
    val cases = (0 until 200).map { i =>
      def arr() = Array.fill(rnd.nextInt(30))(rnd.nextInt(20).toLong).sorted
      (i.toLong, arr(), arr())
    } :+ ((1000L, Array.empty[Long], Array(1L, 2L))) :+
      ((1001L, Array(5L, 5L, 5L), Array(5L, 5L)))
    val df = cases.toDF("id", "a", "b")
    val mismatches = df.select(col("id"),
      SortedIntersectCount(col("a"), col("b")).as("merge"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .filter(col("merge") =!= col("builtin"))
    assert(mismatches.count() == 0)
  }
}
