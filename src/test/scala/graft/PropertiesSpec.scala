package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator-driven properties (SURVEY.md §5.3): the argmax
  * formulation of the latest read is equivalent to the window-dedupe
  * formulation, and the change collapse is idempotent. Gen is sampled
  * with fixed seeds (no scalatestplus bridge in the offline cache). */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  // Small dense key spaces force collisions (revisions + corrections).
  private val rowGen = for {
    sid <- Gen.choose(1L, 3L)
    vt <- Gen.choose(0, 3)
    kt <- Gen.choose(0, 3)
    ct <- Gen.choose(0, 3)
    v <- Gen.frequency(9 -> Gen.choose(-5.0, 5.0), 1 -> Gen.const(Double.NaN))
    cb <- Gen.oneOf("a", "b")
  } yield (sid, vt, kt, ct, v, cb)

  private val frameGen = Gen.listOfN(40, rowGen)

  private def sample(seed: Long): List[(Long, Int, Int, Int, Double, String)] =
    frameGen.pureApply(Gen.Parameters.default, Seed(seed))

  private def toFrame(rows: List[(Long, Int, Int, Int, Double, String)]): DataFrame =
    rows.map { case (s, vt, kt, ct, v, cb) =>
      (s, ts(f"2024-01-01T$vt%02d:00:00Z"), ts(f"2024-01-01T$kt%02d:00:00Z"),
        ts(f"2024-01-01T$ct%02d:00:00Z"), v, cb, "")
    }.toDF("series_id", "valid_time", "knowledge_time", "change_time",
      "value", "changed_by", "annotation")

  test("latest (struct-max argmax) ≡ window row_number formulation") {
    for (seed <- 1L to 6L) {
      val df = toFrame(sample(seed))
      val viaAgg = ReadShapesLatest(df)
      val w = Window.partitionBy(col("series_id"), col("valid_time"))
        .orderBy(col("knowledge_time").desc, col("change_time").desc, col("value").desc)
      val viaWindow = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("series_id", "valid_time", "value")
        .orderBy("series_id", "valid_time").collect().toSeq
      // Spark Row.equals treats NaN == NaN, so plain Seq compare works.
      assert(viaAgg == viaWindow, s"seed=$seed")
    }
  }

  private def ReadShapesLatest(df: DataFrame) =
    graft.operators.ReadShapes.latest(df)
      .orderBy("series_id", "valid_time").collect().toSeq

  /** The built-in formulation of `ReadShapes.latest`:
    * `max(struct(kt, ct, value))` via lexicographic struct ordering.
    * Identical semantics, but the struct aggregation buffer is not
    * hash-aggregable, so Spark plans a partial+final SortAggregate where
    * the custom [[graft.functions.ArgMaxLatest]] flat-buffer aggregate
    * hash-aggregates. The equivalence witness for the property below. */
  private def latestStructMax(values: DataFrame): DataFrame =
    values
      .groupBy(col("series_id"), col("valid_time"))
      .agg(max(struct(col("knowledge_time"), col("change_time"), col("value")))
        .getField("value").as("value"))
      .select(col("series_id"), col("valid_time"), col("value"))

  test("custom ArgMaxLatest hash-aggregate ≡ struct-max formulation (incl. NaN)") {
    for (seed <- 1L to 8L) {
      val df = toFrame(sample(seed))
      val viaCustom = graft.operators.ReadShapes.latest(df)
        .orderBy("series_id", "valid_time").collect().toSeq
      val viaStruct = latestStructMax(df)
        .orderBy("series_id", "valid_time").collect().toSeq
      assert(viaCustom == viaStruct, s"seed=$seed")
    }
    // plan shape: the custom aggregate must hash-aggregate
    val plan = graft.operators.ReadShapes.latest(toFrame(sample(1)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("SortAggregate"), plan)

    // null keys must not poison the buffer: nulls sort lowest, exactly
    // like struct ordering.
    val withNullKt = toFrame(sample(2))
      .withColumn("knowledge_time",
        when(col("value") > 0, col("knowledge_time")).otherwise(lit(null)))
    val a = graft.operators.ReadShapes.latest(withNullKt)
      .orderBy("series_id", "valid_time").collect().toSeq
    val b = latestStructMax(withNullKt)
      .orderBy("series_id", "valid_time").collect().toSeq
    assert(a == b, "null-kt divergence")
  }

  test("change collapse is idempotent") {
    for (seed <- 1L to 6L) {
      // Dedupe exact (sid,vt,kt,ct) keys first — a physical store can't
      // hold two rows at the same audit instant.
      val df = toFrame(sample(seed))
        .dropDuplicates("series_id", "valid_time", "knowledge_time", "change_time")
      val once = graft.operators.ReadShapes.overlappingWithChanges(df)
      val twice = graft.operators.ReadShapes.overlappingWithChanges(once)
      assert(
        once.orderBy("series_id", "valid_time", "knowledge_time", "change_time").collect().toSeq ==
          twice.orderBy("series_id", "valid_time", "knowledge_time", "change_time").collect().toSeq,
        s"seed=$seed")
    }
  }

  test("bucketedRangeJoin ≡ naive theta join on random intervals") {
    val probeGen = Gen.listOfN(60, Gen.zip(Gen.choose(1L, 1000L), Gen.choose(-20.0, 120.0)))
    val ivGen = Gen.listOfN(15, for {
      id <- Gen.choose(1L, 100L)
      lo <- Gen.choose(-10.0, 100.0)
      len <- Gen.choose(-2.0, 40.0) // negative → empty interval
    } yield (id, lo, lo + len))
    for (seed <- 1L to 5L) {
      val probe = probeGen.pureApply(Gen.Parameters.default, Seed(seed))
        .toDF("pid", "v")
      val ivs = ivGen.pureApply(Gen.Parameters.default, Seed(seed + 100))
        .toDF("iid", "lo", "hi")
      val got = graft.operators.RangeJoin.bucketedRangeJoin(probe, "v", ivs, "lo", "hi", 7.0)
        .select("pid", "v", "iid").as[(Long, Double, Long)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      val naive = probe.crossJoin(ivs)
        .filter(col("v") >= col("lo") && col("v") < col("hi"))
        .select("pid", "v", "iid").as[(Long, Double, Long)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got == naive, s"seed=$seed")
    }
  }

  test("movingStats moving_avg ≡ brute-force trailing mean") {
    val gen = Gen.listOfN(50, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0, 1000),
      Gen.choose(-50.0, 50.0)))
    for (seed <- 1L to 4L) {
      val rows = gen.pureApply(Gen.Parameters.default, Seed(seed))
        .zipWithIndex.map { case ((k, t, v), i) => (k, t * 10000 + i, v) } // unique ts per key
      val df = rows.map { case (k, t, v) => (k, new java.sql.Timestamp(t.toLong), v) }
        .toDF("series_id", "ts", "value")
      val got = graft.operators.TimeSeriesOps.movingStats(df, windowRows = 5)
        .select("series_id", "ts", "moving_avg")
        .as[(Long, java.sql.Timestamp, Double)].collect()
        .map { case (k, t, a) => (k, t.getTime, a) }
      val expect: Map[(Long, Long), BigDecimal] =
        rows.groupBy(_._1).flatMap { case (k, rs) =>
          val sorted = rs.sortBy(_._2)
          sorted.zipWithIndex.map { case ((_, t, _), i) =>
            val win = sorted.slice(math.max(0, i - 4), i + 1).map(_._3)
            (k, t.toLong) ->
              (win.map(BigDecimal(_).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum / win.length)
          }
        }
      got.foreach { case (k, t, a) =>
        val e = expect((k, t))
        assert(math.abs(a - e.toDouble) < 1e-4, s"seed=$seed key=$k ts=$t got=$a want=$e")
      }
    }
  }

  test("skip-unchanged is a no-op against an empty store") {
    for (seed <- 1L to 3L) {
      val df = toFrame(sample(seed))
      val kept = graft.operators.WritePipeline.filterUnchanged(
        df,
        graft.operators.WritePipeline.storedLatestFor(df.limit(0), graft.operators.UnchangedScope.ValidTime),
        graft.operators.UnchangedScope.ValidTime)
      assert(kept.count() == df.count(), s"seed=$seed")
    }
  }

  // ----- dedup generate-then-verify soundness -----

  private val docGen = for {
    n <- Gen.choose(4, 12)
    toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "f"))
  } yield toks.mkString(" ")

  private def corpus(seed: Long): List[(Long, String)] =
    Gen.listOfN(20, docGen).pureApply(Gen.Parameters.default, Seed(seed))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("minHashLshVerified pairs are SOUND: each appears in the exact Jaccard truth, same score") {
    // Banding may MISS pairs (that is its contract — recall < 1), but a
    // verified pair must carry the true Jaccard and clear the threshold.
    // Tiny vocab + short docs force heavy shingle collisions.
    for (seed <- 1L to 4L) {
      val docs = corpus(seed).toDF("doc_id", "text")
      val truth = graft.operators.Dedup
        .ngramJaccardPairs(docs, n = 2, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
      val verified = graft.operators.Dedup
        .minHashLshVerified(docs, n = 2, numHashes = 16, bands = 8, threshold = 0.3)
        .collect()
      verified.foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        assert(truth.contains(key), s"seed=$seed: $key not in exact truth")
        assert(truth(key) == r.getDouble(5), s"seed=$seed: jaccard mismatch at $key")
      }
    }
  }

  test("BPE merge fold ≡ reference greedy merge, exhaustive over {a,b}^≤5") {
    // driver-side reference: greedy left-to-right non-overlapping
    def refMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
    // every word over {a,b} of length 1..5 — covers runs (overlap
    // resolution), alternations, and boundary merges exhaustively
    val words = (1 to 5).flatMap(n =>
      Seq.fill(n)(Seq("a", "b")).foldLeft(Seq(Seq.empty[String])) {
        (acc, cs) => acc.flatMap(p => cs.map(p :+ _))
      }).map(_.mkString)
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    for {
      l <- Seq("a", "b"); r <- Seq("a", "b")
    } {
      val got = graft.operators.TextAnalysis.bpeEncode(docs, Seq((l, r)))
        .collect().map(row => row.getLong(0) -> row.getSeq[String](1)).toMap
      words.zipWithIndex.foreach { case (w, i) =>
        val expected = refMerge(w.map(_.toString), l, r)
        assert(got(i.toLong) == expected, s"word=$w merge=($l,$r)")
      }
    }
  }

  test("duplicateClusters labels equal BFS components on random pair graphs") {
    for (seed <- 1L to 4L) {
      val pairs = Gen.listOfN(15,
        for { a <- Gen.choose(0L, 11L); b <- Gen.choose(0L, 11L) if a != b } yield (a, b))
        .pureApply(Gen.Parameters.default, Seed(seed))
      if (pairs.nonEmpty) {
        // driver-side union-find ground truth
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        val expected = nodes.map(x => x -> find(x)).toMap
        val got = graft.operators.Dedup.duplicateClusters(pairs.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"seed=$seed")
      }
    }
  }

  test("packStats invariants hold on random corpora") {
    val sizeGen = Gen.listOfN(60, Gen.frequency(
      8 -> Gen.choose(0, 400), 1 -> Gen.const(0), 1 -> Gen.choose(2000, 5000)))
    for (seed <- 1L to 5L) {
      val sizes = sizeGen.pureApply(Gen.Parameters.default, Seed(seed))
      val df = sizes.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("doc_id", "n_tokens")
      val C = 1024L
      val stats = graft.operators.Curation.packStats(df, "doc_id", "n_tokens", C)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      val total = sizes.map(_.toLong).sum
      if (total == 0) assert(stats.isEmpty)
      else {
        // windows tile the stream: ids 0..ceil(total/C)-1, fill == C
        // everywhere but the last, sum of fills == total tokens
        val lastPack = (total - 1) / C
        assert(stats.map(_._1).toSeq == (0L to lastPack))
        assert(stats.map(_._4).sum == total, s"seed=$seed")
        assert(stats.dropRight(1).forall(_._4 == C), s"seed=$seed")
        // doc accounting: full docs are a subset of contributing docs,
        // and every nonzero doc contributes to >= 1 window
        assert(stats.forall(r => r._3 <= r._2), s"seed=$seed")
        assert(stats.map(_._2).sum >= sizes.count(_ > 0), s"seed=$seed")
      }
    }
  }

  test("nbClassify (kernel serving) ≡ driver-side reference on random corpora") {
    // The model-in-expression serving path against an independent
    // reference implementation of the SAME published contract
    // (multinomial NB, k = 0.5, 8dp-rounded logs, decimal(28,10)
    // per-term casts, 6dp HALF_UP final round, ties to the smallest
    // class) computed entirely on the driver — locks the decimal
    // arithmetic beyond what one fixed oracle corpus exercises.
    val words = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docGen = for {
      n <- Gen.choose(0, 8)
      toks <- Gen.listOfN(n, Gen.oneOf(words))
      label <- Gen.oneOf("u", "v", "w")
    } yield (toks.mkString(" "), label)
    val corpusGen = Gen.listOfN(30, docGen)
    for (seed <- 1L to 5L) {
      val rows = corpusGen.pureApply(Gen.Parameters.default, Seed(seed))
        .zipWithIndex.map { case ((t, l), i) => (i.toLong, t, l) }
      val df = rows.toDF("doc_id", "text", "source")
      val got = graft.operators.TextAnalysis.nbClassify(df)
        .select("doc_id", "predicted", "score")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap

      // reference: exact per published contract, hash32 token hashes
      def h(tok: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(tok.getBytes("UTF-8"))
        ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      }
      def r8(x: Double) = java.math.BigDecimal.valueOf(x)
        .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()
      def dec10(x: Double) = java.math.BigDecimal.valueOf(x)
        .setScale(10, java.math.RoundingMode.HALF_UP)
      val k = 0.5
      val toks = rows.map { case (id, t, l) =>
        (id, l, t.split(" ").filter(_.nonEmpty).map(h).toSeq) }
      val classes = toks.map(_._2).distinct.sorted
      val nDocs = toks.size
      val vocab = toks.flatMap(_._3).distinct.size
      val nc = classes.map(c => c -> toks.filter(_._2 == c).map(_._3.size.toLong).sum).toMap
      val pairCnt = toks.groupBy(_._2).map { case (c, ds) =>
        c -> ds.flatMap(_._3).groupBy(identity).map { case (w, xs) => w -> xs.size.toLong } }
      val prior = classes.map(c =>
        c -> dec10(r8(math.log(toks.count(_._2 == c).toDouble / nDocs)))).toMap
      val baseT = classes.map(c => c -> r8(math.log(k / (nc(c) + k * vocab)))).toMap
      toks.foreach { case (id, _, ws) =>
        val nd = ws.size.toLong
        val scored = classes.map { c =>
          val sum = ws.groupBy(identity).foldLeft(java.math.BigDecimal.ZERO) {
            case (acc, (w, occ)) =>
              pairCnt(c).get(w) match {
                case Some(cnt) =>
                  val delta = r8(math.log((cnt + k) / (nc(c) + k * vocab))) - baseT(c)
                  acc.add(dec10(occ.size * delta))
                case None => acc
              }
          }
          val score = sum.add(prior(c))
            .add(dec10(nd.toDouble * baseT(c)))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          (c, score)
        }
        // argmax: score desc, class asc on ties
        val best = scored.sortBy { case (c, sc) => (-sc, c) }.head
        assert(got(id) == ((best._1, best._2)),
          s"seed=$seed doc=$id got=${got(id)} want=$best scored=$scored")
      }
    }
  }

  test("HoltLinear kernel ≡ a naive Scala fold on randomized series (incl. nulls/extremes)") {
    // the kernel is the single copy of the recurrence every face
    // (query, streaming, SQL registration) leans on — pin it against
    // an independently written fold over generated series with nulls,
    // negatives, zeros, and magnitude extremes
    val valGen = org.scalacheck.Gen.frequency(
      6 -> org.scalacheck.Gen.choose(-1e6, 1e6),
      1 -> org.scalacheck.Gen.const(0.0),
      1 -> org.scalacheck.Gen.choose(-1e-9, 1e-9),
      1 -> org.scalacheck.Gen.choose(-1e15, 1e15))
    val seriesGen = for {
      n <- org.scalacheck.Gen.choose(0, 60)
      vs <- org.scalacheck.Gen.listOfN(n, org.scalacheck.Gen.option(valGen))
    } yield vs
    def naive(vs: Seq[Option[Double]], a: Double, b: Double): Option[(Double, Double, Double)] = {
      val xs = vs.flatten
      if (xs.isEmpty) None
      else {
        var level = xs.head; var trend = 0.0
        xs.tail.foreach { x =>
          val next = a * x + (1.0 - a) * (level + trend)
          trend = b * (next - level) + (1.0 - b) * trend
          level = next
        }
        Some((level, trend, level + trend))
      }
    }
    for (seed <- 1L to 8L; (a, b) <- Seq((0.5, 0.25), (0.3, 0.1), (1.0, 0.0))) {
      val vs = seriesGen.pureApply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(seed))
      val got = Seq(Tuple1(vs)).toDF("vals")
        .select(graft.functions.HoltLinear(col("vals"), a, b).as("h"))
        .select(col("h.level"), col("h.trend"), col("h.forecast"))
        .collect().head
      naive(vs, a, b) match {
        case None => assert(got.isNullAt(0), s"seed=$seed: empty/all-null must be null")
        case Some((l, t, f)) =>
          assert(got.getDouble(0) == l && got.getDouble(1) == t && got.getDouble(2) == f,
            s"seed=$seed a=$a b=$b: kernel ${got} != naive ($l, $t, $f)")
      }
    }
  }

  // ---- r14 window-plan reworks: the single-exchange window forms must
  // equal the original groupBy-stats + join-back formulations on
  // randomized frames (the one-off collect compares that justified the
  // swaps, pinned permanently). Duplicate timestamps, exact ties, and
  // repeated values are all in the generator's range.

  private val eventGen = for {
    uid <- Gen.choose(1L, 4L)
    t <- Gen.choose(0, 5)
    id <- Gen.choose(1L, 1000L)
    v <- Gen.frequency(9 -> Gen.choose(-50.0, 50.0), 1 -> Gen.const(0.0))
  } yield (uid, t, id, v)

  private def eventFrame(seed: Long): DataFrame =
    Gen.listOfN(60, eventGen).pureApply(Gen.Parameters.default, Seed(seed))
      .map { case (u, t, id, v) => (u, ts(f"2024-02-01T0$t%01d:00:00Z"), id, v) }
      .toDF("user_id", "ts", "event_id", "value")

  test("cusum window-mean formulation ≡ mean-groupBy + join-back") {
    for (seed <- 1L to 6L) {
      val df = eventFrame(seed)
      val got = graft.operators.TimeSeriesOps.cusum(df, threshold = 10.0)
        .orderBy("user_id", "ts", "event_id", "value").collect().toSeq
      val means = df.groupBy(col("user_id")).agg(
        round(sum(col("value").cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
          .cast("decimal(18,6)").as("__mean"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ref = df.join(means, "user_id")
        .withColumn("__dev",
          (col("value").cast("decimal(18,6)") - col("__mean")).cast("decimal(28,6)"))
        .withColumn("cusum", sum(col("__dev")).over(w).cast("decimal(38,6)"))
        .withColumn("drifted", abs(col("cusum")) > lit(10.0))
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          col("cusum").cast("double").as("cusum"), col("drifted"))
        .orderBy("user_id", "ts", "event_id", "value").collect().toSeq
      assert(got == ref, s"seed=$seed")
    }
  }

  test("madOutliers window formulation ≡ percentile-groupBy + join-backs") {
    for (seed <- 1L to 6L) {
      val df = eventFrame(seed)
      val got = graft.operators.TimeSeriesOps.madOutliers(df, nMads = 2.0)
        .orderBy("user_id", "ts", "value").collect().toSeq
      val meds = df.groupBy("user_id")
        .agg(round(percentile(col("value"), lit(0.5)), 6).as("med"))
      val withMed = df.join(meds, Seq("user_id"))
      val mads = withMed.groupBy("user_id")
        .agg(round(percentile(abs(col("value") - col("med")), lit(0.5)), 6).as("mad"))
      val ref = withMed.join(mads, Seq("user_id"))
        .withColumn("is_outlier",
          abs(col("value") - col("med")) > lit(2.0) * lit(1.4826) * col("mad"))
        .select(col("user_id"), col("ts"), col("value"),
          col("med"), col("mad"), col("is_outlier"))
        .orderBy("user_id", "ts", "value").collect().toSeq
      assert(got == ref, s"seed=$seed")
    }
  }

  test("cohortRetention offset-0 cohort_size ≡ explicit cohort-sizes join") {
    for (seed <- 1L to 6L) {
      val df = eventFrame(seed)
      val got = graft.operators.TimeSeriesOps.cohortRetention(df, maxWeeks = 3)
        .orderBy("cohort_week", "week_offset").collect().toSeq
      val weeks = df.select(col("user_id"), date_trunc("week", col("ts")).as("__w")).distinct()
      val cohort = weeks.groupBy(col("user_id")).agg(min(col("__w")).as("cohort_week"))
      val sizes = cohort.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_size"))
      val ref = weeks.join(cohort, "user_id")
        .withColumn("week_offset",
          (datediff(col("__w"), col("cohort_week")) / 7).cast("int"))
        .filter(col("week_offset") <= 3)
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, "cohort_week")
        .withColumn("retention",
          round(col("n_active").cast("double") / col("cohort_size"), 4))
        .orderBy("cohort_week", "week_offset").collect().toSeq
      assert(got == ref, s"seed=$seed")
    }
  }

  // ---- r15 bm25 rework: the zero-explode fold formulation (per-term
  // tf as scan-side array folds) must equal the r13 explode +
  // (doc, matching-term)-exchange formulation on randomized corpora —
  // repeated terms, absent terms, empty docs, and shared vocab all in
  // the generator's range.

  private val bmDocGen = for {
    id <- Gen.choose(1L, 500L)
    n <- Gen.choose(0, 12)
    toks <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "pad", "x"))
  } yield (id, toks.mkString(" "))

  test("bm25TopK fold formulation ≡ the explode formulation (randomized corpora)") {
    val k1 = 1.2; val b = 0.75
    val queryTerms = Seq("beta", "gamma", "x")
    for (seed <- 1L to 6L) {
      val docs = Gen.listOfN(30, bmDocGen).pureApply(Gen.Parameters.default, Seed(seed))
        .zipWithIndex.map { case ((_, t), i) => (i.toLong, t) } // unique ids
        .toDF("doc_id", "text")
      val got = graft.operators.TextAnalysis
        .bm25TopK(docs, queryTerms, k = 50, requireUniqueIds = false)
        .orderBy("doc_id").collect().toSeq
      // the r13 reference formulation, verbatim
      val withDl = docs
        .select(col("doc_id"), filter(split(col("text"), " "), t => t =!= "").as("__toks"))
        .withColumn("__dl", size(col("__toks")).cast("long"))
      val stats = withDl.agg(
        sum(when(col("__dl") > 0, lit(1L)).otherwise(lit(0L))).as("__n"),
        avg(when(col("__dl") > 0, col("__dl"))).as("__avgdl"))
      val tf = withDl
        .select(col("doc_id"), col("__dl"), explode(col("__toks")).as("__tok"))
        .filter(col("__tok").isin(queryTerms: _*))
        .groupBy(col("doc_id"), col("__dl"), col("__tok")).agg(count(lit(1)).as("__tf"))
      val dfreq = tf.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
      val idf = round(log(
        (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)) + lit(1.0)), 8)
      val contrib = round(
        idf * col("__tf") * lit(k1 + 1.0) /
          (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))), 8)
      val ref = tf.join(broadcast(dfreq), "__tok")
        .crossJoin(broadcast(stats))
        .withColumn("__contrib", contrib)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("matched_terms"),
          round(sum(col("__contrib").cast("decimal(28,10)")), 6)
            .cast("double").as("bm25"))
        .orderBy("doc_id").collect().toSeq
      assert(got == ref, s"seed=$seed\ngot=$got\nref=$ref")
    }
  }

  // ---- duplicate-id semantics (requireUniqueIds = false): rows with
  // the same id sum their PER-ROW saturated contributions and each
  // matching row counts toward df — pinned here against a pure-Scala
  // replay of the fold math, plus an explicit divergence check against
  // the merged-tf formulation (r13 merged duplicate (id, dl, term)
  // rows into one tf BEFORE the nonlinear saturation, so the two
  // disagree by construction; uniqueness is the default contract and
  // this is the documented opted-out behavior).

  test("bm25TopK duplicate ids: per-row contributions sum (diverges from merged-tf)") {
    val k1 = 1.2; val b = 0.75
    val terms = Seq("beta", "gamma")
    // every row has dl = 2 so avgdl is exactly 2.0 in ANY double
    // summation order — the replay below must match IEEE-for-IEEE
    val rows = Seq(
      (1L, "beta beta"), (1L, "beta gamma"), (2L, "beta pad"),
      (3L, "pad pad"), (4L, "gamma gamma"))
    val docs = rows.toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .bm25TopK(docs, terms, k = 50, requireUniqueIds = false)
      .orderBy("doc_id").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val HalfUp = BigDecimal.RoundingMode.HALF_UP
    def round8(x: Double) = BigDecimal(x).setScale(8, HalfUp).toDouble
    def dec10(x: Double) = BigDecimal(x).setScale(10, HalfUp)
    val toksOf = rows.map { case (id, t) => (id, t.split(" ").filter(_.nonEmpty).toSeq) }
    val n = toksOf.count(_._2.nonEmpty).toLong
    val avgdl = 2.0
    def tf(ts: Seq[String], term: String) = ts.count(_ == term).toLong
    def contrib(idfV: Double, tfv: Long, dl: Long): Double =
      round8(((idfV * tfv) * (k1 + 1.0)) /
        (tfv + (k1 * ((1.0 - b) + ((b * dl) / avgdl)))))

    // fold semantics: df counts ROWS with tf > 0
    val df = terms.map(t => t -> toksOf.count { case (_, ts) => tf(ts, t) > 0 }.toLong).toMap
    def idf(t: String) = round8(math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0))
    val expected = toksOf.filter { case (_, ts) => terms.exists(t => tf(ts, t) > 0) }
      .groupBy(_._1).toSeq.map { case (id, rs) =>
        val matched = rs.map { case (_, ts) => terms.count(t => tf(ts, t) > 0).toLong }.sum
        val sumDec = rs.flatMap { case (_, ts) =>
          terms.map(t => dec10(contrib(idf(t), tf(ts, t), ts.size.toLong))) }.sum
        (id, matched, sumDec.setScale(6, HalfUp).toDouble)
      }.sortBy(_._1)
    assert(got == expected, s"fold duplicate-id semantics\ngot=$got\nexpected=$expected")

    // merged-tf formulation on the same corpus: id 1's (dl=2) rows
    // merge to tf(beta)=3, tf(gamma)=1 and df counts merged groups
    val groups = toksOf.filter(_._2.nonEmpty)
      .groupBy { case (id, ts) => (id, ts.size.toLong) }
      .map { case ((id, dl), rs) =>
        (id, dl, terms.map(t => t -> rs.map { case (_, ts) => tf(ts, t) }.sum).toMap) }
      .toSeq
    val dfM = terms.map(t => t -> groups.count(_._3(t) > 0).toLong).toMap
    def idfM(t: String) = round8(math.log((n - dfM(t) + 0.5) / (dfM(t) + 0.5) + 1.0))
    val merged1 = groups.find(_._1 == 1L).get
    val merged1Score = terms.map(t =>
        dec10(contrib(idfM(t), merged1._3(t), merged1._2)))
      .sum.setScale(6, HalfUp).toDouble
    val fold1Score = expected.find(_._1 == 1L).get._3
    assert(fold1Score != merged1Score,
      s"corpus chosen to diverge: fold=$fold1Score merged=$merged1Score")
  }

  test("videoDHash ≡ independent replay across grids and strides (randomized)") {
    import spark.implicits._
    // every legal 64-bit grid × stride 1..3, pinned against a from-
    // scratch replay (formula pixels → sampled gray sums → integer
    // box cells → adjacent bits → two 32-bit halves) — generalizes
    // the OperatorsSpec 9×8/stride-2 pin to the whole packing space
    val ids = (0L until 12L).toDF("asset_id")
    val assets = graft.operators.Multimodal.renderGif(ids, 16, 16, nFrames = 7)
    def ref(a: Long, stride: Int, hw: Int, hh: Int): (Long, Long) = {
      val sum = Array.ofDim[Long](16 * 16)
      for (f <- 0 until 7 by stride; y <- 0 until 16; x <- 0 until 16)
        sum(y * 16 + x) += graft.operators.Multimodal.framePixel(a, f, x, y)
      val cols = hw + 1
      val avg = Array.ofDim[Long](cols, hh)
      for (ci <- 0 until cols; cj <- 0 until hh) {
        val (x0, x1) = (ci * 16 / cols, (ci + 1) * 16 / cols)
        val (y0, y1) = (cj * 16 / hh, (cj + 1) * 16 / hh)
        val cells = for (y <- y0 until y1; x <- x0 until x1) yield sum(y * 16 + x)
        avg(ci)(cj) = if (cells.isEmpty) 0L else cells.sum / cells.size
      }
      var hi = 0L; var lo = 0L
      for (j <- 0 until hh; i <- 0 until hw; if avg(i)(j) < avg(i + 1)(j)) {
        val bit = 1L << ((j % (hh / 2)) * hw + i)
        if (j < hh / 2) hi |= bit else lo |= bit
      }
      (hi, lo)
    }
    for ((hw, hh) <- Seq((8, 8), (16, 4), (4, 16), (32, 2)); stride <- 1 to 3) {
      val got = graft.operators.Multimodal.videoDHash(assets, stride, hw, hh)
        .orderBy("asset_id").as[(Long, Long, Long)].collect().toSeq
      val expect = (0L until 12L).map { a =>
        val (hi, lo) = ref(a, stride, hw, hh); (a, hi, lo) }
      assert(got == expect, s"grid ${hw}x$hh stride $stride")
    }
    // illegal grids reject loudly: odd hh, wrong bit total
    intercept[IllegalArgumentException] {
      graft.operators.Multimodal.videoDHash(assets, 1, 64, 1)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Multimodal.videoDHash(assets, 1, 8, 4)
    }
  }

  test("classTfIdf folded-ng formulation ≡ the unfolded two-scan reference (randomized)") {
    // r18: the ng term folded into the main scan via explode_outer +
    // lazy-checkpointed tf + collected literal must be value-identical
    // to the pre-r18 in-plan broadcast formulation on corpora that
    // exercise every ng edge: token-free docs (empty text), null
    // texts, null groups (excluded from ng), and groups consisting
    // ENTIRELY of token-free docs (counted in ng, absent from output).
    import spark.implicits._
    val rnd = new scala.util.Random(18)
    for (trial <- 0 until 3) {
      val docs = (0 until 120).map { i =>
        val g: String =
          if (i % 17 == 0) null
          else if (i % 11 == 0) "emptygroup" // only ever token-free docs
          else s"g${rnd.nextInt(6)}"
        val t: String =
          if (g == "emptygroup" || i % 13 == 0) ""
          else if (i % 19 == 0) null
          else (0 until 3 + rnd.nextInt(10)).map(_ => s"w${rnd.nextInt(25)}").mkString(" ")
        (i.toLong, g, t)
      }.toDF("doc_id", "source", "text")
      val a = graft.operators.TextAnalysis.classTfIdf(docs, "source", topK = 4)
        .orderBy("group", "rank").collect().map(_.toString).toSeq
      val b = Witnesses.classTfIdfUnfolded(docs, "source", topK = 4)
        .orderBy("group", "rank").collect().map(_.toString).toSeq
      assert(a == b, s"trial $trial: folded != unfolded\na=$a\nb=$b")
      assert(a.nonEmpty, s"trial $trial: degenerate corpus")
    }
  }

  test("quantileGateAudit fused formulation ≡ the three-leg split reference (randomized)") {
    // r18 optimization round: the fused audit (one vocab aggregate
    // for totals + thresholds, one post-window aggregate for both
    // gate counts) must be value-identical to the totals ⋈ exact ⋈
    // approx three-leg form on frames that exercise the edges: null
    // strata (dropped by the split form's inner joins, dropped by the
    // fused form's broadcast join), single-row strata, duplicate
    // scores (ties — the >= cut keeps the whole run in both forms),
    // and strata smaller than the sketch accuracy (exact quantiles).
    import spark.implicits._
    val rnd = new scala.util.Random(181)
    for (trial <- 0 until 3) {
      val rows = (0 until 200).map { i =>
        val s: String =
          if (i % 23 == 0) null
          else if (i % 41 == 0) "solo" + i // single-row strata
          else "s" + rnd.nextInt(5)
        // coarse scores force tie runs at the threshold value
        val score: Long = rnd.nextInt(12).toLong
        (i.toLong, s, score)
      }.toDF("doc_id", "stratum", "score")
      for (q <- Seq(0.3, 1.0); acc <- Seq(3, 1000)) {
        val a = graft.operators.Curation
          .quantileGateAudit(rows, "stratum", "score", "doc_id", q, acc)
          .orderBy("stratum").collect().map(_.toString).toSeq
        val b = Witnesses
          .quantileGateAuditSplit(rows, "stratum", "score", "doc_id", q, acc)
          .orderBy("stratum").collect().map(_.toString).toSeq
        assert(a == b, s"trial $trial q=$q acc=$acc: fused != split\na=$a\nb=$b")
        assert(a.nonEmpty, s"trial $trial: degenerate frame")
      }
    }
  }
}
