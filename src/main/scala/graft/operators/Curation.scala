package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation by global priority: running totals over a total order
  * WITHOUT a single-partition window.
  *
  * The naive formulation — `sum(v) OVER (ORDER BY priority DESC)` — moves
  * the entire dataset to one partition (Spark logs "No Partition Defined
  * for Window operation"); at 100 TB that one task is the job. This is the
  * classic distributed prefix-sum instead:
  *
  *  1. one scan fetches approximate quantile boundaries of the priority
  *     column; they become LITERALS in the plan, so bucket assignment is
  *     deterministic across jobs and task retries (no spark_partition_id /
  *     range-sampler dependence);
  *  2. rows bucket by those thresholds, first-match-wins on `>=`, so ties
  *     share a bucket and bucket order respects the global (priority DESC)
  *     order — tie-break columns only ever matter WITHIN a bucket;
  *  3. per-bucket totals (one row per bucket) cumulate into per-bucket
  *     starting offsets via a window over the O(buckets) partials frame,
  *     rejoined by broadcast — no driver collect, no extra action;
  *  4. running total = bucket offset + a window PARTITIONED by bucket.
  *
  * Each window partition holds ~1/buckets of the rows; size `buckets` so a
  * bucket fits an executor (at 100 TB: thousands). Skew caveat: a single
  * priority value spanning a quantile range collapses into one bucket —
  * acceptable for continuous scores; for few-valued priorities add a
  * higher-cardinality secondary score.
  */
object Curation {

  /** `out` = running sum of `valueCol` over the global order
    * (`priorityCol` DESC, `tieCol` ASC) — exactly equal to the
    * single-partition window's result, computed scalably.
    *
    * `fixedThresholds`: when the priority domain is known (e.g. a score
    * in [0,1]), pass explicit bucket boundaries and the quantile
    * estimation pass — a full scan — is skipped. Bucket BALANCE then
    * depends on the score distribution, but correctness never does.
    *
    * `materialize`: whether to localCheckpoint the input. The operator
    * evaluates the input MULTIPLE times (the optional quantile scan,
    * plus the partials and window branches of the main job), so the
    * default materializes once — that also pins a single snapshot of
    * the input, which is REQUIRED for correctness if the input is
    * nondeterministic (sample(), rand()-derived priority, a source
    * mutating between jobs): offsets from one evaluation added to
    * windows over another would corrupt the running totals silently.
    * Pass `Some(false)` only for a deterministic input cheap enough to
    * evaluate twice (with `fixedThresholds` there is no quantile scan,
    * so the whole operator is then ONE job).
    *
    * `fixedWidth` (r19): FIXED-WIDTH range buckets — `bucket =
    * floor(−priority / fixedWidth)` — the zero-knowledge sibling of
    * `fixedThresholds` for priorities whose DENSITY is known even
    * though their range is not (a dense id order, a bounded score).
    * Any positive width is CORRECT (bucket boundaries never affect the
    * running totals, only balance); each bucket holds at most
    * `fixedWidth` distinct priority values, so per-bucket sort memory
    * is width-bounded at every scale while the bucket COUNT grows with
    * the data — the scale-adaptive shape, with no quantile scan and no
    * caller-supplied boundary list. Null priorities bucket to
    * `Long.MaxValue`, preserving DESC NULLS LAST; NaN priorities bucket
    * to `Long.MinValue`, because Spark orders NaN above every double,
    * so DESC puts them first. Takes precedence
    * over `fixedThresholds`/`buckets` when positive. */
  def runningTotalByPriority(df: DataFrame, priorityCol: String, tieCol: String,
      valueCol: String, out: String, buckets: Int = 0,
      fixedThresholds: Array[Double] = Array.empty,
      materialize: Option[Boolean] = None,
      fixedWidth: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(Seq(ByteType, ShortType, IntegerType, LongType)
      .contains(df.schema(valueCol).dataType),
      s"runningTotalByPriority needs an integral value column, got " +
        df.schema(valueCol).dataType.simpleString)
    // localCheckpoint blocks are reclaimed by the ContextCleaner when the
    // result is dropped; callers on clusters with dynamic allocation
    // (where checkpoint blocks can die with executors) should pass an
    // already-persisted input, which we use as-is.
    val wantMaterialize = materialize.getOrElse(true)
    val input =
      if (wantMaterialize &&
        df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.localCheckpoint()
      else df
    val spark = df.sparkSession
    val nBuckets =
      if (buckets > 0) buckets
      else spark.conf.get("spark.sql.shuffle.partitions", "200").toInt

    val p = col(priorityCol)
    // Descending thresholds from ascending quantiles; duplicates (heavy
    // values) just leave some buckets empty. Nulls are ignored by
    // approxQuantile and fall through to the last bucket, matching
    // DESC NULLS LAST global ordering. fixedWidth replaces the whole
    // threshold apparatus with one monotone expression: floor(−p / w)
    // is non-decreasing as p descends, so range-bucket contiguity —
    // the only property the offsets fold needs — holds by
    // construction, nulls take the Long.MaxValue bucket (DESC
    // NULLS LAST: after every real value), and NaN takes the
    // Long.MinValue bucket (NaN sorts above every double; floor(NaN)
    // would cast to bucket 0).
    val bucket =
      if (fixedWidth > 0.0)
        when(p.isNull, lit(Long.MaxValue))
          .when(isnan(p), lit(Long.MinValue))
          .otherwise(floor(-p / lit(fixedWidth)).cast("long"))
      else {
        val thresholds =
          if (fixedThresholds.nonEmpty) fixedThresholds.distinct.sorted(Ordering[Double].reverse)
          else {
            val probes = (1 until nBuckets).map(i => i.toDouble / nBuckets).toArray
            input.stat.approxQuantile(priorityCol, probes, 0.001)
              .distinct.sorted(Ordering[Double].reverse)
          }
        thresholds.zipWithIndex
          .foldRight(lit(thresholds.length): Column) { case ((t, i), acc) =>
            when(p >= t, lit(i)).otherwise(acc)
          }
      }
    val bucketed = input.withColumn("__bucket", bucket)

    // Within-bucket running sum FIRST: both remaining pieces (the
    // per-bucket totals and the final offset add) then hang off the
    // SAME bucket-partitioned exchange, so ReuseExchange evaluates the
    // input and its shuffle exactly once even when `materialize` is
    // false — the offsets side is a reused-exchange read, not a second
    // evaluation of the (possibly expensive) input.
    val run = Iterator.from(0).map(i => s"__run$i")
      .find(n => !df.columns.contains(n)).get
    val w = Window.partitionBy(col("__bucket"))
      .orderBy(p.desc, col(tieCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = bucketed.withColumn(run, sum(col(valueCol)).over(w))

    // One row per bucket; the bucket-offset cumulation is a window over
    // THIS O(buckets) frame (thousands of rows at most), not over the
    // data — so the whole prefix sum needs no driver-side collect and
    // no extra action for the offsets.
    // coalesce: an all-null bucket sums to null and must contribute 0,
    // exactly as the naive window's sum would skip the nulls.
    val partials = windowed.groupBy("__bucket")
      .agg(coalesce(sum(col(valueCol)).cast("long"), lit(0L)).as("__total"))
    // Single-partition window — intentionally: it runs over `buckets`
    // rows, not data rows, so one partition is O(buckets) regardless of
    // input volume. The partition key is a constant DERIVED from a
    // column (`__bucket * 0`): a literal key gets constant-folded out
    // of the partition spec entirely, which both re-triggers WindowExec's
    // all-data-to-one-partition warning (a false alarm here) and loses
    // the documentation value of an explicit single-group key. The
    // derived form is not foldable (Catalyst cannot assume `__bucket`
    // is non-null), so it survives optimization; `__bucket` is in fact
    // never null, so every row lands in the one intended group.
    val offW = Window.partitionBy(col("__bucket") * lit(0))
      .orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offDf = partials
      .withColumn("__offset", coalesce(sum(col("__total")).over(offW), lit(0L)))
      .select(col("__bucket"), col("__offset"))

    windowed
      .join(broadcast(offDf), "__bucket")
      .withColumn(out, col("__offset") + col(run))
      .drop("__bucket", "__offset", run)
  }

  /** Sequence packing for training: concatenate documents in `orderCol`
    * order into one logical token stream and cut it into fixed
    * `packTokens`-sized context windows. Emits per doc its global
    * `token_start` offset, the window it starts in (`pack_id`), and its
    * offset within that window — the assignment a pretraining data
    * loader needs to materialize packed sequences (documents may span a
    * window boundary, the standard "chunked packing" regime).
    *
    * The global running offset is [[runningTotalByPriority]]'s
    * distributed prefix sum over ASCENDING `orderCol` (priority =
    * −order), so there is no single-partition window: the one shape that
    * dies first at 100 TB in naive packing implementations.
    *
    * `fixedThresholds` (optional) are bucket boundaries in `orderCol`
    * units; they skip the quantile-estimation scan exactly as in
    * [[runningTotalByPriority]] (the wrapper negates them internally). */
  def packSequences(df: DataFrame, orderCol: String, tokenCol: String,
      packTokens: Long, buckets: Int = 0,
      fixedThresholds: Array[Double] = Array.empty,
      materialize: Option[Boolean] = None,
      fixedWidth: Double = 0.0): DataFrame = {
    require(packTokens > 0, "packTokens must be positive")
    val negOrd = "__neg_order"
    val running = "__running_tokens"
    // fixedWidth is in orderCol units and passes through unchanged:
    // priority = −order, so floor(−p / w) = floor(order / w) — each
    // bucket spans `fixedWidth` consecutive order values
    runningTotalByPriority(
      df.withColumn(negOrd, -col(orderCol).cast("double")),
      negOrd, orderCol, tokenCol, running, buckets,
      fixedThresholds.map(-_), materialize, fixedWidth)
      .withColumn("token_start", (col(running) - col(tokenCol)).cast("long"))
      .withColumn("pack_id", expr(s"token_start div ${packTokens}L"))
      .withColumn("pack_offset", pmod(col("token_start"), lit(packTokens)))
      .drop(negOrd, running)
  }

  /** Per-pack composition audit of [[packSequences]]' assignment: for
    * every context window, how many documents contribute tokens to it
    * (`n_docs`), how many sit entirely inside it (`n_full_docs` — the
    * rest cross a window boundary and a loss-masking data loader
    * treats them specially), and the token fill (`n_tokens`, equal to
    * `packTokens` everywhere but the final window). The audit a
    * pretraining loader runs before materializing packed sequences.
    *
    * Scale shape: [[packSequences]]' distributed prefix sum, then each
    * doc explodes to the windows it SPANS — fan-out `n/packTokens + 1`
    * per doc, bounded by construction — and one pack-keyed aggregate.
    * Zero-token docs contribute to no window and are dropped. */
  def packStats(df: DataFrame, orderCol: String, tokenCol: String,
      packTokens: Long, buckets: Int = 0,
      fixedThresholds: Array[Double] = Array.empty,
      materialize: Option[Boolean] = None,
      fixedWidth: Double = 0.0): DataFrame = {
    val packed = packSequences(df, orderCol, tokenCol, packTokens, buckets,
      fixedThresholds, materialize, fixedWidth)
      .filter(col(tokenCol) > 0)
      .select(col(orderCol), col("token_start"),
        col(tokenCol).cast("long").as("__n"),
        // __p0 IS packSequences' own pack_id — reusing it (rather than
        // re-deriving the division) keeps the audit tied to whatever
        // assignment the packing actually made
        col("pack_id").as("__p0"))
      .withColumn("__p1", expr(s"(token_start + __n - 1) div ${packTokens}L"))
    packed
      .select(col("token_start"), col("__n"), col("__p0"), col("__p1"),
        explode(sequence(col("__p0"), col("__p1"))).as("pack_id"))
      .withColumn("__in_pack",
        least((col("pack_id") + 1) * packTokens, col("token_start") + col("__n"))
          - greatest(col("pack_id") * packTokens, col("token_start")))
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__p0") === col("__p1"), 1L).otherwise(0L)).as("n_full_docs"),
        sum(col("__in_pack")).as("n_tokens"))
  }

  /** Greedy token-budget cut: keep the highest-priority prefix whose
    * cumulative `valueCol` stays within `budget`. */
  def budgetCut(df: DataFrame, priorityCol: String, tieCol: String,
      valueCol: String, budget: Long, buckets: Int = 0,
      fixedThresholds: Array[Double] = Array.empty,
      materialize: Option[Boolean] = None): DataFrame =
    runningTotalByPriority(df, priorityCol, tieCol, valueCol, "running_total", buckets,
      fixedThresholds, materialize)
      .filter(col("running_total") <= budget)

  /** Per-stratum quantile gate — "keep the top `q` fraction of each
    * language/domain by quality": rows whose `percent_rank` within
    * their stratum (ordered `scoreCol` DESC, `tieCol` ASC — the tie
    * column makes the order total, so the kept set is deterministic)
    * is ≤ `q`. The standard per-stratum curation step between quality
    * scoring and mixture weighting.
    *
    * Scale shape: ONE window partitioned by stratum. Strata are
    * usually few (languages, domains), so each partition is
    * corpus/|strata|-sized — fine up to the point where one stratum
    * outgrows an executor's sort budget; past that, use
    * [[keepTopQuantileApprox]], which gates on pre-computed per-stratum
    * score thresholds and never sorts a stratum.
    */
  def keepTopQuantile(df: DataFrame, stratumCol: String, scoreCol: String,
      tieCol: String, q: Double): DataFrame = {
    require(q > 0.0 && q <= 1.0, "q must be in (0, 1]")
    // fresh internal name: a caller whose frame already carries __pr
    // must not have it clobbered and dropped
    val pr = Iterator.from(0).map(i => s"__pr$i")
      .find(n => !df.columns.contains(n)).get
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    df.withColumn(pr, percent_rank().over(w))
      .filter(col(pr) <= q)
      .drop(pr)
  }

  /** Threshold-based per-stratum gate — [[keepTopQuantile]]'s scale
    * path, for when ONE stratum outgrows an executor's sort budget
    * (with ~10 languages at 100 TB, every stratum is in that regime).
    *
    * One aggregate pass computes each stratum's `(1−q)` score quantile
    * (`percentile_approx`, GK sketch: constant state per stratum, map-
    * side partials, NO per-stratum sort); the gate is then a broadcast
    * join of the O(|strata|) threshold frame plus a plain
    * `score >= threshold` filter — embarrassingly parallel, window-free,
    * and indifferent to stratum size.
    *
    * Approximate where [[keepTopQuantile]] is exact, in two documented
    * ways: (a) the cut point carries `percentile_approx`'s rank error
    * (≤ `1/accuracy` of the stratum; exact when a stratum has fewer
    * than `accuracy` rows), and (b) the gate keeps the ENTIRE tie run
    * at the threshold value — a score-value cut cannot see a tie-break
    * column. Callers needing a deterministic kept SET under ties should
    * gate on a tie-free (total-order-embedding) score. Null scores are
    * dropped (they fail `>=`), consistent with the exact gate's
    * DESC-NULLS-LAST order for q < 1. */
  def keepTopQuantileApprox(df: DataFrame, stratumCol: String, scoreCol: String,
      q: Double, accuracy: Int = 10000): DataFrame = {
    require(q > 0.0 && q <= 1.0, "q must be in (0, 1]")
    require(accuracy >= 1, "accuracy must be positive")
    val thr = Iterator.from(0).map(i => s"__thr$i")
      .find(n => !df.columns.contains(n)).get
    val cuts = df.groupBy(stratumCol)
      .agg(percentile_approx(col(scoreCol), lit(1.0 - q), lit(accuracy)).as(thr))
    df.join(broadcast(cuts), Seq(stratumCol))
      .filter(col(scoreCol) >= col(thr))
      .drop(thr)
  }

  /** Audit frame comparing the exact and the approx per-stratum gate
    * on the SAME data: per stratum — total rows, the exact gate's
    * kept count, and a boolean asserting the approx gate's kept count
    * landed inside a `boundFactor`× rank-error corridor of the exact
    * one. Deterministic on fixed data (given a tie-embedding
    * `scoreCol`), so an oracle can hash-match literal TRUEs and a
    * violated bound fails a driver check.
    *
    * Plan shape (r18 fused form, promoted over the three-leg
    * original by interleaved A/B — min 0.187 vs 0.340, med 0.207 vs
    * 0.362 at sf0.1): ONE vocab-sized aggregate computes totals AND
    * the `percentile_approx` thresholds (they share the stratum
    * exchange the split form paid twice), and both gate counts
    * compute in ONE aggregate on the window's own partitioning — the
    * broadcast-joined threshold turns the approx gate into a
    * `count(score >= thr)` beside the exact gate's
    * `count(pr <= q)`, so no second corpus pass and no join of three
    * per-stratum legs. 2 source scans + 2 corpus exchanges vs the
    * split form's 3 + 3; value equality with the split form is
    * spec-pinned (PropertiesSpec) and
    * was collect-compared at sf0.001/sf0.01 before promotion.
    *
    * Same sketch, same cut: the thresholds are the identical
    * `percentile_approx(1 − q, accuracy)` values
    * [[keepTopQuantileApprox]] gates on, and `>=` keeps the entire
    * tie run exactly as that gate does. */
  def quantileGateAudit(df: DataFrame, stratumCol: String, scoreCol: String,
      tieCol: String, q: Double, accuracy: Int,
      boundFactor: Double = 5.0): DataFrame = {
    require(q > 0.0 && q <= 1.0, "q must be in (0, 1]")
    require(accuracy >= 1, "accuracy must be positive")
    val cuts = df.groupBy(stratumCol).agg(
      count(lit(1)).as("n_rows"),
      percentile_approx(col(scoreCol), lit(1.0 - q), lit(accuracy)).as("__thr"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    df.withColumn("__pr", percent_rank().over(w))
      .join(broadcast(cuts), Seq(stratumCol))
      .groupBy(stratumCol).agg(
        first(col("n_rows")).as("n_rows"),
        count(when(col("__pr") <= q, 1)).as("n_exact"),
        count(when(col(scoreCol) >= col("__thr"), 1)).as("__n_approx"))
      .select(col(stratumCol), col("n_rows"), col("n_exact"),
        (abs(col("__n_approx") - col("n_exact"))
          <= greatest(ceil(col("n_rows") * lit(boundFactor) / lit(accuracy)),
            lit(2L))).as("within_bound"))
  }

  /** Quantile normalization of a score WITHIN each stratum: the
    * calibrated value is the score's percent-rank among its own
    * stratum, so scores become comparable ACROSS strata — a 0.8
    * English quality and a 0.8 German quality sit at different
    * percentiles of their own distributions, and any cross-language
    * gate on the raw score silently applies different bars. The
    * standard fix before mixing per-language quality signals into one
    * curation policy.
    *
    * Ties share a rank (percent_rank semantics), so the result is
    * deterministic with no tiebreak column; one window exchange per
    * stratum. Output: every input row + `calibrated` ∈ [0, 1] (6dp;
    * a single-row stratum calibrates to 0.0). */
  def quantileNormalize(df: DataFrame, stratumCol: String,
      scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col(scoreCol))
    df.withColumn("calibrated", round(percent_rank().over(w), 6))
  }
}
