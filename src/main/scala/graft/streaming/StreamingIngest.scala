package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.util.sketch.BloomFilter

import graft.TimeDb
import graft.functions.BloomProbe
import graft.operators.TextAnalysis
import graft.sources.IndexStore

/** Structured-Streaming ingest into the series store (SURVEY.md §7.6,
  * optional — the reference is batch-only per §2.9, so this is the
  * Spark-native extension of the same write pipeline).
  *
  * The batch write path is reused verbatim: `foreachBatch` hands each
  * micro-batch to [[graft.TimeDb.write]] (validation, default stamping,
  * the one-pass cache fill and the two concurrent insert lanes) —
  * identical layout and semantics to batch writes, so readers can't tell
  * ingest modes apart. Late/corrected data needs no special machinery:
  * a late row is just a row with a larger change_time, resolved
  * relationally by the read shapes (docs/sdk.rst "Append corrections,
  * don't UPDATE").
  */
object StreamingIngest {

  /** Wire a streaming frame of (series_id, valid_time, value[, ...]) into
    * the store at `basePath`. Caller starts/stops the returned writer.
    *
    * `compactEvery` > 0 folds small-file maintenance into the ingest
    * loop: every N micro-batches the touched store runs
    * [[graft.sources.SeriesStore.compactPartitions]] +
    * [[graft.sources.SeriesStore.vacuum]] from the
    * SAME foreachBatch thread — micro-batches execute sequentially, so
    * the single-writer contract holds by construction, and the
    * manifest-snapshot commits mean concurrent READERS are unaffected.
    * This caps the file count a day of 1-minute batches would otherwise
    * accumulate, without an external maintenance job.
    *
    * ==Delivery semantics==
    * Callers pass `option("checkpointLocation", …)` to `start()`; the
    * engine then tracks source offsets in the checkpoint and a clean
    * stop + restart continues from the last COMMITTED micro-batch — no
    * batch is reprocessed, no data is skipped (ApiDrive drives this
    * end-to-end). Across a CRASH the guarantee is at-least-once per
    * micro-batch: offsets commit after `foreachBatch` returns, and the
    * store append is not idempotent, so a crash between
    * [[graft.sources.SeriesStore.appendValues]] and the offset commit replays that
    * one batch on restart. Consumers needing exactly-once under crash
    * pair the ingest with the skip-unchanged digest discipline
    * ([[graft.operators.WritePipeline.filterUnchanged]]) or read
    * through the latest-wins collapse, which absorbs the replay. */
  def writer(
      stream: DataFrame,
      basePath: String,
      retention: Option[String] = None,
      compactEvery: Long = 0L,
      compactMaxFiles: Int = 4): DataStreamWriter[Row] = {
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val db = new TimeDb(batch.sparkSession, basePath)
        // An empty micro-batch appends nothing but still reaches the
        // maintenance check: a periodic data cadence could align empties
        // with every multiple of compactEvery.
        db.write(batch, retention = retention)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
          db.compact(compactMaxFiles)
          // Default age floor on purpose: with manifests committed every
          // batch, the retained-manifest tail spans well under one
          // compaction cycle, so the age floor is what actually carries
          // the reader grace window here (physical cleanup lags ~15 min
          // behind the logical swap — files are already superseded, the
          // delay costs nothing).
          db.vacuum()
          ()
        }
      }
  }

  /** Streaming exact-dedup: drop rows whose key columns repeat within
    * the watermark horizon — the streaming face of `Dedup.exact`, with
    * state bounded by the horizon instead of the stream's history
    * (`dropDuplicatesWithinWatermark` evicts each key's state once the
    * watermark passes it). The standard guard in front of an
    * at-least-once ingest source. */
  def dedupStream(stream: DataFrame, keyCols: Seq[String],
      eventTimeCol: String, delay: String): DataFrame =
    stream
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming corpus ingestion with FULL-HISTORY dedup — the shape for
    * "never re-accept content ever seen", where
    * [[dedupStream]]'s watermark-bounded state cannot apply (no event
    * time; a duplicate may arrive months later). State lives in the
    * STORE, not the streaming state store: a parquet digest index at
    * `indexPath`, so state size is bounded by the corpus (not executor
    * memory) and survives restarts by construction.
    *
    * Per micro-batch ([[dedupBatch]]):
    *  1. within-batch winners — deterministic min-`idCol` row per
    *     digest (a replayed batch picks the SAME rows);
    *  2. cross-batch gate — anti-join against the index, or the
    *     [[graft.operators.Dedup.incrementalNewBloom]] routing when
    *     `bloomExpectedDigests` is set (definitely-new rows skip the
    *     join; exact either way);
    *  3. accepted rows land at `outPath` and their digests at
    *     `indexPath`, each a levelled [[graft.sources.IndexStore]] whose
    *     level is the micro-batch id (`batch_id=<id>` leaves): each is
    *     ONE [[graft.sources.IndexStore.writeLevel]] commit, sink first;
    *     the index level is read back from the committed sink level (a
    *     manifest read, so the gate runs once per batch) and is skipped
    *     when that level holds no file. A replayed batch replaces
    *     exactly its own level, and the gate
    *     reads the index levels OTHER than the current batch id, so
    *     replay reproduces the original decision instead of rejecting
    *     everything it already accepted (exactly-once output from an
    *     at-least-once trigger; a crash between the two commits is
    *     mended by that replay). A store written as plain `batch_id`
    *     partition directories is adopted in place by its next batch.
    *
    * Scale note: the anti-join shuffles (batch ∪ index-digests) per
    * batch — O(index) work each trigger. At a history where that scan
    * dominates, pass `bloomExpectedDigests` sized to the INDEX: the
    * per-batch cost becomes one index scan (filter build, no shuffle)
    * plus a join on the ~fpp sliver. With `incrementalBloom` the
    * filter build's per-batch index scan ALSO goes away: the merged
    * filter of every prior batch persists beside the index as a
    * version chain — the levelled sibling store `<indexPath>_bloom`,
    * one serialized filter per `batch_id=<id>` level — and each batch
    * reads the highest version BELOW its own id on the driver — the
    * same prior-state-only discipline as the index read, so a replayed
    * batch routes on exactly the state it originally saw — ORs in its
    * own accepted digests (read back from the just-committed index
    * level, same filter sizing so the sketches merge), and commits the
    * new version in ONE manifest that drops every version but the one
    * it read — the one-deep replay window foreachBatch guarantees.
    * Per-trigger cost at a billion-digest history: O(filter bytes) +
    * the ~fpp sliver verify, with the full index touched only by that
    * sliver's anti-join. Exactness is untouched: the filter has no
    * false negatives by construction (induction: v0 = batch 0's
    * digests; vN = v(N−1) ∪ accepted(N); an empty chain bootstraps
    * from one prior-only index scan), and false positives fall to the
    * same verify join as the per-batch-built filter. */
  def dedupIngest(stream: DataFrame, outPath: String, indexPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      bloomExpectedDigests: Option[Long] = None,
      incrementalBloom: Boolean = false): DataStreamWriter[Row] = {
    require(!incrementalBloom || bloomExpectedDigests.nonEmpty,
      "incrementalBloom requires bloomExpectedDigests (the shared filter sizing)")
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupBatch(batch, batchId, outPath, indexPath, idCol, textCol,
          bloomExpectedDigests, incrementalBloom)
      }
  }

  /** One [[dedupIngest]] micro-batch: the body of its `foreachBatch`. */
  private[graft] def dedupBatch(batch: DataFrame, batchId: Long, outPath: String,
      indexPath: String, idCol: String, textCol: String,
      bloomExpectedDigests: Option[Long], incrementalBloom: Boolean): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val digested = batch.withColumn("digest", md5(col(textCol).cast("binary")))
      val w = Window.partitionBy(col("digest")).orderBy(col(idCol))
      val winners = digested
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      // replay reads PRIOR state only
      val seen = IndexStore.levelsWhere(spark, indexPath, "batch_id")(_ != batchId)
        .map(_.select("digest"))
      val bloomPath = s"${indexPath}_bloom"
      // prior-state-only filter: highest persisted version BELOW this
      // batch id (replay must never route on its own output). COVERAGE
      // guard: a version is trusted only if no prior index level is
      // newer than it — a stretch ingested with incrementalBloom OFF
      // leaves the chain behind the index, and routing on that stale
      // filter would accept duplicates silently (false negatives). The
      // index levels come from its manifest, not a data scan; a stale
      // chain falls back to the bootstrap scan, which the next version
      // write then absorbs.
      val priorVersion: Option[Long] =
        if (!incrementalBloom) None
        else {
          val maxPriorLevel = IndexStore.levelIds(spark, indexPath, "batch_id")
            .filter(_ != batchId).foldLeft(-1L)(math.max)
          IndexStore.levelIds(spark, bloomPath, "batch_id")
            .filter(v => v < batchId && v >= maxPriorLevel).lastOption
        }
      val routeFilter: Option[BloomFilter] =
        (bloomExpectedDigests, seen) match {
          case (Some(n), Some(idx)) =>
            priorVersion match {
              case Some(v) =>
                val bytes = IndexStore.levelRows(spark, bloomPath, "batch_id", v).head
                  .getAs[Array[Byte]]("bloom")
                Some(BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)))
              case None =>
                // per-batch build (non-incremental mode), or the
                // incremental mode's bootstrap/stale-chain rescan
                Some(BloomProbe.build(idx, col("digest"), n, 0.01))
            }
          case _ => None
        }
      // in the batch's own column order whatever the gate: the join
      // would lead with `digest`, and a sink's levels should agree
      val fresh = (seen match {
        case None => winners
        case Some(idx) => routeFilter match {
          case None => winners.join(idx, Seq("digest"), "left_anti")
          case Some(bf) =>
            // paired codegen build/probe (BloomFilterMightContain),
            // same route-then-verify exactness as the batch leg
            val maybeSeen = BloomProbe.mightContain(bf, col("digest"))
            winners.filter(!maybeSeen)
              .unionByName(winners.filter(maybeSeen)
                .join(idx, Seq("digest"), "left_anti"))
        }
      }).select(winners.columns.map(col): _*)
      IndexStore.writeLevel(outPath, "batch_id", batchId)("" -> fresh)
      IndexStore.levelsWhere(spark, outPath, "batch_id")(_ == batchId).foreach(sunk =>
        IndexStore.writeLevel(indexPath, "batch_id", batchId)("" -> sunk.select("digest")))
      if (incrementalBloom) {
        // this batch's digests from the COMMITTED index level (not a
        // recompute of the gate chain), same sizing so the sketches stay
        // mergeable. An all-duplicates batch commits NO level and
        // changes no state — skip the version write and let the next
        // batch read the same prior; the exception is a fresh bootstrap
        // (no prior version), whose scan-built filter is worth
        // persisting either way.
        val n = bloomExpectedDigests.get
        val merged: Option[BloomFilter] =
          IndexStore.levelsWhere(spark, indexPath, "batch_id")(_ == batchId) match {
            case None => if (priorVersion.isEmpty) routeFilter else None
            case Some(committed) =>
              val bf = BloomProbe.build(committed, col("digest"), n, 0.01)
              routeFilter match {
                case Some(p) if bf.isCompatible(p) =>
                  bf.mergeInPlace(p); Some(bf)
                case Some(_) =>
                  // bloomExpectedDigests changed across restarts — the
                  // persisted sketch no longer merges (routing above was
                  // still exact: ANY chain version has no false
                  // negatives regardless of sizing). Re-derive the
                  // merged state at the NEW sizing from the full index,
                  // this batch included — a one-time resize scan, not a
                  // per-trigger cost, and strictly better than wedging
                  // the stream on IncompatibleMergeException.
                  Some(BloomProbe.build(IndexStore.levels(spark, indexPath).get,
                    col("digest"), n, 0.01))
                case None => Some(bf)
              }
          }
        merged.foreach { bf =>
          val bytes = new java.io.ByteArrayOutputStream()
          bf.writeTo(bytes)
          import spark.implicits._
          IndexStore.writeVersion(bloomPath, "batch_id", batchId, priorVersion)(
            Seq(bytes.toByteArray).toDF("bloom"))
        }
      }
    }

  /** Streaming BM25 segment ingest — each micro-batch of documents
    * lands as ONE immutable index segment through
    * [[graft.operators.TextAnalysis.bm25AppendSegment]]
    * (`segment = micro-batch id + 1`; 0 stays reserved for the epoch
    * seed), and
    * [[graft.operators.TextAnalysis.bm25SegmentedTopK]] serves the
    * growing store with query-time df/stats merge — answers always
    * equal a whole-corpus rebuild (spec-pinned). State lives in the
    * STORE: segment rows are a pure function of the batch, each
    * segment's manifest commit replaces whatever a replay's segment
    * held, and restarts resume from the source checkpoint — the same
    * exactly-once-in-store contract as [[dedupIngest]] and the IVF
    * faces. `compactEvery` > 0 folds segment-merge maintenance into
    * the ingest loop ([[graft.operators.TextAnalysis
    * .bm25CompactSegments]] — every Nth micro-batch lands as a
    * fold-forward merge of itself with all resident segments instead
    * of a plain append) through the same
    * [[graft.sources.IndexStore.maintain]] loop as the IVF faces. */
  def bm25Ingest(stream: DataFrame, indexPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      compactEvery: Long = 0L): DataStreamWriter[Row] =
    IndexStore.maintain(stream, compactEvery)(
      TextAnalysis.bm25CompactSegments(_, indexPath, _, idCol, textCol),
      TextAnalysis.bm25AppendSegment(_, indexPath, _, idCol, textCol))

  /** Windowed streaming aggregation over the value stream: per-series
    * tumbling-window mean/count with a watermark for late data — the
    * standard Structured Streaming shape over the same schema. */
  def windowedStats(stream: DataFrame, windowLen: String, watermark: String): DataFrame =
    stream
      .withWatermark("valid_time", watermark)
      .groupBy(col("series_id"), window(col("valid_time"), windowLen))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("mean_value"))
      .select(col("series_id"), col("window.start").as("window_start"),
        col("n"), col("mean_value"))
}
