package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.Row

import graft.TimeDb

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
    * Per micro-batch:
    *  1. within-batch winners — deterministic min-`idCol` row per
    *     digest (a replayed batch picks the SAME rows);
    *  2. cross-batch gate — anti-join against the index, or the
    *     [[graft.operators.Dedup.incrementalNewBloom]] routing when
    *     `bloomExpectedDigests` is set (definitely-new rows skip the
    *     join; exact either way);
    *  3. accepted rows land at `outPath` and their digests at
    *     `indexPath`, both partitioned by `batch_id` with DYNAMIC
    *     partition overwrite — a replayed batch overwrites exactly its
    *     own partition, and the gate reads the index EXCLUDING the
    *     current batch id, so replay reproduces the original decision
    *     instead of rejecting everything it already accepted
    *     (exactly-once output from an at-least-once trigger).
    *
    * Scale note: the anti-join shuffles (batch ∪ index-digests) per
    * batch — O(index) work each trigger. At a history where that scan
    * dominates, pass `bloomExpectedDigests` sized to the INDEX: the
    * per-batch cost becomes one index scan (filter build, no shuffle)
    * plus a join on the ~fpp sliver. With `incrementalBloom` the
    * filter build's per-batch index scan ALSO goes away: the merged
    * filter of every prior batch persists beside the index
    * (`<indexPath>/_bloom/v<batchId>`, written temp+rename), and each
    * batch reads the highest version BELOW its own id — the same
    * prior-state-only discipline as the `batch_id =!= batchId` index
    * read, so a replayed batch routes on exactly the state it
    * originally saw — ORs in its own accepted digests (read back from
    * the just-committed index partition, same filter sizing so the
    * sketches merge), and commits the new version. Versions other
    * than {the one just written, the one it read} are pruned — the
    * one-deep replay window foreachBatch guarantees. Per-trigger cost
    * at a billion-digest history: O(filter bytes) + the ~fpp sliver
    * verify, with the full index touched only by that sliver's
    * anti-join. Exactness is untouched: the filter has no false
    * negatives by construction (induction: v0 = batch 0's digests;
    * vN = v(N−1) ∪ accepted(N); a missing _bloom dir bootstraps from
    * one prior-only index scan), and false positives fall to the same
    * verify join as the per-batch-built filter. */
  def dedupIngest(stream: DataFrame, outPath: String, indexPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      bloomExpectedDigests: Option[Long] = None,
      incrementalBloom: Boolean = false): DataStreamWriter[Row] = {
    require(!incrementalBloom || bloomExpectedDigests.nonEmpty,
      "incrementalBloom requires bloomExpectedDigests (the shared filter sizing)")
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          import org.apache.spark.sql.expressions.Window
          val digested = batch.withColumn("digest", md5(col(textCol).cast("binary")))
          val w = Window.partitionBy(col("digest")).orderBy(col(idCol))
          val winners = digested
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
          val indexDir = new org.apache.hadoop.fs.Path(indexPath)
          val fs = indexDir.getFileSystem(spark.sessionState.newHadoopConf())
          val seen: Option[DataFrame] =
            if (fs.exists(indexDir))
              Some(spark.read.parquet(indexPath)
                .filter(col("batch_id") =!= batchId) // replay reads PRIOR state only
                .select("digest"))
            else None
          val bloomDir = new org.apache.hadoop.fs.Path(indexPath, "_bloom")
          def bloomVersions(): Seq[Long] =
            if (fs.exists(bloomDir))
              fs.listStatus(bloomDir).toSeq.map(_.getPath.getName)
                .filter(_.startsWith("v"))
                .flatMap(n => scala.util.Try(n.stripPrefix("v").toLong).toOption)
            else Seq.empty
          // prior-state-only filter: highest persisted version BELOW
          // this batch id (replay must never route on its own output).
          // COVERAGE guard: a version is trusted only if no prior
          // index partition is newer than it — a stretch ingested with
          // incrementalBloom OFF leaves the chain behind the index,
          // and routing on that stale filter would accept duplicates
          // silently (false negatives). batch_id is a partition
          // column, so the newest prior partition comes from a dir
          // listing, not a data scan; a stale chain falls back to the
          // bootstrap scan, which the next version write then absorbs.
          val priorVersion: Option[Long] =
            if (!incrementalBloom) None
            else {
              val maxPriorPartition: Long = (if (fs.exists(indexDir))
                fs.listStatus(indexDir).toSeq else Seq.empty)
                .map(_.getPath.getName)
                .filter(_.startsWith("batch_id="))
                .flatMap(n => scala.util.Try(
                  n.stripPrefix("batch_id=").toLong).toOption)
                .filter(_ != batchId)
                .foldLeft(-1L)(math.max)
              bloomVersions().filter(v => v < batchId && v >= maxPriorPartition)
                .sorted.lastOption
            }
          val routeFilter: Option[org.apache.spark.util.sketch.BloomFilter] =
            (bloomExpectedDigests, seen) match {
              case (Some(n), Some(idx)) =>
                priorVersion match {
                  case Some(v) =>
                    val in = fs.open(new org.apache.hadoop.fs.Path(bloomDir, s"v$v"))
                    try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
                    finally in.close()
                  case None =>
                    // per-batch build (non-incremental mode), or the
                    // incremental mode's bootstrap/stale-chain rescan
                    Some(graft.functions.BloomProbe.build(idx, col("digest"), n, 0.01))
                }
              case _ => None
            }
          val fresh = seen match {
            case None => winners
            case Some(idx) => routeFilter match {
              case None => winners.join(idx, Seq("digest"), "left_anti")
              case Some(bf) =>
                // paired codegen build/probe (BloomFilterMightContain),
                // same route-then-verify exactness as the batch leg
                val maybeSeen = graft.functions.BloomProbe.mightContain(bf, col("digest"))
                winners.filter(!maybeSeen)
                  .unionByName(winners.filter(maybeSeen)
                    .join(idx, Seq("digest"), "left_anti"))
            }
          }
          val accepted = fresh.withColumn("batch_id", lit(batchId))
          accepted.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(outPath)
          accepted.select("digest", "batch_id").write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(indexPath)
          if (incrementalBloom) {
            // this batch's digests from the COMMITTED index partition
            // (not a recompute of the gate chain), same sizing so the
            // sketches stay mergeable. An all-duplicates batch commits
            // NO partition (the bloom aggregate over zero rows yields a
            // null sketch) and changes no state — skip the version
            // write and let the next batch read the same prior; the
            // exception is a fresh bootstrap (no prior version), whose
            // scan-built filter is worth persisting either way.
            val n = bloomExpectedDigests.get
            val committed = spark.read.parquet(indexPath)
              .filter(col("batch_id") === batchId).select("digest")
            val merged: Option[org.apache.spark.util.sketch.BloomFilter] =
              if (committed.isEmpty) {
                if (priorVersion.isEmpty) routeFilter else None
              } else {
                val bf = graft.functions.BloomProbe.build(
                  committed, col("digest"), n, 0.01)
                routeFilter match {
                  case Some(p) if bf.isCompatible(p) =>
                    bf.mergeInPlace(p); Some(bf)
                  case Some(_) =>
                    // bloomExpectedDigests changed across restarts —
                    // the persisted sketch no longer merges (routing
                    // above was still exact: ANY chain version has no
                    // false negatives regardless of sizing). Re-derive
                    // the merged state at the NEW sizing from the full
                    // index, this batch included — a one-time resize
                    // scan, not a per-trigger cost, and strictly
                    // better than wedging the stream on
                    // IncompatibleMergeException.
                    Some(graft.functions.BloomProbe.build(
                      spark.read.parquet(indexPath).select("digest"),
                      col("digest"), n, 0.01))
                  case None => Some(bf)
                }
              }
            merged.foreach { bf =>
              val tmp = new org.apache.hadoop.fs.Path(bloomDir, s".tmp-v$batchId")
              val out = fs.create(tmp, true)
              try bf.writeTo(out) finally out.close()
              val dst = new org.apache.hadoop.fs.Path(bloomDir, s"v$batchId")
              if (fs.exists(dst)) fs.delete(dst, false)
              if (!fs.rename(tmp, dst))
                throw new IllegalStateException(s"failed to commit bloom version $dst")
              // keep {just-written, just-read}: foreachBatch replays at
              // most the one uncommitted batch, which reads max(v < id)
              bloomVersions()
                .filter(v => v != batchId && !priorVersion.contains(v))
                .foreach(v => fs.delete(
                  new org.apache.hadoop.fs.Path(bloomDir, s"v$v"), false))
            }
          }
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
    * STORE: segment rows are a pure function of the batch, dynamic
    * partition overwrite makes replays rewrite their own leaf, and
    * restarts resume from the source checkpoint — the same
    * exactly-once-in-store contract as [[dedupIngest]] and the IVF
    * faces. `compactEvery` > 0 folds segment-merge maintenance into
    * the ingest loop ([[graft.operators.TextAnalysis
    * .bm25CompactSegments]] — every Nth micro-batch lands as a
    * fold-forward merge of itself with all resident segments instead
    * of a plain append), the [[graft.streaming.StreamingSimilarity
    * .ingestIvf]] discipline on the text side. */
  def bm25Ingest(stream: DataFrame, indexPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      compactEvery: Long = 0L): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          graft.operators.TextAnalysis.bm25CompactSegments(
            batch, indexPath, batchId + 1L, idCol, textCol)
        else if (!batch.isEmpty)
          graft.operators.TextAnalysis.bm25AppendSegment(
            batch, indexPath, batchId + 1L, idCol, textCol)
      }

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
