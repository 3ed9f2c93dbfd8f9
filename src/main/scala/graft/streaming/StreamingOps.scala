package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

import graft.operators.{Curation, Dedup, Similarity}
import graft.sink.SnapshotSink

/**
 * The streaming-ingest path of the engine. The reference is strictly batch
 * (SURVEY.md §2.10) — its "pipeline" is a bounded producer/consumer loop
 * (exm/UrlIndexingMT.java:121–203). A stream calls the batch operators
 * directly, so a live ingest and a 100 TB backfill share one definition:
 *  - as-of model binding: [[graft.temporal.Temporal.asOfJoin]] against a
 *    static version table (a stream-static interval join, no stream-side
 *    state); the flagship featurize is
 *    [[graft.pipeline.FeaturePipeline.featurize]] over that join;
 *  - exact dedup: `withWatermark` + `dropDuplicatesWithinWatermark`;
 *  - in-flight scoring and filtering: the row-local broadcast expressions
 *    `LmExpressions.lm_score`/`sb_score`, `NbExpressions.nb_lang`,
 *    `DsirExpressions.dsir_score`, [[graft.ml.Classifier.scoreColumn]],
 *    [[graft.operators.Dedup.bloomSuspect]] and
 *    [[graft.operators.Curation.filterBlocklist]]. The broadcast
 *    expressions are the only LM, NB and DSIR scorers that compose as an
 *    append-mode transform: the join paths (`TextOps.lmScore` and its
 *    kin) end in a per-document aggregate, which an append-mode stream
 *    refuses without a watermark.
 * What is here is what Spark's streaming API does not already give a
 * caller: watermarked windows, stateful sessionize, and the `foreachBatch`
 * queries that commit each micro-batch to snapshot tables — the snapshot
 * sink and the four incremental dedup doors.
 */
object StreamingOps {

  /** Watermarked sliding-window aggregation over an event stream
    * (readStream → window → agg; append mode compatible). */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String = "5 minutes",
                     slide: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** The query behind every snapshot-committing door: an append-mode
    * `foreachBatch` over `stream`, checkpointed at `checkpointDir`, whose
    * `body` gets each micro-batch and the `stream_batch_id` lineage its
    * commits record. Returns the started query. */
  private def eachBatch(stream: DataFrame, checkpointDir: String)(
      body: (DataFrame, Map[String, String]) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        body(batch.toDF(), Map("stream_batch_id" -> batchId.toString))
      }
      .start()

  /** A door's history table, or `empty` (a frame with its schema) before
    * the first commit. */
  private def historyOr(table: String)(read: => DataFrame)(
      empty: => DataFrame): DataFrame =
    if (SnapshotSink.lastSnapshot(table).isDefined) read else empty

  /** Commits a door's near-dup pairs keyed `id_a:id_b`, so a replayed
    * batch writes none twice. */
  private def appendPairs(pairs: DataFrame, pairsTable: String,
                          lineage: Map[String, String]): Unit = {
    SnapshotSink.appendMissing(
      pairs.withColumn("pair_key", concat_ws(":", col("id_a"), col("id_b"))),
      pairsTable, "pair_key", Seq.empty, lineage)
    ()
  }

  /** Stream → snapshot table: each micro-batch commits through
    * `SnapshotSink.appendMissing`, so the sink inherits the batch resume
    * contract — a key that already reached the table (in ANY earlier batch,
    * or a previous run of the query) is never written twice, and a batch
    * replayed after a crash is idempotent. This is exactly-once delivery by
    * key built from at-least-once micro-batches + the anti-join, with
    * per-batch lineage recorded in each snapshot manifest. Returns the
    * started query; caller owns its lifecycle.
    *
    * Cost model for long-lived streams: the anti-join probes ALL committed
    * keys, so per-batch cost grows O(table) over the stream's lifetime. That
    * is the price of the cross-run contract (dedup against EVERY earlier
    * batch and every earlier run — Structured Streaming's own batchId dedup
    * only covers replays of the same query). When keys are known to arrive
    * within a bounded window, pass `scopeOf`: per batch it yields a
    * partition-column predicate, the `scope` of
    * [[graft.sink.SnapshotSink.appendMissing]], and the probe becomes a
    * partition-pruned scan of only the live partitions, bounding per-batch
    * cost (the caller guarantees keys cannot collide outside the scope).
    * Periodic [[graft.sink.SnapshotSink.compact]] keeps the probed file set
    * packed. */
  def sinkToSnapshot(stream: DataFrame, table: String, keyCol: String,
                     partitionCols: Seq[String],
                     checkpointDir: String,
                     scopeOf: Option[DataFrame => Column] = None): StreamingQuery =
    eachBatch(stream, checkpointDir) { (batch, lineage) =>
      SnapshotSink.appendMissing(batch, table, keyCol, partitionCols, lineage,
        scope = scopeOf.map(_(batch)))
      ()
    }

  /** Streaming door for INCREMENTAL near-dup — the live-ingest twin of
    * [[graft.operators.Dedup.minhashLshPairsIncremental]]: per micro-batch,
    * (1) emit the near-dup pairs the batch creates against everything seen so
    * far (new×new + new×old bands only, exact-Jaccard verified) into
    * `pairsTable`, keyed `id_a:id_b` so batch replays are idempotent;
    * (2) append the batch's signatures to `sigTable` via `appendMissing`
    * (resume-safe). The stream thus maintains the SAME persisted signature
    * index a 100 TB batch backfill builds with
    * [[graft.operators.Dedup.persistMinhashSignatures]] — old documents are
    * never re-shingled, and a crash between (1) and (2) replays cleanly in
    * either order (pair keys dedup).
    *
    * PERSISTENCE SEMANTICS — first-write-wins (r7 advice): `appendMissing`
    * never rewrites a committed id, so a RE-APPEARING id with CHANGED text
    * pairs correctly against the history *within its own batch* (the
    * incremental operator prefers the new batch's signature there), but the
    * HISTORY keeps the originally committed signature — later batches
    * compare against the old content. If re-ingest-with-changed-content
    * must supersede, key the stream by a content-derived id (the
    * fingerprint idiom) so changed text IS a new id, or rebuild the
    * signature table. */
  def nearDupDoor(docs: DataFrame, sigTable: String, pairsTable: String,
                  checkpointDir: String, idCol: String, textCol: String,
                  shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                  threshold: Double = 0.5, maxBucket: Int = 1000): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, lineage) =>
      val numHashes = bands * rowsPerBand
      val oldSigs = historyOr(sigTable)(
        Dedup.readMinhashSignatures(batch.sparkSession, sigTable, shingleN, numHashes))(
        Dedup.minhashSignatures(batch.limit(0), idCol, textCol, shingleN, numHashes))
      appendPairs(Dedup.minhashLshPairsIncremental(batch, oldSigs, idCol, textCol,
        shingleN, bands, rowsPerBand, threshold, maxBucket), pairsTable, lineage)
      Dedup.persistMinhashSignatures(batch, sigTable, idCol, textCol, shingleN,
        numHashes)
    }

  /** Sink format of [[hammingNearDupDoor]]'s signature table. */
  private val hammingSigFormat = Map("op" -> "hamming_signatures")

  /** Streaming door for INCREMENTAL 64-bit Hamming near-dup — the
    * image-ingest twin of [[nearDupDoor]] (phash/dhash/simhash instead of
    * MinHash): the stream carries precomputed signatures (one long per
    * item, e.g. `dhash64(img)` appended by the featurize stage); per
    * micro-batch, pairs the batch creates against the whole history
    * (new×new + new×old, exact-Hamming verified) land in `pairsTable`
    * keyed `id_a:id_b`, then the batch's signatures append to `sigTable`
    * — old images are never re-decoded or re-hashed, and batch replays
    * are idempotent in either order. */
  def hammingNearDupDoor(items: DataFrame, sigTable: String, pairsTable: String,
                         checkpointDir: String, idCol: String, bitsCol: String,
                         maxHamming: Int = 3, chunks: Int = 4,
                         maxBucket: Int = 1000): StreamingQuery =
    eachBatch(items, checkpointDir) { (batch, lineage) =>
      val sigs = batch.select(col(idCol), col(bitsCol))
      val oldSigs = historyOr(sigTable)(
        SnapshotSink.read(batch.sparkSession, sigTable, hammingSigFormat))(sigs.limit(0))
      appendPairs(Dedup.hammingPairs64Incremental(sigs, oldSigs, idCol, bitsCol,
        maxHamming, chunks, maxBucket), pairsTable, lineage)
      SnapshotSink.appendMissing(sigs, sigTable, idCol, Seq.empty, lineage,
        format = hammingSigFormat)
      ()
    }

  /** Streaming door for INCREMENTAL SemDeDup — the embedding-space member
    * of the door family ([[nearDupDoor]] = text shingles,
    * [[hammingNearDupDoor]] = 64-bit image sketches): the stream carries
    * (id, embedding) rows; per micro-batch, semantic near-dup pairs the
    * batch creates against the whole assignment history (new×new + new×old
    * within coarse clusters, exact-cosine verified) land in `pairsTable`
    * keyed `id_a:id_b`, then the batch's nearest-centroid assignments
    * append to `assignTable` — old vectors are never re-assigned (the
    * k_c·d dominant cost is paid once per vector), batch replays are
    * idempotent in either order, and the centroid-model fingerprint is the
    * assignment table's sink format, so a model swap fails loudly instead of
    * silently mis-bucketing
    * ([[graft.operators.Similarity.readSemanticAssignments]]). */
  def semanticNearDupDoor(items: DataFrame, assignTable: String,
                          pairsTable: String, checkpointDir: String,
                          idCol: String, vecCol: String,
                          centroids: Array[Array[Double]],
                          threshold: Double = 0.95,
                          maxBucket: Int = 10000): StreamingQuery =
    eachBatch(items, checkpointDir) { (batch, lineage) =>
      val oldAssign = historyOr(assignTable)(
        Similarity.readSemanticAssignments(batch.sparkSession, assignTable, centroids))(
        Similarity.semanticAssignments(batch.limit(0), idCol, vecCol, centroids))
      appendPairs(Similarity.semanticNearDupPairsIncremental(batch, oldAssign,
        idCol, vecCol, centroids, threshold, maxBucket), pairsTable, lineage)
      Similarity.persistSemanticAssignments(batch, assignTable, idCol, vecCol,
        centroids)
    }

  /** Streaming door for INCREMENTAL keep-first paragraph dedup — the
    * unit-level member of the door family: per micro-batch, each document's
    * repeated units (vs the whole fingerprint history AND earlier in the
    * batch) are cut and the cleaned rows land in `outTable` (keyed by id,
    * idempotent on replay); then the batch's distinct unit fingerprints
    * append to `fpTable` — old text is never re-read (the history side is a
    * hash-only columnar scan), and the recorded delimiter is validated on
    * every read so a unit-boundary change fails loudly. With ascending ids
    * the streamed ledger equals the one-shot batch
    * [[graft.operators.Curation.dedupParagraphs]] (StreamingSpec). */
  def paragraphDedupDoor(docs: DataFrame, fpTable: String, outTable: String,
                         checkpointDir: String, idCol: String,
                         textCol: String, delim: String = "\n\n"): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, lineage) =>
      val seen = historyOr(fpTable)(
        Curation.readParagraphFingerprints(batch.sparkSession, fpTable, delim))(
        Curation.paragraphFingerprints(batch.limit(0), idCol, textCol, delim))
      SnapshotSink.appendMissing(
        Curation.dedupParagraphsIncremental(batch, seen, idCol, textCol, delim),
        outTable, idCol, Seq.empty, lineage)
      Curation.persistParagraphFingerprints(batch, fpTable, idCol, textCol, delim)
    }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionUpdate(user_id: Long, session_seq: Long, n_events: Long,
                                 start_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp)
  final case class SessionState(seq: Long, n: Long, startMs: Long, lastMs: Long)

  /**
   * Streaming sessionize via flatMapGroupsWithState: same gap rule as
   * Temporal.sessionize (gap > threshold ⇒ new session id). Emits one update
   * per batch per touched session. ProcessingTimeTimeout keeps the example
   * self-contained; production would use EventTimeTimeout + watermark.
   */
  def sessionize(events: Dataset[SessionEvent], gapSeconds: Long)
      : Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          var st = state.getOption.getOrElse(SessionState(0L, 0L, 0L, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
          batch.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            st =
              if (st.lastMs == Long.MinValue || (t - st.lastMs) / 1000 > gapSeconds)
                SessionState(st.seq + 1, 1L, t, t)
              else st.copy(n = st.n + 1, lastMs = t)
            out += SessionUpdate(userId, st.seq, st.n,
              new java.sql.Timestamp(st.startMs), new java.sql.Timestamp(st.lastMs))
          }
          state.update(st)
          // emit only the final state per session touched in this batch
          out.groupBy(_.session_seq).values.map(_.last).toSeq.sortBy(_.session_seq).iterator
        })
  }
}
