package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured Streaming counterparts of the temporal operators. The reference
 * is strictly batch (SURVEY.md §2.10) — its "pipeline" is a bounded
 * producer/consumer loop (exm/UrlIndexingMT.java:121–203) — so these exist as
 * the streaming-ingest path of OUR engine: the same event-time semantics as
 * graft.temporal.Temporal, expressed with watermarks + state stores so a
 * 100 TB backfill job and a live ingest job share one definition of
 * "session" / "window".
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

  /** Streaming exact dedup: first row per content key wins, duplicates in
    * later batches are dropped by the state store; the watermark bounds state
    * the way Dedup.exactGroups's shuffle is bounded by the batch (the
    * streaming twin of F2 + exact dedup — at 100 TB/day ingest this is the
    * de-dup-at-the-door path). */
  def dedupByKey(events: DataFrame, keyCols: Seq[String], tsCol: String,
                 watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming as-of model binding (the J4 twin): each in-flight event binds
    * the latest version row with `valid_from <= ts` for its key — the exact
    * batch semantics of Temporal.asOfJoin, reused verbatim. The version side
    * is STATIC (a model/dimension table), so the interval formulation is
    * directly stream-compatible: validity windows are computed once on the
    * static side and the stream-static inner join needs no watermark or
    * stream-side state. Batch parity is asserted in StreamingSpec. */
  def asOfBind(events: DataFrame, versions: DataFrame,
               leftTs: String, rightTs: String,
               keys: Seq[String] = Seq.empty,
               lookback: Option[org.apache.spark.sql.Column] = None): DataFrame =
    graft.temporal.Temporal.asOfJoin(events, versions, leftTs, rightTs, keys,
      joinType = "inner", lookback = lookback)

  /** Streaming flagship-ingest twin (§2.10 × the P-pipeline): image rows
    * arrive as a stream, bind their as-of model version against the STATIC
    * model table (stream-static interval join, no stream-side state), then
    * run the full decode→extract→VLAD→PCA→PQ featurize — literally the batch
    * `FeaturePipeline.featurize` call, which is a stateless mapPartitions
    * over broadcast model state and therefore directly stream-compatible.
    * A live ingest and a 100 TB backfill share one featurize definition;
    * batch parity is asserted in StreamingSpec. */
  def featurizeStream(images: DataFrame, modelDf: DataFrame,
                      bundles: Map[Int, graft.model.ModelBundle],
                      cfg: graft.pipeline.FeaturePipeline.PipelineConfig): DataFrame =
    graft.pipeline.FeaturePipeline.featurize(
      asOfBind(images, modelDf, "ts", "valid_from"), bundles, cfg)

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
    * partition-column predicate and the probe becomes
    * [[graft.sink.SnapshotSink.appendMissingScoped]] — a partition-pruned
    * scan of only the live partitions, bounding per-batch cost (the caller
    * guarantees keys cannot collide outside the scope). Periodic
    * [[graft.sink.SnapshotSink.compact]] keeps the probed file set packed. */
  def sinkToSnapshot(stream: DataFrame, table: String, keyCol: String,
                     partitionCols: Seq[String],
                     checkpointDir: String,
                     scopeOf: Option[DataFrame => org.apache.spark.sql.Column] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val lineage = Map("stream_batch_id" -> batchId.toString)
        scopeOf match {
          case Some(f) => graft.sink.SnapshotSink.appendMissingScoped(
            batch.toDF(), table, keyCol, partitionCols, f(batch.toDF()), lineage)
          case None => graft.sink.SnapshotSink.appendMissing(
            batch.toDF(), table, keyCol, partitionCols, lineage)
        }
        ()
      }
      .start()

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
                  threshold: Double = 0.5, maxBucket: Int = 1000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val D = graft.operators.Dedup
        val numHashes = bands * rowsPerBand
        val oldSigs = graft.sink.SnapshotSink.lastSnapshot(sigTable) match {
          case Some(_) =>
            D.readMinhashSignatures(spark, sigTable, shingleN, numHashes)
          case None => // first batch: empty frame with the signature schema
            D.minhashSignatures(batch.toDF().limit(0), idCol, textCol,
              shingleN, numHashes)
        }
        val pairs = D.minhashLshPairsIncremental(batch.toDF(), oldSigs,
            idCol, textCol, shingleN, bands, rowsPerBand, threshold, maxBucket)
          .withColumn("pair_key", concat_ws(":", col("id_a"), col("id_b")))
        graft.sink.SnapshotSink.appendMissing(pairs, pairsTable, "pair_key",
          Seq.empty, lineage = Map("stream_batch_id" -> batchId.toString))
        D.persistMinhashSignatures(batch.toDF(), sigTable, idCol, textCol,
          shingleN, numHashes)
        ()
      }
      .start()

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
                         maxBucket: Int = 1000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    items.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val D = graft.operators.Dedup
        val sigs = batch.toDF().select(col(idCol), col(bitsCol))
        val oldSigs = graft.sink.SnapshotSink.lastSnapshot(sigTable) match {
          case Some(_) => graft.sink.SnapshotSink.read(spark, sigTable, hammingSigFormat)
          case None => sigs.limit(0)
        }
        val pairs = D.hammingPairs64Incremental(sigs, oldSigs, idCol, bitsCol,
            maxHamming, chunks, maxBucket)
          .withColumn("pair_key", concat_ws(":", col("id_a"), col("id_b")))
        graft.sink.SnapshotSink.appendMissing(pairs, pairsTable, "pair_key",
          Seq.empty, lineage = Map("stream_batch_id" -> batchId.toString))
        graft.sink.SnapshotSink.appendMissing(sigs, sigTable, idCol, Seq.empty,
          lineage = Map("stream_batch_id" -> batchId.toString), format = hammingSigFormat)
        ()
      }
      .start()

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
                          threshold: Double = 0.95, maxBucket: Int = 10000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    items.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val S = graft.operators.Similarity
        val oldAssign = graft.sink.SnapshotSink.lastSnapshot(assignTable) match {
          case Some(_) => S.readSemanticAssignments(spark, assignTable, centroids)
          case None => // first batch: empty frame with the assignment schema
            S.semanticAssignments(batch.toDF().limit(0), idCol, vecCol, centroids)
        }
        val pairs = S.semanticNearDupPairsIncremental(batch.toDF(), oldAssign,
            idCol, vecCol, centroids, threshold, maxBucket)
          .withColumn("pair_key", concat_ws(":", col("id_a"), col("id_b")))
        graft.sink.SnapshotSink.appendMissing(pairs, pairsTable, "pair_key",
          Seq.empty, lineage = Map("stream_batch_id" -> batchId.toString))
        S.persistSemanticAssignments(batch.toDF(), assignTable, idCol, vecCol,
          centroids)
        ()
      }
      .start()

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
                         textCol: String, delim: String = "\n\n")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val C = graft.operators.Curation
        val seen = graft.sink.SnapshotSink.lastSnapshot(fpTable) match {
          case Some(_) => C.readParagraphFingerprints(spark, fpTable, delim)
          case None => // first batch: empty frame with the fingerprint schema
            C.paragraphFingerprints(batch.toDF().limit(0), idCol, textCol, delim)
        }
        val cleaned = C.dedupParagraphsIncremental(batch.toDF(), seen,
          idCol, textCol, delim)
        graft.sink.SnapshotSink.appendMissing(cleaned, outTable, idCol,
          Seq.empty, lineage = Map("stream_batch_id" -> batchId.toString))
        C.persistParagraphFingerprints(batch.toDF(), fpTable, idCol, textCol,
          delim)
        ()
      }
      .start()

  /** In-flight LM quality scoring (the CCNet curation signal at the door):
    * append `cross_entropy` via the row-local broadcast `lm_score`
    * expression — stateless, so a live ingest and a 100 TB backfill share
    * one scoring definition (term-for-term the batch
    * [[graft.operators.TextOps.lmScore]] arithmetic; parity in
    * StreamingSpec). Docs with < 2 tokens score NULL. Pair with a
    * `.where(col("cross_entropy") <= τ)` to drop noise in flight. */
  def scoreStream(docs: DataFrame, textCol: String,
                  lm: org.apache.spark.broadcast.Broadcast[
                    graft.functions.LmExpressions.LocalLm]): DataFrame =
    docs.withColumn("cross_entropy",
      graft.operators.TextOps.lmScoreBroadcast(col(textCol), lm))

  /** In-flight decontamination (the streaming twin of
    * [[graft.operators.Dedup.decontaminateBloom]]'s prefilter): drop every
    * document the [[graft.operators.Dedup.BloomDoor]] cannot PROVE clean,
    * row-locally, no state, no join. Conservative by construction — the
    * kept set is a subset of batch `decontaminate`'s (Bloom false positives
    * over-drop at rate ≤ fpp^minHits-ish; a benchmark-contaminated doc can
    * never slip through, the direction that matters for training data).
    * Batch parity bounds are asserted in StreamingSpec. */
  def decontaminateAtDoor(docs: DataFrame, textCol: String,
                          door: graft.operators.Dedup.BloomDoor): DataFrame =
    docs.where(!graft.operators.Dedup.bloomSuspect(col(textCol), door))

  /** In-flight model-based quality gate (the GPT-3 Wikipedia-vs-crawl
    * filter shape at the door): append `quality_prob` = σ(w·x) via the
    * row-local broadcast featurize+dot expression — stateless, so live
    * ingest and batch backfill share [[graft.ml.Classifier]]'s one scoring
    * definition. Pair with `.where(col("quality_prob") >= τ)`. */
  def classifyStream(docs: DataFrame, textCol: String,
                     model: graft.ml.Classifier.LogisticModel): DataFrame =
    docs.withColumn("quality_prob",
      graft.ml.Classifier.scoreColumn(col(textCol), model, docs.sparkSession))

  /** In-flight DSIR importance weighting: append `dsir_log_weight` via the
    * broadcast dense-ratio expression ([[graft.functions.DsirExpressions]])
    * — term-identical to the batch join path up to summation order.
    * Token-less docs score NULL. */
  def dsirScoreStream(docs: DataFrame, textCol: String,
                      ratios: org.apache.spark.broadcast.Broadcast[
                        Array[Double]]): DataFrame =
    docs.withColumn("dsir_log_weight",
      graft.functions.DsirExpressions.dsir_score(col(textCol), ratios))

  /** In-flight Stupid Backoff quality scoring: append `sb_logscore` via the
    * broadcast count-table expression — the trigram upgrade of
    * [[scoreStream]], same cascade as the batch join path term-by-term.
    * Token-less docs score NULL. */
  def sbScoreStream(docs: DataFrame, textCol: String,
                    lm: org.apache.spark.broadcast.Broadcast[
                      graft.functions.LmExpressions.LocalSb]): DataFrame =
    docs.withColumn("sb_logscore",
      graft.operators.TextOps.sbScoreBroadcast(col(textCol), lm))

  /** In-flight language tagging: append `lang_pred` via the broadcast NB
    * expression — the trained-langid door for language-filtered ingest
    * (pair with `.where(col("lang_pred").isin(...))`). Docs shorter than
    * the model's n characters tag NULL. */
  def langIdStream(docs: DataFrame, textCol: String,
                   model: org.apache.spark.broadcast.Broadcast[
                     graft.functions.NbExpressions.LocalNb]): DataFrame =
    docs.withColumn("lang_pred",
      graft.operators.TextOps.nbLangIdBroadcast(col(textCol), model))

  /** In-flight C4 bad-words door: drop any doc containing a blocklist term
    * — one compiled regex pass, no state, batch-identical by construction
    * ([[graft.operators.Curation.filterBlocklist]] is pure row-local). */
  def blocklistAtDoor(docs: DataFrame, textCol: String,
                      keywords: Seq[String]): DataFrame =
    graft.operators.Curation.filterBlocklist(docs, textCol, keywords)

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
