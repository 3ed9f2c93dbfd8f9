package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Deduplication operators for large-scale training-data curation, each a
 * DataFrame transform designed around its shuffle shape:
 *
 *  - exact: one hash-partitioned groupBy on the content key.
 *  - MinHash+LSH: shingle → signature (row-local) → band explode → bucket
 *    groupBy → within-bucket pairs → exact-Jaccard verify. The only wide ops
 *    are the bucket groupBy and the final distinct; candidate generation
 *    never compares docs across buckets (that's what makes it 100 TB-able —
 *    no O(n²) stage, bucket sizes bounded by banding).
 *  - SimHash: 64-bit row-local signature; near-dup pairs via band join on
 *    16-bit chunks (any pair within Hamming ≤ 3 shares ≥1 exact chunk by
 *    pigeonhole over 4 chunks).
 *  - n-gram Jaccard: inverted-index self-join on shingles (exact, for small
 *    candidate sets / verification of the approximate paths).
 */
object Dedup {

  /** Drop candidate buckets larger than `maxBucket` before the within-bucket
    * self-join — the standard LSH guard against quadratic hot buckets (a
    * bucket of size B contributes B² candidate pairs; a bucket that large is
    * dominated by indiscriminate collisions, not near-duplicates). A pair is
    * lost only if EVERY one of its bands lands in a hot bucket. */
  private def capBuckets(banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    val ok = banded.groupBy(keys.map(col): _*).count()
      .where(col("count") <= maxBucket).drop("count")
    banded.join(ok, keys, "left_semi")
  }

  /** Within-bucket ordered candidate pairs in ONE pass over the banded
    * index: a bounded heap keeps up to maxBucket+1 member ids per bucket
    * map-side (BoundedTopK), so the hot-bucket guard FUSES into the
    * aggregate — a bucket over the cap yields maxBucket+1 entries and is
    * dropped, keeping members exactly when bucket size ≤ maxBucket, i.e.
    * bit-identical candidates to the former count + semi-join guard — and
    * ordered pairs then generate ROW-LOCALLY from the sorted member array
    * via native slice. Replaces THREE passes over the banded index (the
    * guard count and both self-join sides) and the join itself with one
    * partial-combined aggregate, and a degenerate hot bucket never
    * materializes beyond k+1 heap entries anywhere (the former shape never
    * materialized it either, but paid two extra passes for that property).
    * REQUIRES ids unique within a bucket (true for the self-join callers;
    * the cross-corpus operators keep the two-sided join — their id spaces
    * may overlap). `payloadCol` rides per member un-compared (lit(0) when
    * unused; must be a BoundedTopK-serializable primitive).
    * Returns (id_a, id_b, __p_a, __p_b) with id_a < id_b. */
  private[operators] def cappedBucketPairs(banded: DataFrame, keys: Seq[String],
                                idCol: String, payloadCol: Column,
                                maxBucket: Int): DataFrame =
    banded.groupBy(keys.map(col): _*)
      .agg(graft.functions.BoundedTopK.topK(col(idCol), col(idCol),
        payloadCol, maxBucket + 1, ascending = true).as("__m"))
      .where(size(col("__m")).between(2, maxBucket))
      .select(posexplode(col("__m")).as(Seq("__i", "__a")), col("__m"))
      .select(col("__a.id").as("id_a"), col("__a.payload").as("__p_a"),
        explode(slice(col("__m"), col("__i") + lit(2), size(col("__m"))))
          .as("__b"))
      .select(col("id_a"), col("__b.id").as("id_b"),
        col("__p_a"), col("__b.payload").as("__p_b"))

  /** Run `build` with `stage` persisted, then materialize the (small) pair
    * output and release the stage. The candidate-generation operators read
    * their signature stage 3–6× (capBuckets count + probe, the pair self-join's
    * two sides, the verify join-backs) — without a persist each pass re-runs
    * the CPU-heavy shingle/signature computation over the full corpus, which
    * at 100 TB multiplies the whole job's scan cost. The returned pairs are
    * eagerly localCheckpoint'ed (tiny vs the corpus) so the caller's laziness
    * can't resurrect the un-persisted lineage, and downstream iteration
    * (connected components) starts from materialized blocks. */
  private[graft] def withPersistedStage(stage: DataFrame)
                                       (build: DataFrame => DataFrame): DataFrame =
    withPersistedStages(Seq(stage))(s => build(s.head))

  /** Multi-stage variant: persist ALL expensive stages, build, eagerly
    * checkpoint the (small) result ONCE, unpersist. Nesting
    * [[withPersistedStage]] would checkpoint the result at every level —
    * one redundant materialization job per extra stage. */
  private[graft] def withPersistedStages(stages: Seq[DataFrame])
                                        (build: Seq[DataFrame] => DataFrame): DataFrame = {
    val cached = stages.map(_.persist(StorageLevel.MEMORY_AND_DISK))
    if (explainInterior.value) build(cached)
    else
      try build(cached).localCheckpoint(true)
      finally { cached.foreach(_.unpersist(blocking = false)); () }
  }

  /** PlanDump-only: skip the eager result checkpoint so `explain` shows the
    * INTERIOR plan (InMemoryTableScan stages, cap guards, pair joins)
    * instead of an opaque `Scan ExistingRDD`. Execution semantics are WRONG
    * in this mode — stages stay persisted and the unpersist/checkpoint
    * lifecycle never runs — so it is scoped to the dumping THREAD (a
    * DynamicVariable, not a process-global flag): operators built
    * concurrently on other threads keep real persist/checkpoint semantics. */
  private[graft] val explainInterior: scala.util.DynamicVariable[Boolean] =
    new scala.util.DynamicVariable[Boolean](false)

  /** Exact dedup groups: content key → representative id + duplicate count.
    *
    * Groups by a map-side content fingerprint — (xxhash64, sha2-256) — so the
    * shuffle carries (40-byte fingerprint, id), never the document bytes: a
    * groupBy on the raw text column would move the whole corpus through the
    * exchange twice at 100 TB. Two independent hash families make the
    * fingerprint its own within-group equality verification: a false merge
    * needs a simultaneous 64-bit AND 256-bit collision on different texts
    * (probability ≈ 2⁻³²⁰ · pairs — below any hardware error rate). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("content_hash"),
        sha2(col(textCol), 256).as("content_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      // expose BOTH hashes: at ~billions of rows two distinct contents can
      // birthday-collide on the 64-bit hash alone; content_sha disambiguates
      // for any consumer keying on content identity
      .select("content_hash", "content_sha", "keep_id", "n_dups")

  /** Exact-dedup filter: keep one row (min id) per distinct content. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /**
   * MinHash-LSH candidate pairs with exact-Jaccard verification.
   * `numHashes = bands * rowsPerBand`. Returns (id_a, id_b, jaccard) with
   * id_a < id_b and jaccard ≥ threshold, distinct.
   */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val sigStage = minhashSignatures(df, idCol, textCol, shingleN,
      bands * rowsPerBand).withColumn("__new", lit(true))
    withPersistedStage(sigStage) { withSig =>
      lshPairsOver(withSig, idCol, bands, rowsPerBand, threshold, maxBucket,
        newOnly = false)
    }
  }

  /** The (id, distinct-shingle-set, minhash-signature) stage
    * [[minhashLshPairs]] computes — exposed so a production pipeline can
    * PERSIST it (e.g. [[persistMinhashSignatures]]) and dedup GROWN corpora
    * incrementally: re-curation with +1% new data then pays the shingle +
    * minhash cost for the new batch only, not the full corpus
    * ([[minhashLshPairsIncremental]]). `numHashes` must equal
    * bands · rowsPerBand of the pair stage that will consume it. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashes: Int = 64): DataFrame =
    // ONE compiled pass per document (minhash_bundle): the signature is
    // computed over the string shingles — bit-identical to the former
    // word_shingles → minhash_signature pipeline, so LSH buckets and
    // candidate pairs do not move — while `sh` carries the xxhash64-hashed
    // shingle SET (array<long>, not strings): exact-Jaccard verification is
    // set arithmetic over the hashes, and the signature history's exchange /
    // cache footprint drops ~3× (measured; parquet-at-rest roughly ties
    // because word shingles compress — the round-7 storage concern is
    // answered by the fixed 8-byte-per-shingle bound, which no longer
    // scales with shingle text length).
    df.select(col(idCol),
        graft.functions.TextExpressions.minhash_bundle(col(textCol), shingleN,
          distinct = true, numHashes).as("__mh"))
      .where(col("__mh").isNotNull)
      .select(col(idCol), col("__mh.sh").as("sh"), col("__mh.sig").as("sig"))

  /**
   * INCREMENTAL near-dup: candidate pairs touching a NEW batch, against a
   * persisted signature table — new×new plus new×old bands only, never
   * old×old (those were already reported when the old docs arrived). With
   * stable LSH parameters and no bucket hitting `maxBucket`,
   *   minhashLshPairs(old ∪ new) ≡ minhashLshPairs(old) ∪ incremental
   * exactly (DedupSpec proves it on a grown corpus); when a hot bucket does
   * cross the cap as the corpus grows, the cap drops candidates in BOTH the
   * full and the incremental formulation — the cap is a bounded-recall
   * guard, not part of the pair semantics.
   *
   * Scale shape: the expensive per-document stage (shingle + minhash) runs
   * on the new batch ONLY; old docs contribute a columnar scan of
   * (id, sig) — the `sh` column is pruned out of the banding plan and read
   * back just for ids that survive into a candidate pair (the same ids-only
   * pair discipline as the full operator). An id present in both sides
   * takes the NEW version (re-ingest upsert semantics).
   *
   * `oldSigs` is [[minhashSignatures]] output (any storage: a
   * [[graft.sink.SnapshotSink]] table via [[readMinhashSignatures]], plain
   * parquet, …) produced with the SAME shingleN and
   * numHashes = bands · rowsPerBand.
   */
  def minhashLshPairsIncremental(
      newBatch: DataFrame, oldSigs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val newSigs = minhashSignatures(newBatch, idCol, textCol, shingleN,
      bands * rowsPerBand).withColumn("__new", lit(true))
    // Persist ONLY the computed (new-batch) signatures. The old side is
    // STORAGE-backed — caching it would materialize the fat `sh` column for
    // the whole corpus, exactly what incremental is meant to avoid; instead
    // each old reference below is its own column-pruned scan (banding reads
    // (id, sig); the verify join-backs read (id, sh) for candidate ids) —
    // asserted on ReadSchema in DedupSpec.
    withPersistedStage(newSigs) { nw =>
      val old = oldSigs.select(col(idCol), col("sh"), col("sig"))
        .join(nw.select(col(idCol)), Seq(idCol), "left_anti")
        .withColumn("__new", lit(false))
      lshPairsOver(nw.unionByName(old), idCol, bands, rowsPerBand,
        threshold, maxBucket, newOnly = true)
    }
  }

  /**
   * CROSS-CORPUS fuzzy near-dup: MinHash-LSH pairs BETWEEN two corpora only
   * — left×right, never left×left or right×right (the Llama-style fuzzy
   * decontamination shape: train docs that nearly duplicate a benchmark
   * doc, where [[decontaminate]]'s exact n-gram containment is too strict
   * against light paraphrase/formatting drift). Returns
   * (id_l, id_r, jaccard) with id_l ∈ left, id_r ∈ right — sides are kept
   * by construction, so the two id spaces may overlap freely (no min-id
   * convention to corrupt).
   *
   * Scale shape: identical discipline to [[minhashLshPairs]] — banded
   * candidates ride as ids only, hot buckets are capped BEFORE the
   * left×right bucket join (a bucket with L left + R right members
   * contributes L·R candidates; the cap bounds L+R), and shingle arrays
   * join back once per surviving candidate. The right side is typically
   * benchmark-sized — AQE broadcasts its banded rows and the left corpus
   * never shuffles its text anywhere.
   */
  def minhashLshPairsAcross(
      left: DataFrame, right: DataFrame, leftId: String, rightId: String,
      leftText: String, rightText: String,
      shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val numHashes = bands * rowsPerBand
    val ls = minhashSignatures(
      left.select(col(leftId).as("__id"), col(leftText).as("__text")),
      "__id", "__text", shingleN, numHashes).withColumn("__new", lit(true))
    val rs = minhashSignatures(
      right.select(col(rightId).as("__id"), col(rightText).as("__text")),
      "__id", "__text", shingleN, numHashes).withColumn("__new", lit(false))
    withPersistedStages(Seq(ls, rs)) { case Seq(l, r) =>
      val banded = bandBuckets(l.unionByName(r), "__id", bands, rowsPerBand)
      val capped = capBuckets(banded, Seq("band", "bucket"), maxBucket)
      val a = capped.where(col("__new"))
        .select(col("band"), col("bucket"), col("__id").as("id_l"))
      val b = capped.where(!col("__new"))
        .select(col("band"), col("bucket"), col("__id").as("id_r"))
      a.join(b, Seq("band", "bucket"))
        .select("id_l", "id_r").dropDuplicates("id_l", "id_r")
        .join(l.select(col("__id").as("id_l"), col("sh").as("sh_l")), Seq("id_l"))
        .join(r.select(col("__id").as("id_r"), col("sh").as("sh_r")), Seq("id_r"))
        .withColumn("jaccard",
          size(array_intersect(col("sh_l"), col("sh_r"))).cast("double") /
            size(array_union(col("sh_l"), col("sh_r"))))
        .where(col("jaccard") >= threshold)
        .select("id_l", "id_r", "jaccard")
    }
  }

  /** [[decontaminate]]'s fuzzy twin: drop every left (training) doc whose
    * MinHash-LSH Jaccard against ANY right (benchmark) doc reaches
    * `threshold` ([[minhashLshPairsAcross]]). Complements the exact
    * containment join — paraphrased/reformatted benchmark leakage that
    * whole-shingle containment misses still collides here. */
  def decontaminateFuzzy(left: DataFrame, right: DataFrame,
                         leftId: String, rightId: String,
                         leftText: String, rightText: String,
                         shingleN: Int = 3, bands: Int = 16,
                         rowsPerBand: Int = 4, threshold: Double = 0.5,
                         maxBucket: Int = 1000): DataFrame = {
    val contaminated = minhashLshPairsAcross(left, right, leftId, rightId,
      leftText, rightText, shingleN, bands, rowsPerBand, threshold, maxBucket)
      .select(col("id_l").as(leftId)).distinct()
    left.join(contaminated, Seq(leftId), "left_anti")
  }

  /** Band-bucket explode over a (idCol, sig, __new) signature stage: one
    * (band, bucket) row per band, bucket = xxhash64 over the band's
    * signature slice. Shared by the self-join ([[lshPairsOver]]) and the
    * cross-corpus ([[minhashLshPairsAcross]]) candidate generators. */
  private def bandBuckets(withSig: DataFrame, idCol: String, bands: Int,
                          rowsPerBand: Int): DataFrame =
    withSig.select(col(idCol), col("__new"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",",
          transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            _.cast("string")))))).as(Seq("band", "bucket")))

  /** Shared LSH banding + capped bucket self-join + exact-Jaccard verify over
    * a (idCol, sh, sig, __new) signature stage. `newOnly` keeps only pairs
    * with at least one `__new` side (the incremental contract). Does NOT
    * persist: callers decide which part of the stage is worth caching
    * (computed signatures yes, storage-backed ones no). */
  private def lshPairsOver(withSig: DataFrame, idCol: String, bands: Int,
                           rowsPerBand: Int, threshold: Double,
                           maxBucket: Int, newOnly: Boolean): DataFrame = {
    val banded = bandBuckets(withSig, idCol, bands, rowsPerBand)
    // one-pass capped pair generation (see cappedBucketPairs) — candidates
    // ride as IDS ONLY; the shingle arrays join back once per surviving
    // pair, never through the bucket machinery or the dedup shuffle
    val rawPairs = cappedBucketPairs(banded, Seq("band", "bucket"), idCol,
      when(col("__new"), lit(1)).otherwise(lit(0)), maxBucket)
    val candidates =
      (if (newOnly) rawPairs.where(col("__p_a") === 1 || col("__p_b") === 1)
       else rawPairs)
        .select("id_a", "id_b")
        .dropDuplicates("id_a", "id_b")
    val base = withSig.select(col(idCol), col("sh"))
    candidates
      .join(base.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Persist [[minhashSignatures]] of `df` into a [[graft.sink.SnapshotSink]]
    * table, resume-safe: only ids not already committed are shingled +
    * minhashed (the F2 already-indexed discipline), so a re-run after a crash
    * or a grown re-curation pays for genuinely new documents only. LSH
    * parameters are the table's sink format: an append under other
    * parameters is refused, and so is a [[readMinhashSignatures]] that
    * expects other ones.
    *
    * FIRST-WRITE-WINS: a re-appearing id with changed text keeps its
    * originally committed signature (appendMissing never rewrites a
    * committed key) — use content-derived ids if changed re-ingests must
    * supersede (see the StreamingOps.nearDupDoor note). */
  def persistMinhashSignatures(df: DataFrame, table: String, idCol: String,
                               textCol: String, shingleN: Int = 3,
                               numHashes: Int = 64): Unit = {
    val sigs = minhashSignatures(df, idCol, textCol, shingleN, numHashes)
    graft.sink.SnapshotSink.appendMissing(sigs, table, idCol, Seq.empty,
      format = signatureFormat(shingleN, numHashes))
    ()
  }

  /** Sink format of a [[persistMinhashSignatures]] table. `sh_encoding`
    * names the storage of `sh`: the xxhash64 image of the shingle set
    * (array<long>), not the shingle strings of tables from before round 8. */
  private def signatureFormat(shingleN: Int, numHashes: Int): Map[String, String] =
    Map("op" -> "minhash_signatures", "shingle_n" -> shingleN.toString,
      "num_hashes" -> numHashes.toString, "sh_encoding" -> "xxh64s42")

  /** Read a [[persistMinhashSignatures]] table back for
    * [[minhashLshPairsIncremental]]; the sink refuses a table built under
    * other LSH parameters (silently mixing signature spaces would produce
    * garbage buckets, not an error). */
  def readMinhashSignatures(spark: org.apache.spark.sql.SparkSession,
                            table: String, shingleN: Int = 3,
                            numHashes: Int = 64): DataFrame =
    graft.sink.SnapshotSink.read(spark, table, signatureFormat(shingleN, numHashes))

  /** SimHash per document (row-local). */
  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextOps.simhash64(TextOps.tokens(col(textCol))).as("simhash"))

  /**
   * SimHash near-dup pairs with Hamming distance ≤ maxHamming. Banding on
   * `chunks` equal bit-chunks guarantees recall when
   * maxHamming < chunks (pigeonhole); the final exact Hamming filter gives
   * precision.
   */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, chunks: Int = 4,
                   maxBucket: Int = 1000): DataFrame =
    hammingPairs64(simhashTable(df, idCol, textCol), idCol, "simhash",
      maxHamming, chunks, maxBucket)

  /**
   * Hamming-distance pairs over an EXISTING 64-bit signature column — phash,
   * simhash, any 64-bit sketch. [[simhashPairs]] is this operator behind a
   * text SimHash; image pipelines call it directly on `phash` (perceptual
   * near-dup dedup — the north-rule phash skew rides the same hot-bucket cap
   * as the text paths, so one viral image's bucket cannot go quadratic).
   * Banding on `chunks` equal bit-chunks guarantees recall for
   * maxHamming < chunks (pigeonhole); the exact Hamming verify gives
   * precision. Returns (id_a, id_b, hamming).
   */
  def hammingPairs64(signatures: DataFrame, idCol: String, bitsCol: String,
                     maxHamming: Int = 3, chunks: Int = 4,
                     maxBucket: Int = 1000): DataFrame = {
    require(maxHamming < chunks, "banding guarantee needs maxHamming < chunks")
    val sigs = signatures
      .select(col(idCol), col(bitsCol).cast("long").as("__sig"))
      .withColumn("__new", lit(true))
    withPersistedStage(sigs) { sims =>
      hammingPairsOver(sims, idCol, maxHamming, chunks, maxBucket,
        newOnly = false)
    }
  }

  /**
   * INCREMENTAL 64-bit Hamming near-dup — [[hammingPairs64]] against a
   * PERSISTED signature table: pairs touching the NEW batch only (new×new +
   * new×old), never old×old. The image-ingest twin of
   * [[minhashLshPairsIncremental]]: a LAION-style pipeline persists each
   * batch's phash/dhash signatures (one long per image — e.g. a
   * [[graft.sink.SnapshotSink]] table) and dedups arrivals against the
   * whole history without ever re-decoding or re-hashing old images; the
   * old side is a column-pruned (id, bits) scan. Same equivalence contract,
   * proven in DedupSpec:
   *   hammingPairs64(old ∪ new) ≡ hammingPairs64(old) ∪ incremental.
   * Ids present in both sides take the NEW signature (re-ingest upsert).
   */
  def hammingPairs64Incremental(newSignatures: DataFrame,
                                oldSignatures: DataFrame,
                                idCol: String, bitsCol: String,
                                maxHamming: Int = 3, chunks: Int = 4,
                                maxBucket: Int = 1000): DataFrame = {
    require(maxHamming < chunks, "banding guarantee needs maxHamming < chunks")
    val nw = newSignatures
      .select(col(idCol), col(bitsCol).cast("long").as("__sig"))
      .withColumn("__new", lit(true))
    withPersistedStage(nw) { n =>
      val old = oldSignatures
        .select(col(idCol), col(bitsCol).cast("long").as("__sig"))
        .join(n.select(col(idCol)), Seq(idCol), "left_anti")
        .withColumn("__new", lit(false))
      hammingPairsOver(n.unionByName(old), idCol, maxHamming, chunks,
        maxBucket, newOnly = true)
    }
  }

  /** Shared Hamming banding + capped bucket join + exact verify over a
    * (idCol, __sig, __new) stage; `newOnly` keeps pairs with ≥1 new side. */
  private def hammingPairsOver(sims: DataFrame, idCol: String,
                               maxHamming: Int, chunks: Int, maxBucket: Int,
                               newOnly: Boolean): DataFrame = {
    val bitsPer = 64 / chunks
    val banded = sims.select(col(idCol), col("__sig"), col("__new"),
      posexplode(transform(
        sequence(lit(0), lit(chunks - 1)),
        c => call_function("shiftright", col("__sig"), c * bitsPer)
          .bitwiseAND(lit((1L << bitsPer) - 1)))).as(Seq("chunk", "key")))
    val capped = capBuckets(banded, Seq("chunk", "key"), maxBucket)
    val a = capped.select(col("chunk"), col("key"), col(idCol).as("id_a"),
      col("__sig").as("sh_a"), col("__new").as("__new_a"))
    val b = capped.select(col("chunk"), col("key"), col(idCol).as("id_b"),
      col("__sig").as("sh_b"), col("__new").as("__new_b"))
    val joined = a.join(b, Seq("chunk", "key"))
      .where(col("id_a") < col("id_b"))
    (if (newOnly) joined.where(col("__new_a") || col("__new_b")) else joined)
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", TextOps.hamming64(col("sh_a"), col("sh_b")))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /**
   * Distributed connected components over a near-dup pair list — pairs say
   * "these two are duplicates"; a curation pipeline needs the CLUSTERS (keep
   * one representative per component). Iterative min-label propagation: each
   * sweep is one equi-join (edges × labels) + one min-aggregate, both plain
   * hash shuffles on the id — no driver-side graph. Converges in
   * O(component diameter) sweeps; near-dup clusters are shallow (dupes of one
   * source), so 3–5 sweeps is typical; `maxIter` bounds the job and
   * adversarially long chains would swap in large-star/small-star.
   * Input: (id_a, id_b) pairs. Output: (id, group_id = min id reachable).
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // symmetrize, dedup, then pin the cached edge partitioning to hash(src):
    // every sweep joins edges on src, and a cache that already carries that
    // partitioning means the (corpus-scale) edge side is shuffled ONCE at
    // setup instead of once per sweep — only the (small) label side moves
    // no distinct: min-label propagation is identical on a multigraph
    // (duplicate edges duplicate messages into the SAME min-aggregate), and
    // the callers' pair generators already emit distinct (id_a < id_b) pairs
    // — the former distinct() was one full extra exchange of the edge set
    // before the cache
    // every sweep runs at the pair input's partition scale
    val numParts = TextOps.inputScaleParts(pairs)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(numParts, col("src")).cache()
    // Each sweep MUST truncate lineage (localCheckpoint), not just cache:
    // labels_i references labels_{i-1} twice (join + message aggregate), so
    // the logical plan doubles per sweep and the analyzer — which sees plans,
    // not caches — goes exponential by sweep ~20.
    // seed labels with min(id, min neighbor) — the edge list is symmetrized,
    // so this one aggregate IS the first propagation sweep (saves a full
    // join+aggregate+checkpoint round vs seeding label = id)
    var labels = edges.groupBy("src")
      .agg(least(min(col("dst")), col("src")).as("label"))
      .select(col("src").as("id"), col("label"))
      .localCheckpoint(true)
    var iter = 1
    var converged = false
    try {
      while (iter < maxIter && !converged) {
        val msgs = edges
          .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
          .groupBy(col("dst").as("id"))
          .agg(min(col("label")).as("nbr_min"))
        // convergence check rides the checkpoint job itself via observe():
        // CollectMetrics counts improved labels while the sweep materializes,
        // so a sweep costs ONE job, not a sweep job + a check job
        val obs = org.apache.spark.sql.Observation()
        val next = labels
          .join(msgs, Seq("id"), "left")
          .select(col("id"), col("label").as("__old"),
            least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
          .observe(obs, count(when(col("label") < col("__old"), lit(1))).as("changed"))
          .localCheckpoint(true)
        converged = org.apache.spark.sql.GraftBridge.observationRow(obs, 2000L)
          .map(_.getAs[Long]("changed") == 0L)
          // metrics listener missed the checkpoint action (defensive — pay
          // the old explicit check against the now-cached sweep)
          .getOrElse(next.where(col("label") < col("__old")).isEmpty)
        labels = next.select("id", "label")
        iter += 1
      }
      if (!converged) {
        // a component deeper than maxIter sweeps — emitting the partial labels
        // would silently split groups and corrupt a dedup keep-set. Hand the
        // adversarial graph to the O(log n)-round contraction instead.
        System.err.println(s"[graft] connectedComponents: not converged after " +
          s"$maxIter label-propagation sweeps; falling back to " +
          "large-star/small-star contraction")
        connectedComponentsStar(pairs)
      } else labels.select(col("id"), col("label").as("group_id"))
    } finally { edges.unpersist(); () }
  }

  /**
   * Connected components by alternating large-star/small-star contraction
   * (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
   * scale insurance for adversarially deep components, where min-label
   * propagation's O(diameter) sweeps degenerate. Each round is two
   * groupBy-min + join passes over the current edge set; components contract
   * to min-rooted stars in O(log n) rounds regardless of diameter.
   *
   *  - large-star: every neighbor v > u links to m(u) = min(Γ(u) ∪ {u});
   *  - small-star: edges point at their larger endpoint; every smaller
   *    neighbor (and u itself) links to the minimum.
   *
   * Convergence = edge set reaches a fixed point (count + order-insensitive
   * XOR of per-edge xxhash64 — ANSI-safe, no sum overflow; a false stop would
   * need two distinct edge sets with equal count AND equal 64-bit fold in the
   * same job). Fails loudly after `maxRounds` instead of returning split
   * groups.
   * Input/output contract identical to [[connectedComponents]].
   */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    // keep the full node set: a node appearing ONLY in self-pairs (x, x) must
    // still be emitted with group_id = itself, matching the propagation path
    val nodes = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id")))
      .distinct().localCheckpoint(true)
    var edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)

    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = nbrs.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      nbrs.join(mins, "src").where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val directed = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val mins = directed.groupBy("src").agg(min("dst").as("m"))
      directed.join(mins, "src")
        .select(col("dst").as("v"), col("m"))
        .unionByName(mins.select(col("src").as("v"), col("m")))
        .where(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
        .distinct()
    }

    var sig = signature(edges)
    var round = 0
    var stable = false
    while (round < maxRounds && !stable) {
      // localCheckpoint per round: lineage doubles per sweep otherwise (see
      // connectedComponents)
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSig = signature(next)
      stable = nextSig == sig
      edges = next; sig = nextSig
      round += 1
    }
    require(stable,
      s"connectedComponentsStar: not converged after $maxRounds rounds")
    // fixed point = min-rooted stars: every src points at its component min;
    // nodes with no non-self edge rejoin as their own singleton group
    val grouped = edges.select(col("src").as("id"), col("dst").as("group_id"))
      .unionByName(edges.select(col("dst").as("id"), col("dst").as("group_id")))
      .groupBy("id").agg(min("group_id").as("group_id"))
    nodes.join(grouped, Seq("id"), "left")
      .select(col("id"), coalesce(col("group_id"), col("id")).as("group_id"))
  }

  /** Curation materialization: drop every row whose id belongs to a group but
    * is not its representative (group_id = min id); rows never paired survive
    * untouched. One left-anti join against the (small) duplicate-id set. */
  def keepRepresentatives(df: DataFrame, idCol: String, groups: DataFrame): DataFrame = {
    val dupes = groups.where(col("id") =!= col("group_id"))
      .select(col("id").as(idCol))
    df.join(dupes, Seq(idCol), "left_anti")
  }

  /**
   * Quality-aware keep policy: within every duplicate group keep the member
   * with the BEST `score` (ties → lowest id) instead of the lowest id.
   * Real curation keeps the longest / highest-quality copy — near-dup
   * groups typically contain one full document and several truncated or
   * boilerplate-wrapped variants, and [[keepRepresentatives]]' min-id pick
   * is arbitrary about which survives. `score` is any Column over `df`
   * (token count, gopher signal, classifier probability, …).
   *
   * Scale shape: one ids+score join against the corpus (the score column is
   * projected in the scan — text never shuffles), a per-group bounded-heap
   * top-1 ([[graft.operators.Similarity.topKPerGroup]] — map-side capped,
   * no Window) and two ids-only anti-joins.
   */
  def keepBestRepresentatives(df: DataFrame, idCol: String, groups: DataFrame,
                              score: Column,
                              higherIsBetter: Boolean = true): DataFrame = {
    val scored = groups.join(
      df.select(col(idCol).as("id"), score.as("__score")), Seq("id"))
    val winners = Similarity.topKPerGroup(
        scored.where(col("__score").isNotNull), Seq("group_id"), "__score",
        "id", k = 1, ascending = !higherIsBetter)
      .select(col("group_id"), col("id"))
    // a group whose members ALL score NULL still keeps one representative —
    // fall back to the min-id pick (never silently delete a whole cluster)
    val fallback = scored
      .join(winners.select("group_id"), Seq("group_id"), "left_anti")
      .groupBy(col("group_id")).agg(min(col("id")).as("id"))
    val keepIds = winners.select("id").unionByName(fallback.select("id"))
    val losers = groups.select("id").join(keepIds, Seq("id"), "left_anti")
    df.join(losers.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Near-duplicate clusters end-to-end: LSH candidate pairs (verified by
    * exact Jaccard) → connected components → (id, group_id). The curation
    * step keeps `id == group_id` rows plus all never-paired docs. */
  def nearDupGroups(df: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                    threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    connectedComponents(
      minhashLshPairs(df, idCol, textCol, shingleN, bands, rowsPerBand,
        threshold, maxBucket))

  /**
   * Exact n-gram Jaccard pairs via an inverted-index self-join: explode
   * distinct shingles, join docs sharing a shingle, dedupe pairs, compute
   * exact Jaccard. Exact but O(pairs-sharing-a-shingle) — the verification
   * oracle for the LSH paths, or a primary dedup at moderate scale.
   *
   * `maxShingleDf` caps a shingle's document frequency before the self-join
   * (same guard as [[capBuckets]] on the LSH paths): one stop-shingle shared
   * by 1M docs would otherwise contribute 10¹² candidate pairs. A dropped
   * shingle loses a pair only if it was the pair's ONLY shared shingle — and
   * a shingle that common carries ~zero Jaccard evidence. Results below the
   * cap are exact (the driver oracle stays green).
   */
  /**
   * Cross-corpus n-gram overlap — the decontamination primitive: pairs
   * (id_l, id_r) where the LEFT (training) document contains at least
   * `threshold` of the RIGHT (benchmark) document's distinct n-grams
   * (containment = |sh_l ∩ sh_r| / |sh_r|, the standard train-vs-held-out
   * contamination test). Same inverted-index join shape as
   * [[ngramJaccardPairs]] but across two corpora, with the stop-shingle DF
   * cap applied to BOTH sides so one ubiquitous n-gram cannot go quadratic;
   * both shingle stages persist once. Returns (id_l, id_r, containment).
   */
  def crossNgramOverlap(left: DataFrame, right: DataFrame,
                        leftId: String, rightId: String,
                        leftText: String, rightText: String,
                        shingleN: Int = 3, threshold: Double = 0.8,
                        maxShingleDf: Int = 10000): DataFrame = {
    // hashed shingle sets: the containment arithmetic is identical over the
    // xxhash64 image of the string set (collision odds ≈ n²/2⁶⁵ per pair),
    // and the inverted-index exchange carries 8-byte longs instead of
    // ~25-byte n-gram strings (measured ~3× smaller in exchange format)
    def shingled(df: DataFrame, id: String, text: String, as: String) =
      df.select(col(id).as(as),
        graft.functions.TextExpressions.word_shingles_hashed(col(text), shingleN,
          distinct = true).as("sh"))
        .where(size(col("sh")) > 0)
    withPersistedStages(Seq(
      shingled(left, leftId, leftText, "id_l"),
      shingled(right, rightId, rightText, "id_r"))) { case Seq(l, r) =>
        val invL = capBuckets(
          l.select(col("id_l"), explode(col("sh")).as("shingle")),
          Seq("shingle"), maxShingleDf)
        val invR = capBuckets(
          r.select(col("id_r"), explode(col("sh")).as("shingle")),
          Seq("shingle"), maxShingleDf)
        invL.join(invR, "shingle")
          .select("id_l", "id_r").dropDuplicates("id_l", "id_r")
          .join(l.select(col("id_l"), col("sh").as("sh_l")), Seq("id_l"))
          .join(r.select(col("id_r"), col("sh").as("sh_r")), Seq("id_r"))
          .withColumn("containment",
            size(array_intersect(col("sh_l"), col("sh_r"))).cast("double") /
              size(col("sh_r")))
          .where(col("containment") >= threshold)
          .select("id_l", "id_r", "containment")
    }
  }

  /** Decontamination keep-set: drop every left (training) document that
    * contains ≥ `threshold` of some right (benchmark) document's n-grams —
    * one left-anti join against the (small) contaminated-id set. */
  def decontaminate(left: DataFrame, right: DataFrame,
                    leftId: String, rightId: String,
                    leftText: String, rightText: String,
                    shingleN: Int = 3, threshold: Double = 0.8,
                    maxShingleDf: Int = 10000): DataFrame = {
    val contaminated = crossNgramOverlap(left, right, leftId, rightId,
      leftText, rightText, shingleN, threshold, maxShingleDf)
      .select(col("id_l").as(leftId)).distinct()
    left.join(contaminated, Seq(leftId), "left_anti")
  }

  /**
   * [[decontaminate]] with a broadcast-Bloom prefilter on the training side —
   * the 100 TB shape. Plain `decontaminate` explodes EVERY training
   * document's shingles into the inverted-index exchange even though almost
   * all of a web corpus shares nothing with a benchmark suite; here a Bloom
   * filter over the (small, by contract) benchmark shingle set rides ONE
   * broadcast and each training document is tested ROW-LOCALLY at the scan:
   * only documents with at least `ceil(threshold · min_b|sh_b|)` possible
   * shingle hits proceed to the exact containment join. That bound is
   * exactly conservative — containment ≥ θ against some benchmark doc b
   * needs ≥ ceil(θ·|sh_b|) ≥ ceil(θ·min_b|sh_b|) shared shingles, and Bloom
   * counts have no false negatives — so the output is IDENTICAL to
   * [[decontaminate]]'s (false positives only send a few extra docs to the
   * verify join, which rejects them).
   *
   * One caveat keeps it honest: the `maxShingleDf` stop-shingle cap inside
   * the verify join is computed over the SURVIVOR subset, not the full
   * corpus — a shingle ubiquitous corpus-wide but rare among survivors can
   * participate where plain `decontaminate` would cap it. The cap is a
   * quadratic-blowup guard, not a semantic knob; with the default 10⁴ it
   * binds on neither path in practice (parity is asserted in DedupSpec).
   */
  /** The broadcastable "contamination door" model [[benchmarkBloom]] builds:
    * one Bloom filter over the benchmark suite's distinct shingles plus the
    * conservative hit bound — a document with `bloom_hits < minHits` is
    * PROVABLY below the containment threshold against every benchmark doc
    * (no false negatives), row-locally, with no join. Drives both the batch
    * prefilter ([[decontaminateBloom]]) and the streaming at-the-door filter
    * ([[graft.streaming.StreamingOps.decontaminateAtDoor]]). */
  final case class BloomDoor(
      bloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter],
      minHits: Int, shingleN: Int)

  /** Build a [[BloomDoor]] from a benchmark suite: shingle each benchmark
    * doc once (persisted for the min-size pass + the distinct explode), fit
    * the Bloom at the distinct-shingle count, bound = ceil(θ · min_b|sh_b|).
    * None when no benchmark doc yields a shingle (nothing can contaminate). */
  def benchmarkBloom(right: DataFrame, rightText: String,
                     shingleN: Int = 3, threshold: Double = 0.8,
                     fpp: Double = 0.01): Option[BloomDoor] = {
    val spark = right.sparkSession
    // hashed shingles end-to-end: the Bloom is built over the xxhash64 image
    // of the benchmark shingle set and probed with `mightContainLong` — a
    // string shingle on the training side hashes to the same long, so the
    // no-false-negatives guarantee is unchanged; each probe costs one long
    // hash instead of re-hashing string bytes
    val benchSh = right.select(
      graft.functions.TextExpressions.word_shingles_hashed(col(rightText),
        shingleN, distinct = true).as("sh"))
      .where(size(col("sh")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val minRow = benchSh.agg(min(size(col("sh")))).head()
      if (minRow.isNullAt(0)) None // no shingled benchmark docs
      else {
        val minB = minRow.getInt(0)
        val distinctSh = benchSh.select(explode(col("sh")).as("s")).distinct()
        val bloom = distinctSh.stat.bloomFilter("s",
          math.max(1L, distinctSh.count()), fpp)
        val minHits = math.max(1, math.ceil(threshold * minB).toInt)
        Some(BloomDoor(spark.sparkContext.broadcast(bloom), minHits, shingleN))
      }
    } finally { benchSh.unpersist(blocking = false); () }
  }

  /** Row-local SUSPECT predicate under a [[BloomDoor]]: true iff the text
    * clears the conservative hit bound (could be contaminated — needs exact
    * verification); false is a proof of cleanliness. Stateless and
    * codegen'd — safe in any stream. */
  def bloomSuspect(text: Column, door: BloomDoor): Column =
    graft.functions.BloomExpressions.bloom_hits_long(
      graft.functions.TextExpressions.word_shingles_hashed(text, door.shingleN,
        distinct = true), door.bloom) >= door.minHits

  def decontaminateBloom(left: DataFrame, right: DataFrame,
                         leftId: String, rightId: String,
                         leftText: String, rightText: String,
                         shingleN: Int = 3, threshold: Double = 0.8,
                         maxShingleDf: Int = 10000,
                         fpp: Double = 0.01): DataFrame =
    benchmarkBloom(right, rightText, shingleN, threshold, fpp) match {
      case None => left // no shingled benchmark docs
      case Some(door) =>
        val survivors = left.where(bloomSuspect(col(leftText), door))
        val contaminated = crossNgramOverlap(survivors, right, leftId, rightId,
          leftText, rightText, shingleN, threshold, maxShingleDf)
          .select(col("id_l").as(leftId)).distinct()
        left.join(contaminated, Seq(leftId), "left_anti")
    }

  /**
   * Cross-document EXACT repeated spans (Lee et al. 2021, arXiv:2107.06499
   * "Deduplicating Training Data Makes Language Models Better" — their
   * dedup unit is a repeated ≥50-token substring, not a whole document):
   * every MAXIMAL token span of length ≥ k shared verbatim by two documents,
   * with its position in both. Doc-level exact/near dedup misses these
   * (a news article quoting a boilerplate paragraph is no near-dup of the
   * press release); span-level output lets curation cut the span, not the
   * document.
   *
   * Shape — the distributed stand-in for a suffix array, anchored on
   * positional k-grams:
   *  1. row-local positional k-gram fingerprints (pos from `posexplode`,
   *     dual (xxhash64, sha2-256) content key — the [[exactGroups]]
   *     collision argument, so no string join-back pass is needed); the
   *     shuffle carries (hashes, id, pos), never text;
   *  2. occurrence-capped inverted index ([[capBuckets]] rationale: one
   *     ubiquitous k-gram — a license header — must not go quadratic; a
   *     span is lost only if EVERY k-gram inside it is capped);
   *  3. cross-doc occurrence matches (id_a < id_b) on a shared DIAGONAL
   *     (pos_a − pos_b): consecutive pos_a runs per (id_a, id_b, diag) are
   *     one maximal span — classic gaps-and-islands via a Window
   *     PARTITIONED BY the pair+diagonal (bounded partitions, never the
   *     unpartitioned single-task trap);
   *  4. span_tokens = run length + k − 1.
   *
   * Returns (id_a, start_a, id_b, start_b, span_tokens), token positions
   * 0-based. Within-document repeats are out of scope (id_a < id_b).
   */
  /** Positional k-gram occurrence stage shared by the span operators:
    * (id, pos, dual content fingerprint) — the shuffle payload never
    * includes text. */
  private def positionalKgrams(df: DataFrame, idCol: String, textCol: String,
                               k: Int): DataFrame = {
    require(k >= 2, s"repeatedSpans: k must be >= 2, got $k")
    df.select(col(idCol).as("id"),
        posexplode(graft.functions.TextExpressions.word_shingles(
          col(textCol), k)).as(Seq("pos", "sh")))
      .select(col("id"), col("pos"),
        xxhash64(col("sh")).as("h64"), sha2(col("sh"), 256).as("hsha"))
  }

  /** Maximal-span coalescing shared by the span operators: occurrence-match
    * rows (id_a, pos_a, id_b, pos_b, diag) → one row per maximal run of
    * consecutive pos_a per (id_a, id_b, diag) — classic gaps-and-islands via
    * a Window PARTITIONED BY the pair+diagonal (bounded partitions, never
    * the unpartitioned single-task trap). `span_tokens` = run length+k−1. */
  private def spanIslands(matches: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a"))
    matches
      .withColumn("__island", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("__island"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        (count(lit(1)) + (k - 1)).cast("int").as("span_tokens"))
  }

  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    k: Int, maxOccurrences: Int = 1000): DataFrame = {
    val occ = positionalKgrams(df, idCol, textCol, k)
    withPersistedStage(occ) { o =>
      val capped = capBuckets(o, Seq("h64", "hsha"), maxOccurrences)
      val a = capped.select(col("h64"), col("hsha"),
        col("id").as("id_a"), col("pos").as("pos_a"))
      val b = capped.select(col("h64"), col("hsha"),
        col("id").as("id_b"), col("pos").as("pos_b"))
      val matches = a.join(b, Seq("h64", "hsha"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("pos_a"), col("id_b"), col("pos_b"),
          (col("pos_a") - col("pos_b")).as("diag"))
      spanIslands(matches, k)
        .select("id_a", "start_a", "id_b", "start_b", "span_tokens")
    }
  }

  /**
   * Combined cut-side span discovery over ONE persisted positional k-gram
   * stage — [[graft.operators.Curation.cutRepeatedSpans]]'s engine. The
   * keep-one policy only ever needs the occurrence to CUT: the higher-id
   * side of every cross-document span, plus (when `withinDoc`) the LATER
   * occurrence of every within-document repeat. Both fall out of a single
   * pair join over the same capped occurrence index with the predicate
   * `id_a < id_b OR (id_a = id_b AND pos_a < pos_b)` and a single islands
   * Window: cross matches (id_a < id_b) and self matches (id_a = id_b)
   * land in disjoint (id_a, id_b, diag) partitions, so each partition's
   * maximal runs are identical to what [[repeatedSpans]] /
   * [[withinDocRepeatedSpans]] emit separately — the former two-operator
   * shape (two persisted fingerprint stages, two corpus shingle scans, two
   * pair joins; the round-5 plan audit's flagged duplication) shares
   * everything here.
   *
   * Returns (idCol, start_b, span_tokens): one row per occurrence to cut.
   */
  private[graft] def repeatedSpanCutSides(df: DataFrame, idCol: String,
      textCol: String, k: Int, maxOccurrences: Int,
      withinDoc: Boolean): DataFrame = {
    val occ = positionalKgrams(df, idCol, textCol, k)
    withPersistedStage(occ) { o =>
      val capped = capBuckets(o, Seq("h64", "hsha"), maxOccurrences)
      val a = capped.select(col("h64"), col("hsha"),
        col("id").as("id_a"), col("pos").as("pos_a"))
      val b = capped.select(col("h64"), col("hsha"),
        col("id").as("id_b"), col("pos").as("pos_b"))
      val cond =
        if (withinDoc)
          col("id_a") < col("id_b") ||
            (col("id_a") === col("id_b") && col("pos_a") < col("pos_b"))
        else col("id_a") < col("id_b")
      val matches = a.join(b, Seq("h64", "hsha")).where(cond)
        .select(col("id_a"), col("pos_a"), col("id_b"), col("pos_b"),
          (col("pos_a") - col("pos_b")).as("diag"))
      spanIslands(matches, k)
        .select(col("id_b").as(idCol), col("start_b"), col("span_tokens"))
    }
  }

  /**
   * WITHIN-document exact repeated spans — [[repeatedSpans]]' complement
   * (that operator is cross-doc only, id_a < id_b; Lee et al. 2021's
   * substring dedup also removes a document's own internal repeats — a
   * scraped page whose nav block appears three times). Same machinery on
   * the same positional k-gram stage, self-matched WITHIN the document:
   * match pairs (pos_a < pos_b) on a shared diagonal (pos_b − pos_a > 0),
   * consecutive pos_a runs per (id, diag) coalesce into one maximal span
   * pair. The islands Window partitions by (id, diag) — bounded, never
   * global. Self-overlapping repeats (period < k, e.g. "a a a a a") emit
   * one span per period diagonal — the cut operator's range merge
   * collapses them, leaving exactly one copy.
   *
   * Returns (id, start_a, start_b, span_tokens) with start_a < start_b,
   * 0-based token positions, one row per maximal (earlier, later)
   * occurrence pair.
   */
  def withinDocRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                             k: Int, maxOccurrences: Int = 1000): DataFrame = {
    val occ = positionalKgrams(df, idCol, textCol, k)
    withPersistedStage(occ) { o =>
      val capped = capBuckets(o, Seq("h64", "hsha"), maxOccurrences)
      val a = capped.select(col("h64"), col("hsha"),
        col("id"), col("pos").as("pos_a"))
      val b = capped.select(col("h64"), col("hsha"),
        col("id"), col("pos").as("pos_b"))
      // the join key INCLUDES id — matches never leave the document, and the
      // islands partitions (id_a = id_b = id, diag) are bounded by one
      // document's repeat count, never corpus-scale
      val matches = a.join(b, Seq("h64", "hsha", "id"))
        .where(col("pos_a") < col("pos_b"))
        .select(col("id").as("id_a"), col("pos_a"),
          col("id").as("id_b"), col("pos_b"),
          (col("pos_a") - col("pos_b")).as("diag"))
      spanIslands(matches, k)
        .select(col("id_a").as("id"), col("start_a"), col("start_b"),
          col("span_tokens"))
    }
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.5,
                        maxShingleDf: Int = 10000): DataFrame = {
    // hashed shingle sets (see crossNgramOverlap): Jaccard over the xxhash64
    // image of the string set is value-identical up to ≈ n²/2⁶⁵ collision
    // odds per pair; the inverted-index self-join and the verify join-backs
    // move 8-byte longs instead of n-gram strings
    val shingled = df.select(col(idCol),
      graft.functions.TextExpressions.word_shingles_hashed(col(textCol), shingleN,
        distinct = true).as("sh"))
      .where(size(col("sh")) > 0)
    withPersistedStage(shingled) { base =>
      // one-pass capped pair generation over the inverted index (see
      // cappedBucketPairs — the former count+semi-join guard and the
      // x×y self-join read the exploded index three times)
      val pairs = cappedBucketPairs(
        base.select(col(idCol), explode(col("sh")).as("shingle")),
        Seq("shingle"), idCol, lit(0), maxShingleDf)
        .select("id_a", "id_b")
        .dropDuplicates("id_a", "id_b")
      pairs
        .join(base.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(base.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .withColumn("jaccard",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))))
        .where(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }
  }
}
