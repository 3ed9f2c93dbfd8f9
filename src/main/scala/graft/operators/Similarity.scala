package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BoundedTopK
import graft.functions.PqExpressions.{ProbeList, adc_probe}
import graft.model.{IvfPq, NoTransform, VectorTransform}

/**
 * Similarity search over an embedding column (`array<float>`):
 *  - brute-force cosine top-k (the exactness baseline — one broadcast of the
 *    query set, one narrow scan, partial top-k per partition via
 *    TakeOrderedAndProject);
 *  - IVF-bucketed ANN (the scale path — corpus pre-partitioned by nearest
 *    coarse centroid, queries probe only `nprobe` lists → partition-pruned
 *    scan, the same shape as the reference's inverted file,
 *    ds/IVFPQ.java:408–450);
 *  - hyperplane-LSH bucketed ANN (sign-random-projection SimHash of the
 *    embedding, band join).
 *
 * Vector math uses built-in higher-order functions (zip_with/aggregate) —
 * codegen'd, no UDFs.
 */
object Similarity {

  /** Cosine similarity; 0.0 when either side has zero norm. Native Catalyst
    * expression — the HOF formulation evaluated an interpreted lambda per
    * element and dominated the candidate-verification stages. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vec_cosine(a, b)

  /**
   * Per-group bounded-heap top-k (the T1 partial+final shape,
   * ds/Linear.java:138–163): map-side [[BoundedTopK]] collapses each
   * partition's candidates to ≤ k rows per group before the shuffle; the final
   * aggregate merges heaps. Plans as ObjectHashAggregate — no Window, no
   * single-task per-group sort (asserted in PlanSpec).
   * Returns groupCols + (idCol, scoreCol, rank).
   */
  def topKPerGroup(scored: DataFrame, groupCols: Seq[String],
                   scoreCol: String, idCol: String, k: Int,
                   ascending: Boolean): DataFrame = {
    val g = groupCols.map(col)
    scored
      .groupBy(g: _*)
      .agg(BoundedTopK.topK(col(scoreCol), col(idCol), lit(null), k,
        ascending).as("__tk"))
      .select(g :+ posexplode(col("__tk")): _*)
      .select(g ++ Seq(
        col("col.id").as(idCol),
        col("col.score").as(scoreCol),
        (col("pos") + 1).cast("int").as("rank")): _*)
  }

  /**
   * Brute-force cosine top-k: each query (small set, broadcast) against the
   * full corpus; rank per query by (similarity desc, neighbor id asc) —
   * deterministic under ties. Self-matches excluded.
   * Returns (query_id, neighbor_id, cosine, rank).
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    topKPerGroup(scored, Seq("query_id"), "cosine", "neighbor_id", k,
      ascending = false)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /**
   * Radius (range) search — the threshold complement of top-k: every corpus
   * vector with cosine ≥ `minCosine` of each query. Same broadcast-query /
   * narrow-scan shape as [[bruteForceTopK]] but the filter replaces the
   * bounded heap, so output size is data-dependent; at 100 TB the scan is
   * embarrassingly parallel and nothing shuffles (the filter is applied
   * map-side before any exchange). Self-matches excluded.
   * Returns (query_id, neighbor_id, cosine).
   */
  def rangeSearch(queries: DataFrame, corpus: DataFrame,
                  idCol: String, vecCol: String, minCosine: Double): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Assign each row its nearest coarse-centroid list id (the IVF
    * partitioning key, ds/IVFPQ.java:100–106). The centroid matrix rides in a
    * Spark broadcast inside a native codegen'd expression
    * ([[graft.functions.CentroidExpressions.NearestCentroid]]) — O(1) plan
    * nodes and a compiled scan loop at any k_c, vs the ~k_c·d literal nodes a
    * per-centroid `struct(aggregate(zip_with(...)))` formulation would pin
    * into the plan (un-compilable at the reference k_c=8192, d=1024). */
  def withListId(df: DataFrame, vecCol: String,
                 centroids: Array[Array[Double]]): Column =
    graft.functions.CentroidExpressions.nearest_centroid(col(vecCol),
      df.sparkSession.sparkContext.broadcast(centroids))

  /**
   * IVF ANN top-k: corpus carries a `list_id` (ideally its partition column →
   * Catalyst prunes non-probed lists at planning time); each query probes the
   * `nprobe` nearest coarse lists and ranks within them. Same output schema
   * as [[bruteForceTopK]]. With nprobe = numLists this is exact.
   *
   * `broadcastQueries = true` (default) pins the reference's per-query-batch
   * semantics (ds/IVFPQ.java:408 searches one bounded query set): the query
   * side MUST fit in a broadcast — a million-row query table would fail the
   * broadcast, not degrade. Pass `broadcastQueries = false` for large query
   * tables: the hint is dropped and the probe join plans as an ordinary
   * shuffle join on `probe === list_id` (Catalyst may still choose to
   * broadcast if the size estimate clears `autoBroadcastJoinThreshold`);
   * identical results, corpus-side partition pruning retained.
   */
  def ivfTopK(queries: DataFrame, corpusWithList: DataFrame,
              idCol: String, vecCol: String,
              centroids: Array[Array[Double]], k: Int, nprobe: Int,
              broadcastQueries: Boolean = true): DataFrame = {
    // nprobe nearest centroids per query — the probe-list selection
    // (ds/IVFPQ.java:408–420) as a native broadcast-centroid expression
    // ordered (distance asc, index asc), same result as sorting per-centroid
    // distance structs but with O(1) plan nodes at any k_c.
    val probeLists = graft.functions.CentroidExpressions.k_nearest_centroids(
      col("qv"), nprobe, queries.sparkSession.sparkContext.broadcast(centroids))
    val qBare = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("probe", explode(probeLists))
    val q = if (broadcastQueries) broadcast(qBare) else qBare
    val c = corpusWithList.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col("list_id"))
    val scored = q.join(c, col("probe") === col("list_id") &&
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    topKPerGroup(scored, Seq("query_id"), "cosine", "neighbor_id", k,
      ascending = false)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /**
   * IVFADC index build over an embedding corpus (ds/IVFPQ.java:100–117): each
   * row → (id, list_id, pq_code) in one narrow compiled pass — the
   * [[graft.model.IvfPq]] encode (coarse assignment, residual, PQ encode)
   * inside a single broadcast-state expression. The output is the
   * reference's inverted file as a table: write it through SnapshotSink
   * partitioned by `list_id` and probed searches partition-prune
   * (IvfSnapshotSpec shape). 8 bits/sub-code × m vs 4·d bytes raw — the
   * representation that fits 95.2M vectors in 16 GB
   * (exm/YFCC100MExample.java:45–52).
   */
  def ivfPqEncode(df: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]],
                  pq: graft.kernels.Kernels.PqModel): DataFrame = {
    val enc = graft.functions.PqExpressions.ivf_pq_encode(col(vecCol),
      df.sparkSession.sparkContext.broadcast(IvfPq(centroids, pq)))
    df.select(col(idCol), enc.as("__enc"))
      .select(col(idCol), col("__enc.list_id").as("list_id"),
        col("__enc.pq_code").as("pq_code"))
  }

  /** Multi-query IVFADC as ONE scan stage (ds/IVFPQ.java:408–450 at |Q|
    * scale — the set-based twin of what [[ivfTopK]] does for raw cosine):
    * probe selection and per-(query, list) ADC LUTs come from the
    * [[graft.model.IvfPq]] codec driver-side over the BOUNDED query set and
    * are grouped per list into ONE broadcast: list l → the ids of the queries
    * probing l and their LUTs (|Q|·nprobe tables of m×k_s doubles);
    * `transform` is the pre-PQ transform the corpus was encoded under (a
    * [[graft.model.ModelBundle]]'s, or none for [[ivfPqEncode]] output). The
    * encoded corpus is scanned under a static `list_id IN (…)` filter
    * (partition-pruned when the corpus is list_id-partitioned on disk);
    * `adc_probe` maps each row to its (query_id, adc_dist) pairs, `inline`
    * expands them, and a per-query [[BoundedTopK]] (adc asc, id tie-break)
    * replaces N sort+limits. No join, no per-query union: the corpus is
    * scanned ONCE and the plan is the same for any |Q|. Rows with a null
    * `list_id` or `pq_code` (featurize error rows) give no candidates. For
    * corpus×corpus workloads use the LSH/near-dup operators instead — an
    * unbounded query side must not drive driver-side LUT construction.
    * Returns (query_id, neighbor_id, list_id, adc_dist), per query the k best
    * by (adc_dist asc, id asc). */
  def ivfPqSearchMany(encoded: DataFrame, idCol: String,
                      queries: Seq[(Long, Array[Double])],
                      centroids: Array[Array[Double]],
                      pq: graft.kernels.Kernels.PqModel,
                      k: Int, nprobe: Int,
                      transform: VectorTransform = NoTransform): DataFrame = {
    require(queries.nonEmpty, "ivfPqSearchMany: empty query set")
    require(k >= 1, s"ivfPqSearchMany: k=$k must be >= 1")
    require(nprobe >= 1, s"ivfPqSearchMany: nprobe=$nprobe must be >= 1")
    val dupIds = queries.groupBy(_._1).collect { case (q, vs) if vs.size > 1 => q }
    require(dupIds.isEmpty,
      s"ivfPqSearchMany: duplicate query ids ${dupIds.toSeq.sorted.mkString(",")}")
    val codec = IvfPq(centroids, pq, transform)
    val probes = queries
      .flatMap { case (qid, qv) => codec.probe(qv, nprobe).map(li => (li, qid, qv)) }
      .groupBy(_._1)
      .map { case (li, ps) =>
        li -> ProbeList(ps.map(_._2).toArray, ps.map(p => codec.lut(p._3, li)).toArray)
      }
    val bcProbes = encoded.sparkSession.sparkContext.broadcast(probes)
    val scored = encoded
      .where(col("list_id").isin(probes.keys.toSeq.sorted.map(Integer.valueOf): _*))
      .select(col(idCol), col("list_id"),
        inline(adc_probe(col("pq_code"), col("list_id"), bcProbes)))
    scored.groupBy(col("query_id"))
      .agg(BoundedTopK.topK(col("adc_dist"), col(idCol), col("list_id"), k,
        ascending = true).as("__tk"))
      .select(col("query_id"), explode(col("__tk")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.payload").as("list_id"), col("e.score").as("adc_dist"))
  }

  /**
   * Two-stage IVFADC search with exact re-rank (the IVFADC+R shape, Jégou
   * et al. TPAMI 2011 §V / FAISS's refine stage): PQ distances rank
   * candidates cheaply but carry quantization error, so the ADC stage is
   * widened to `m ≥ k` candidates per query and the survivors are re-ranked
   * by EXACT squared L2 against the full vectors. Scale shape: the
   * candidate set is |Q|·m ids — it is broadcast back onto the vector
   * table, so the corpus is scanned once, full vectors never enter an
   * exchange, and the exact distance runs in the native codegen'd
   * `vec_squared_l2`; the final per-query k is a [[BoundedTopK]] partial
   * aggregate, no Window. Returns (query_id, neighbor_id, list_id,
   * l2_dist), per query the k best by (l2_dist asc, id asc).
   */
  def ivfPqSearchRerank(encoded: DataFrame, vectors: DataFrame, idCol: String,
                        vecCol: String, queries: Seq[(Long, Array[Double])],
                        centroids: Array[Array[Double]],
                        pq: graft.kernels.Kernels.PqModel,
                        k: Int, m: Int, nprobe: Int): DataFrame = {
    require(m >= k, s"re-rank window m=$m must be >= k=$k")
    val spark = encoded.sparkSession
    import spark.implicits._
    val cand = ivfPqSearchMany(encoded, idCol, queries, centroids, pq,
        k = m, nprobe = nprobe)
      .select(col("query_id"), col("neighbor_id"), col("list_id"))
    val qDf = queries.toDF("query_id", "__qv")
    val scored = vectors
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qDf), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("list_id"),
        graft.functions.VectorExpressions.vec_squared_l2(
          col("__qv"), col("__nv")).as("l2_dist"))
    scored.groupBy(col("query_id"))
      .agg(BoundedTopK.topK(col("l2_dist"), col("neighbor_id"),
        col("list_id"), k, ascending = true).as("__tk"))
      .select(col("query_id"), explode(col("__tk")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.payload").as("list_id"), col("e.score").as("l2_dist"))
  }

  /**
   * Exact-vs-approx recall diagnostic (J5, exm/Example.java:155–182: the
   * reference prints the overlap of linear vs IVFPQ result sets). Per query:
   * |exact ∩ approx| / k over the top-k neighbor-id sets. Both inputs in the
   * (query_id, neighbor_id, …) shape of [[bruteForceTopK]]/[[ivfTopK]].
   */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    e.groupBy("query_id").agg(count(lit(1)).as("k_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("k_exact"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall_at_k"))
  }

  /** Sign-random-projection hash of an embedding: bit i = sign(v · h_i),
    * hyperplanes seeded-deterministic. Embedding-space SimHash for LSH
    * bucketing and embedding near-dup dedup. */
  def hyperplaneHash(vecCol: Column, dim: Int, bits: Int, seed: Long): Column = {
    val rnd = new java.util.Random(seed)
    val planes = Array.fill(bits, dim)(rnd.nextGaussian())
    graft.functions.VectorExpressions.hyperplane_hash(vecCol, planes)
  }

  /** Embedding near-duplicate CLUSTERS: LSH-bucketed pairs → distributed
    * connected components (semantic dedup: keep one row per cluster via
    * Dedup.keepRepresentatives). */
  def embeddingNearDupGroups(df: DataFrame, idCol: String, vecCol: String,
                             dim: Int, threshold: Double = 0.95,
                             bits: Int = 32, chunks: Int = 4,
                             seed: Long = 42L, maxBucket: Int = 1000): DataFrame =
    graft.operators.Dedup.connectedComponents(
      embeddingNearDupPairs(df, idCol, vecCol, dim, threshold, bits, chunks,
        seed, maxBucket))

  /** Embedding near-duplicate pairs: bucket by hyperplane-hash chunks (recall
    * by pigeonhole), verify with exact cosine ≥ threshold. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            dim: Int, threshold: Double = 0.95,
                            bits: Int = 32, chunks: Int = 4,
                            seed: Long = 42L, maxBucket: Int = 1000): DataFrame = {
    val bitsPer = bits / chunks
    val hashStage = df.select(col(idCol), col(vecCol).as("v"),
      hyperplaneHash(col(vecCol), dim, bits, seed).as("hh"))
    // the O(bits·dim)-per-row hash stage is read by the bucket-count guard,
    // its semi-join probe, and both sides of the pair join — persist it once
    // (Dedup.withPersistedStage rationale)
    graft.operators.Dedup.withPersistedStage(hashStage) { hashed =>
      // ids-only candidate generation (the lshPairsOver discipline, guide
      // §8: decide with small rows, move the payload once): the banding
      // explode and the bucket self-join used to carry the VECTOR ×chunks —
      // at corpus scale that is chunks× the embedding bytes through two
      // exchanges for rows that mostly never become candidates. Vectors now
      // join back from the persisted stage once per surviving candidate.
      val banded0 = hashed.select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(chunks - 1)),
          c => call_function("shiftright", col("hh"), c * bitsPer)
            .bitwiseAND(lit((1L << bitsPer) - 1)))).as(Seq("chunk", "key")))
      // one-pass capped pair generation (Dedup.cappedBucketPairs): the
      // hot-bucket guard fuses into the bounded-heap aggregate and ordered
      // pairs generate row-locally — the former count+semi-join guard and
      // a×b self-join read the banded index three times
      graft.operators.Dedup.cappedBucketPairs(banded0, Seq("chunk", "key"),
          idCol, lit(0), maxBucket)
        .select("id_a", "id_b")
        .dropDuplicates("id_a", "id_b")
        .join(hashed.select(col(idCol).as("id_a"), col("v").as("v_a")), Seq("id_a"))
        .join(hashed.select(col(idCol).as("id_b"), col("v").as("v_b")), Seq("id_b"))
        .withColumn("cosine", cosine(col("v_a"), col("v_b")))
        .where(col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    }
  }

  /**
   * SemDeDup-shaped near-duplicate pairs (Abbas et al. 2023, arXiv:2303.09540):
   * bucket by nearest k-means centroid — the corpus-ADAPTED coarse quantizer,
   * via the same broadcast `nearest_centroid` expression the IVF family
   * plans — then verify with exact cosine ≥ threshold INSIDE each cluster.
   * vs [[embeddingNearDupPairs]] (hyperplane LSH): buckets follow the data
   * distribution instead of random projections, so the candidate budget
   * concentrates where the corpus actually clusters; the price is that a
   * pair split across two clusters is missed — the documented SemDeDup
   * approximation (the LSH variant's multi-chunk pigeonhole has no such
   * blind spot but needs `chunks` hash passes).
   *
   * Scale shape: one shuffle on `list_id` carrying (id, vec, list_id);
   * within-cluster verify is quadratic in cluster size, so k_c must grow
   * with the corpus (SemDeDup's own contract: clusters of ~10³–10⁴ rows);
   * [[graft.operators.Dedup]]'s hot-bucket guard drops clusters over
   * `maxBucket` outright rather than letting one degenerate cluster go
   * quadratic. The assignment stage feeds the guard count, its probe and
   * both join sides — persisted once, released after the (small) pair set
   * materializes.
   */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                           centroids: Array[Array[Double]],
                           threshold: Double = 0.95,
                           maxBucket: Int = 10000): DataFrame = {
    val listed = df.select(col(idCol), col(vecCol).as("v"),
      withListId(df, vecCol, centroids).as("list_id"))
    graft.operators.Dedup.withPersistedStage(listed) { ls =>
      val ok = ls.groupBy(col("list_id")).count()
        .where(col("count") <= maxBucket).drop("count")
      val capped = ls.join(ok, Seq("list_id"), "left_semi")
      // vectors deliberately RIDE the (single, disjoint-key) cluster join:
      // unlike the banded LSH paths there is no cross-band candidate dedup
      // to shrink behind, so an ids-only pass + vector join-backs would
      // re-exchange the corpus for every candidate row (measured 1.4×
      // slower) — every within-cluster pair needs both vectors exactly once
      // and the cluster join delivers them without a second pass
      val a = capped.select(col("list_id"), col(idCol).as("id_a"), col("v").as("v_a"))
      val b = capped.select(col("list_id"), col(idCol).as("id_b"), col("v").as("v_b"))
      a.join(b, Seq("list_id"))
        .where(col("id_a") < col("id_b"))
        .withColumn("cosine", cosine(col("v_a"), col("v_b")))
        .where(col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    }
  }

  /** The (id, vector, list_id) assignment stage [[semanticNearDupPairs]]
    * computes — exposed so a pipeline can PERSIST it (e.g.
    * `SnapshotSink.append(..., keyCol = idCol)`) and dedup grown corpora
    * incrementally: at SemDeDup scale the nearest-centroid assignment is
    * k_c·d work per vector (k_c up to 8192, d up to 1024 in the reference
    * regime) — [[semanticNearDupPairsIncremental]] pays it for the NEW
    * batch only. */
  def semanticAssignments(df: DataFrame, idCol: String, vecCol: String,
                          centroids: Array[Array[Double]]): DataFrame =
    df.select(col(idCol), col(vecCol).as("v"),
      withListId(df, vecCol, centroids).as("list_id"))

  /** Stable fingerprint of a centroid model (MD5 over the raw double bits,
    * row-major). Part of the assignment table's sink format, so it is
    * checked on every append and read: [[semanticNearDupPairsIncremental]]'s
    * contract is ONE centroid model across old and new — mixing models
    * silently mis-buckets, so the mismatch must fail loudly instead. */
  def centroidFingerprint(centroids: Array[Array[Double]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8)
    centroids.foreach { row =>
      bb.clear(); bb.putLong(row.length.toLong); md.update(bb.array(), 0, 8)
      row.foreach { d =>
        bb.clear(); bb.putDouble(d); md.update(bb.array(), 0, 8)
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Persist [[semanticAssignments]] of `df` into a
    * [[graft.sink.SnapshotSink]] table, resume-safe: only ids not already
    * committed are centroid-assigned (at SemDeDup scale that is the k_c·d
    * dominant cost per vector), so a grown re-curation or a crash replay
    * pays for genuinely new vectors only. The centroid-model fingerprint is
    * the table's sink format: an append or a [[readSemanticAssignments]]
    * under a different model is refused. */
  def persistSemanticAssignments(df: DataFrame, table: String, idCol: String,
                                 vecCol: String,
                                 centroids: Array[Array[Double]]): Unit = {
    val assign = semanticAssignments(df, idCol, vecCol, centroids)
    graft.sink.SnapshotSink.appendMissing(assign, table, idCol, Seq.empty,
      format = assignmentFormat(centroids))
    ()
  }

  private def assignmentFormat(centroids: Array[Array[Double]]): Map[String, String] =
    Map("op" -> "semantic_assignments",
      "centroid_md5" -> centroidFingerprint(centroids),
      "k_c" -> centroids.length.toString)

  /** Read a [[persistSemanticAssignments]] table back for
    * [[semanticNearDupPairsIncremental]]; the sink refuses a table built
    * under another centroid model. */
  def readSemanticAssignments(spark: org.apache.spark.sql.SparkSession,
                              table: String,
                              centroids: Array[Array[Double]]): DataFrame =
    graft.sink.SnapshotSink.read(spark, table, assignmentFormat(centroids))

  /**
   * INCREMENTAL SemDeDup — [[semanticNearDupPairs]] against a persisted
   * assignment table: pairs touching the NEW batch only (new×new +
   * new×old within each cluster), never old×old. The embedding-space member
   * of the incremental family ([[graft.operators.Dedup
   * .minhashLshPairsIncremental]] for text shingles,
   * [[graft.operators.Dedup.hammingPairs64Incremental]] for 64-bit image
   * sketches). CONTRACT: `oldAssignments` was produced by
   * [[semanticAssignments]] under the SAME centroid model — mixing models
   * silently mis-buckets (centroids are the pair semantics here); with
   * stable centroids and no cluster crossing `maxBucket`,
   *   full(old ∪ new) ≡ full(old) ∪ incremental (SimilaritySpec).
   * Ids present in both sides take the NEW vector (re-ingest upsert). Only
   * the new batch's assignments are computed and cached; the old side is a
   * storage-backed scan.
   */
  def semanticNearDupPairsIncremental(newBatch: DataFrame,
                                      oldAssignments: DataFrame,
                                      idCol: String, vecCol: String,
                                      centroids: Array[Array[Double]],
                                      threshold: Double = 0.95,
                                      maxBucket: Int = 10000): DataFrame = {
    val nw = semanticAssignments(newBatch, idCol, vecCol, centroids)
      .withColumn("__new", lit(true))
    graft.operators.Dedup.withPersistedStage(nw) { n =>
      // vectors ride the cluster join (see semanticNearDupPairs: with no
      // cross-band dedup, ids-only + join-backs re-exchange the corpus per
      // candidate — measured slower)
      val old = oldAssignments.select(col(idCol), col("v"), col("list_id"))
        .join(n.select(col(idCol)), Seq(idCol), "left_anti")
        .withColumn("__new", lit(false))
      val all = n.unionByName(old)
      val ok = all.groupBy(col("list_id")).count()
        .where(col("count") <= maxBucket).drop("count")
      val capped = all.join(ok, Seq("list_id"), "left_semi")
      val a = capped.select(col("list_id"), col(idCol).as("id_a"),
        col("v").as("v_a"), col("__new").as("__new_a"))
      val b = capped.select(col("list_id"), col(idCol).as("id_b"),
        col("v").as("v_b"), col("__new").as("__new_b"))
      a.join(b, Seq("list_id"))
        .where(col("id_a") < col("id_b"))
        .where(col("__new_a") || col("__new_b"))
        .withColumn("cosine", cosine(col("v_a"), col("v_b")))
        .where(col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    }
  }

  /** [[semanticNearDupPairs]] → connected components: (id, group_id =
    * min member id) clusters, ready for `Dedup.keepRepresentatives` /
    * `Curation.splitByGroup`. */
  def semanticNearDupGroups(df: DataFrame, idCol: String, vecCol: String,
                            centroids: Array[Array[Double]],
                            threshold: Double = 0.95,
                            maxBucket: Int = 10000): DataFrame =
    graft.operators.Dedup.connectedComponents(
      semanticNearDupPairs(df, idCol, vecCol, centroids, threshold, maxBucket))
}
