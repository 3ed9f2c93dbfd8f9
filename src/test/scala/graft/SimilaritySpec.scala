package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kernels.Kernels
import graft.operators.Similarity

/** ANN operators vs scalar brute force: exact top-k parity, IVF exactness at
  * nprobe=all, recall bound at nprobe<all, LSH near-dup recall on injected
  * duplicates. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dim = 16
  private val nVec = 200
  private val rnd = new scala.util.Random(4242)
  private val vecs: Seq[(Long, Array[Float])] =
    (0 until nVec).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
  private lazy val corpus = vecs.toDF("vec_id", "embedding").cache()

  private def scalarTopK(qid: Long, k: Int): Seq[(Long, Double)] = {
    val q = vecs(qid.toInt)._2.map(_.toDouble)
    vecs.filter(_._1 != qid)
      .map { case (id, v) => (id, Kernels.cosineSimilarity(q, v.map(_.toDouble))) }
      .sortBy { case (id, c) => (-c, id) }
      .take(k)
  }

  test("bruteForceTopK matches scalar oracle (ids, ranks, cosines)") {
    val got = Similarity.bruteForceTopK(
      corpus.where(col("vec_id") < 3), corpus, "vec_id", "embedding", 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    (0L until 3L).foreach { qid =>
      val expect = scalarTopK(qid, 10)
      val mine = got(qid).sortBy(_._2).map(t => (t._3, t._4))
      assert(mine.map(_._1).sameElements(expect.map(_._1)), s"q$qid neighbor ids")
      mine.zip(expect).foreach { case ((_, c1), (_, c2)) =>
        assert(math.abs(c1 - c2) < 1e-9, s"q$qid cosine")
      }
    }
  }

  test("rangeSearch returns exactly the scalar pairs with cosine >= threshold") {
    val tau = 0.25
    val got = Similarity.rangeSearch(
      corpus.where(col("vec_id") < 3), corpus, "vec_id", "embedding", tau)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val expect = (for {
      qid <- 0L until 3L
      (nid, v) <- vecs if nid != qid
      c = Kernels.cosineSimilarity(vecs(qid.toInt)._2.map(_.toDouble), v.map(_.toDouble))
      if c >= tau
    } yield (qid, nid)).toSet
    assert(got == expect)
  }

  test("ivfTopK with nprobe = numLists is exactly brute force") {
    val centroids = vecs.take(8).map(_._2.map(_.toDouble)).toArray
    val withList = corpus.withColumn("list_id",
      Similarity.withListId(corpus, "embedding", centroids))
    val ivf = Similarity.ivfTopK(corpus.where(col("vec_id") < 3), withList,
      "vec_id", "embedding", centroids, k = 10, nprobe = 8)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(corpus.where(col("vec_id") < 3), corpus,
      "vec_id", "embedding", 10)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(ivf == bf)
  }

  test("ivfTopK list assignment matches scalar nearest-centroid") {
    val centroids = vecs.take(8).map(_._2.map(_.toDouble)).toArray
    val withList = corpus.withColumn("list_id",
      Similarity.withListId(corpus, "embedding", centroids))
    withList.select("vec_id", "embedding", "list_id").collect().foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      assert(r.getInt(2) == Kernels.nearestCentroid(v, centroids))
    }
  }

  test("ivfTopK at nprobe=2 achieves recall ≥ 0.3 (partition-pruned path works)") {
    val centroids = vecs.take(8).map(_._2.map(_.toDouble)).toArray
    val withList = corpus.withColumn("list_id",
      Similarity.withListId(corpus, "embedding", centroids))
    val ivf = Similarity.ivfTopK(corpus.where(col("vec_id") < 5), withList,
      "vec_id", "embedding", centroids, k = 10, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var hit = 0; var total = 0
    (0L until 5L).foreach { qid =>
      val truth = scalarTopK(qid, 10).map(_._1).toSet
      total += truth.size
      hit += (truth & ivf.getOrElse(qid, Set.empty)).size
    }
    val recall = hit.toDouble / total
    assert(recall >= 0.3, s"nprobe=2 recall $recall")
    assert(recall < 1.01)
  }

  test("embeddingNearDupPairs finds injected exact duplicates (recall 1.0 on dupes)") {
    val withDupes = corpus.unionByName(
      corpus.where(col("vec_id") < 10)
        .select((col("vec_id") + 1000).as("vec_id"), col("embedding")))
    val pairs = Similarity.embeddingNearDupPairs(withDupes, "vec_id", "embedding",
      dim = dim, threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0L until 10L).foreach(i =>
      assert(pairs.contains((i, i + 1000)), s"missing dupe pair $i"))
  }

  test("recallAtK (J5 overlap diagnostic) matches a scalar overlap computation " +
    "and is high at nprobe=3") {
    val centroids = vecs.take(8).map(_._2.map(_.toDouble)).toArray
    val withList = corpus.withColumn("list_id",
      Similarity.withListId(corpus, "embedding", centroids))
    val queries = corpus.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", 10)
    val approx = Similarity.ivfTopK(queries, withList, "vec_id", "embedding",
      centroids, k = 10, nprobe = 3)
    val got = Similarity.recallAtK(exact, approx, 10)
      .select("query_id", "recall_at_k").as[(Long, Double)].collect().toMap
    // scalar oracle: overlap of the two collected id sets
    val eSets = exact.select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val aSets = approx.select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0L until 5L).foreach { q =>
      val expect = (eSets(q) & aSets.getOrElse(q, Set.empty)).size / 10.0
      assert(math.abs(got(q) - expect) < 1e-9, s"q$q")
    }
    assert(got.values.sum / got.size >= 0.5, s"mean recall too low: $got")
  }

  test("embeddingNearDupGroups clusters injected duplicate chains") {
    // i and i+1000 are exact dupes → every group {i, i+1000} labels to i
    val withDupes = corpus.unionByName(
      corpus.where(col("vec_id") < 10)
        .select((col("vec_id") + 1000).as("vec_id"), col("embedding")))
    val groups = Similarity.embeddingNearDupGroups(withDupes, "vec_id",
      "embedding", dim = dim, threshold = 0.999)
      .as[(Long, Long)].collect().toMap
    (0L until 10L).foreach(i => assert(groups(i + 1000) == groups(i), s"dupe $i"))
  }

  test("semanticNearDupPairs = exactly the same-cluster cosine≥t pairs " +
    "(scalar argmin + candidate-rule replay); injected dupes always found; " +
    "hot-cluster cap drops; groups cluster the dupe chains") {
    val centroids = vecs.take(8).map(_._2.map(_.toDouble)).toArray
    val withDupes = corpus.unionByName(
      corpus.where(col("vec_id") < 10)
        .select((col("vec_id") + 1000).as("vec_id"), col("embedding")))
    val t = 0.5
    val got = Similarity.semanticNearDupPairs(withDupes, "vec_id", "embedding",
      centroids, threshold = t, maxBucket = 100000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // scalar replay of quantizer + same-cluster rule + verify
    val all = vecs.map { case (id, v) => (id, v.map(_.toDouble)) } ++
      vecs.filter(_._1 < 10).map { case (id, v) => (id + 1000, v.map(_.toDouble)) }
    val lists = all.map { case (id, v) =>
      id -> Kernels.nearestCentroid(v, centroids) }.toMap
    val expect = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && lists(ia) == lists(ib) &&
        Kernels.cosineSimilarity(va, vb) >= t
    } yield (ia, ib)).toSet
    assert(got == expect)
    // identical vectors quantize identically → dupes are always same-cluster
    (0L until 10L).foreach(i => assert(got.contains((i, i + 1000)), s"dupe $i"))
    // there IS at least one cross-cluster cosine≥t pair this run would miss
    // with a weaker threshold — assert the rule actually constrains (the
    // pair set is strictly smaller than unconstrained brute force)
    val unconstrained = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && Kernels.cosineSimilarity(va, vb) >= t
    } yield (ia, ib)).toSet
    assert(got.subsetOf(unconstrained) && got != unconstrained,
      "expected the same-cluster constraint to bite on this corpus")
    // quadratic-hot-cluster guard: maxBucket=1 drops every multi-member list
    assert(Similarity.semanticNearDupPairs(withDupes, "vec_id", "embedding",
      centroids, threshold = 0.0, maxBucket = 1).count() == 0)
    // CC groups label each dupe chain together
    val groups = Similarity.semanticNearDupGroups(withDupes, "vec_id",
      "embedding", centroids, threshold = t).as[(Long, Long)].collect().toMap
    (0L until 10L).foreach(i => assert(groups(i + 1000) == groups(i)))
  }

  test("semanticNearDupPairsIncremental over a persisted assignment table ≡ " +
    "full recompute on the grown corpus; only pairs touching new ids") {
    val centroids = vecs.take(8).map(_._2.map(_.toDouble)).toArray
    val lr = new scala.util.Random(1337)
    val oldCorpus = corpus // 200 base vectors
    // new batch: exact dupes of old vectors (new×old), a fresh twin pair
    // (new×new), and fresh random vectors
    val twin = Array.fill(dim)(lr.nextGaussian().toFloat)
    val newRows = vecs.take(10).map { case (id, v) => (id + 1000L, v) } ++
      Seq((5000L, twin), (5001L, twin)) ++
      (0 until 10).map(i => (5100L + i, Array.fill(dim)(lr.nextGaussian().toFloat)))
    val newBatch = newRows.toDF("vec_id", "embedding")
    val t = 0.5
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "cosine").as[(Long, Long, Double)]
        .collect().map(p => (p._1, p._2) -> p._3).toMap
    val full = ps(Similarity.semanticNearDupPairs(
      oldCorpus.unionByName(newBatch), "vec_id", "embedding", centroids,
      threshold = t, maxBucket = 100000))
    val oldPairs = ps(Similarity.semanticNearDupPairs(oldCorpus, "vec_id",
      "embedding", centroids, threshold = t, maxBucket = 100000))
    // persist the assignment stage as a snapshot table, read back for incr
    val table = java.nio.file.Files.createTempDirectory("graft_sem_sig")
      .resolve("assign").toString
    graft.sink.SnapshotSink.append(
      Similarity.semanticAssignments(oldCorpus, "vec_id", "embedding", centroids),
      table, "vec_id", Seq.empty, Map("op" -> "semantic_assignments"))
    val incr = ps(Similarity.semanticNearDupPairsIncremental(newBatch,
      graft.sink.SnapshotSink.read(spark, table), "vec_id", "embedding",
      centroids, threshold = t, maxBucket = 100000))
    val newIds = newRows.map(_._1).toSet
    incr.keys.foreach { case (a, b) =>
      assert(newIds.contains(a) || newIds.contains(b), s"old×old pair ($a,$b)")
    }
    assert(incr.keySet.intersect(oldPairs.keySet).isEmpty)
    assert(oldPairs.keySet ++ incr.keySet == full.keySet,
      s"missing=${(full.keySet -- oldPairs.keySet -- incr.keySet).take(5)} " +
        s"extra=${(oldPairs.keySet ++ incr.keySet -- full.keySet).take(5)}")
    incr.foreach { case (k, c) => assert(math.abs(c - full(k)) < 1e-12, s"$k") }
    assert(incr.contains((5000L, 5001L)), "new×new twin pair")
    (0L until 10L).foreach(i =>
      assert(incr.contains((i, i + 1000L)), s"new×old dupe pair $i"))
  }

  private lazy val pqSetup = {
    val centroids = vecs.take(8).map(_._2.map(_.toDouble)).toArray
    val m = 4; val kS = 8; val subLen = dim / m
    val pq = Kernels.PqModel(Array.tabulate(m)(j =>
      Array.tabulate(kS)(i =>
        java.util.Arrays.copyOfRange(vecs(i)._2.map(_.toDouble), j * subLen,
          (j + 1) * subLen))))
    (centroids, pq)
  }

  /** Scalar IVFADC oracle: encode every vector of `rows`, keep the lists
    * `qv` probes, rank by (adc, id); `got` (id, list, adc) must equal its top
    * k exactly — same ids, same lists, bit-identical distances. */
  private def assertIvfAdcOracle(got: Seq[(Long, Int, Double)], qv: Array[Double],
                                 rows: Seq[(Long, Array[Float])], k: Int,
                                 nprobe: Int): Unit = {
    val (centroids, pq) = pqSetup
    val probed = Kernels.kNearestCentroids(qv, centroids, nprobe).toSet
    val luts = probed.map(li => li ->
      Kernels.adcLookupTable(Kernels.residual(qv, centroids(li)), pq)).toMap
    val expect = rows.map { case (id, vf) =>
      val v = vf.map(_.toDouble)
      val li = Kernels.nearestCentroid(v, centroids)
      (id, li, if (probed(li))
        Some(Kernels.adcDistance(Kernels.pqEncode(Kernels.residual(v, centroids(li)), pq),
          luts(li))) else None)
    }.collect { case (id, li, Some(d)) => (id, li, d) }
      .sortBy { case (id, _, d) => (d, id) }.take(k)
    assert(got.length == expect.length)
    got.zip(expect).foreach { case ((gid, gli, gd), (eid, eli, ed)) =>
      assert(gid == eid && gli == eli, s"rank mismatch: got $gid expect $eid")
      assert(gd == ed, s"adc $gd vs $ed")
    }
    got.foreach { case (_, li, _) => assert(probed(li), "un-probed list in result") }
  }

  test("a compacted assignment table still refuses another centroid model") {
    val centroids = vecs.take(8).map(_._2.map(_.toDouble)).toArray
    val table = java.nio.file.Files.createTempDirectory("graft_sem_compact")
      .resolve("assign").toString
    Similarity.persistSemanticAssignments(corpus.where(col("vec_id") < 100), table,
      "vec_id", "embedding", centroids)
    Similarity.persistSemanticAssignments(corpus, table, "vec_id", "embedding",
      centroids)
    graft.sink.SnapshotSink.compact(spark, table, "vec_id", Seq.empty)
    assert(Similarity.readSemanticAssignments(spark, table, centroids).count() == nVec)
    val other = centroids.map(_.map(_ + 1.0))
    val ex = intercept[IllegalArgumentException] {
      Similarity.readSemanticAssignments(spark, table, other)
    }
    assert(ex.getMessage.contains("centroid_md5"), ex.getMessage)
  }

  test("ivfPqEncode matches the scalar kernels row-for-row (coarse assign, " +
    "residual, PQ code — one fused expression)") {
    val (centroids, pq) = pqSetup
    val got = Similarity.ivfPqEncode(corpus, "vec_id", "embedding", centroids, pq)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2)))).toMap
    vecs.foreach { case (id, vf) =>
      val v = vf.map(_.toDouble)
      val li = Kernels.nearestCentroid(v, centroids)
      val code = Kernels.pqEncode(Kernels.residual(v, centroids(li)), pq).toSeq
      assert(got(id)._1 == li, s"row $id list")
      assert(got(id)._2 == code, s"row $id code")
    }
  }

  test("ivfPqSearch: only probed lists scanned; ADC distances and the top-k " +
    "set equal the scalar IVFADC pipeline (ds/IVFPQ.java:408–450)") {
    val (centroids, pq) = pqSetup
    val enc = Similarity.ivfPqEncode(corpus, "vec_id", "embedding", centroids, pq)
      .localCheckpoint(true)
    val k = 10; val nprobe = 3
    // each query searched on its own: a one-row probe table
    (0 until 5).map(qi => vecs(qi * 7)._2.map(_.toDouble)).foreach { qv =>
      val got = Similarity.ivfPqSearchMany(enc, "vec_id", Seq((0L, qv)), centroids,
        pq, k, nprobe)
        .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
        .sortBy(t => (t._3, t._1)).toSeq
      assertIvfAdcOracle(got, qv, vecs, k, nprobe)
    }
  }

  test("ivfPqSearchMany: one probe-join plan (no per-query union), row-for-row " +
    "parity with query-at-a-time ivfPqSearch") {
    val (centroids, pq) = pqSetup
    val enc = Similarity.ivfPqEncode(corpus, "vec_id", "embedding", centroids, pq)
      .localCheckpoint(true)
    val queries = (0 until 5).map(qi => (qi.toLong, vecs(qi * 7)._2.map(_.toDouble)))
    val k = 10; val nprobe = 3
    val (many, execs) = SparkTestSession.withExecutions(
      Similarity.ivfPqSearchMany(enc, "vec_id", queries, centroids, pq, k, nprobe))
    // set-based shape: ONE scan of the encoded corpus — not |Q| unioned scans
    // (the round-4 shape) and no join to a probe table: the per-list probe
    // table rides in the LUT broadcast
    val plan = SparkTestSession.executedPlanOf(execs, "ivfPqSearchMany")
    assert(!plan.contains("Union"), s"per-query union survived:\n${plan.take(1200)}")
    assert(!plan.contains("BroadcastExchange") && !plan.contains("Join"),
      s"probe join survived:\n${plan.take(1200)}")
    val got = many.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4))
        .sortBy(t => (t._3, t._1)).toSeq).toMap
    queries.foreach { case (qid, qv) =>
      // query at a time: the same search with this query alone
      val single = Similarity.ivfPqSearchMany(enc, "vec_id", Seq((qid, qv)), centroids,
        pq, k, nprobe)
        .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
        .sortBy(t => (t._3, t._1)).toSeq
      assert(got(qid) == single, s"query $qid: batched != query-at-a-time")
    }
  }

  test("ivfPqSearchMany: shared probed lists, an empty probed list and null " +
    "list_id/pq_code rows; per query equal to query-at-a-time and the scalar oracle") {
    val (centroids, pq) = pqSetup
    val emptyList = 5
    val listOf = vecs.map { case (id, v) =>
      id -> Kernels.nearestCentroid(v.map(_.toDouble), centroids) }.toMap
    val kept = vecs.filter { case (id, _) => listOf(id) != emptyList }
    // featurize-style error rows: null list and code, or a probed list and a null code
    val nullRows = Seq((9000L, None: Option[Int], None: Option[Seq[Int]]),
      (9001L, None, None), (9002L, Some(0), None), (9003L, Some(emptyList), None))
      .toDF("vec_id", "list_id", "pq_code")
    val enc = Similarity.ivfPqEncode(corpus, "vec_id", "embedding", centroids, pq)
      .where(col("list_id") =!= emptyList)
      .unionByName(nullRows)
      .localCheckpoint(true)
    // query 105 sits on the emptied list's centroid, so it probes that list
    val queries = (0 until 5).map(qi => (100L + qi, vecs(qi * 11)._2.map(_.toDouble))) :+
      (105L -> centroids(emptyList))
    val k = 10; val nprobe = 3
    val probed = queries.map { case (_, qv) => Kernels.kNearestCentroids(qv, centroids, nprobe) }
    assert(probed.flatten.distinct.size < probed.flatten.size, "queries share no list")
    assert(probed.last.contains(emptyList))
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Int, Double)]] =
      df.collect().map(r => (r.getLong(0), (r.getLong(1), r.getInt(2), r.getDouble(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(t => (t._3, t._1)).toSeq).toMap
    val got = rows(Similarity.ivfPqSearchMany(enc, "vec_id", queries, centroids, pq, k, nprobe))
    assert(got.keySet == queries.map(_._1).toSet)
    queries.foreach { case (qid, qv) =>
      val single = rows(Similarity.ivfPqSearchMany(enc, "vec_id", Seq((qid, qv)),
        centroids, pq, k, nprobe))
      assert(got(qid) == single(qid), s"query $qid: batched != query-at-a-time")
      assert(got(qid).forall(_._1 < 9000L), s"query $qid: a null row became a candidate")
      assertIvfAdcOracle(got(qid), qv, kept, k, nprobe)
    }
  }

  test("ivfPqSearchMany: a batch search and its collect run one Spark job of " +
    "one stage and write no shuffle bytes") {
    val (centroids, pq) = pqSetup
    val enc = Similarity.ivfPqEncode(corpus, "vec_id", "embedding", centroids, pq)
      .localCheckpoint(true)
    val queries = (0 until 8).map(qi => (qi.toLong, vecs(qi * 5)._2.map(_.toDouble)))
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val (got, jobs) = try SparkTestSession.withJobs(
        Similarity.ivfPqSearchMany(enc, "vec_id", queries, centroids, pq, 10, 3).collect())
      finally spark.sparkContext.removeSparkListener(listener)
    assert(got.map(_.getLong(0)).distinct.length == queries.size)
    val stagesPerJob = jobs.map(_.stageInfos.size)
    assert(stagesPerJob == Seq(1), s"stages per job: $stagesPerJob")
    assert(shuffleBytes.get == 0L, s"${shuffleBytes.get} shuffle bytes written")
  }

  test("ivfPqSearchMany fails loudly on a code/LUT length mismatch (a 2-sub-code " +
    "row) and its scorer on a row of a list with no LUT") {
    val (centroids, pq) = pqSetup
    val qv = vecs(0)._2.map(_.toDouble)
    val list = Kernels.kNearestCentroids(qv, centroids, 2).head
    val enc = Similarity.ivfPqEncode(corpus, "vec_id", "embedding", centroids, pq)
      .unionByName(Seq((9100L, list, Seq(1, 2))).toDF("vec_id", "list_id", "pq_code"))
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val e1 = messages(intercept[Exception](
      Similarity.ivfPqSearchMany(enc, "vec_id", Seq((0L, qv)), centroids, pq, 10, 2)))
    assert(e1.contains(s"ivfPqSearchMany: code has 2 sub-codes, LUT has ${pq.numSubVectors}"), e1)
    // the search keeps un-probed lists' rows from its scorer (the IN filter,
    // or the tasks over a computed list_id), so the scorer is fed such a row
    // directly
    val lut = Kernels.adcLookupTable(Kernels.residual(qv, centroids(list)), pq)
    val e2 = intercept[IllegalArgumentException](graft.functions.PqExpressions.probeTopK(
      Iterator(org.apache.spark.sql.catalyst.InternalRow(1L, 7,
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1, 2, 3, 4)))),
      Map(0 -> graft.functions.PqExpressions.ProbeList(Array(1L), Array(lut))),
      org.apache.spark.sql.types.LongType, 10, "ivfPqSearchMany")).getMessage
    assert(e2.contains("ivfPqSearchMany: no LUT for list_id=7"), e2)
  }

  test("ivfPqSearchMany rejects duplicate query ids, k < 1 and nprobe < 1") {
    val (centroids, pq) = pqSetup
    val enc = Similarity.ivfPqEncode(corpus, "vec_id", "embedding", centroids, pq)
    val q = vecs(0)._2.map(_.toDouble)
    def msg(queries: Seq[(Long, Array[Double])], k: Int, nprobe: Int): String =
      intercept[IllegalArgumentException](
        Similarity.ivfPqSearchMany(enc, "vec_id", queries, centroids, pq, k, nprobe)
      ).getMessage
    assert(msg(Seq((1L, q), (2L, q), (1L, q)), 10, 2)
      .contains("ivfPqSearchMany: duplicate query ids 1"))
    assert(msg(Seq((1L, q)), 0, 2).contains("ivfPqSearchMany: k=0 must be >= 1"))
    assert(msg(Seq((1L, q)), 10, 0).contains("ivfPqSearchMany: nprobe=0 must be >= 1"))
  }

  test("ivfPqSearchMany partition-prunes a list_id-partitioned snapshot " +
    "(static IN filter reaches the scan)") {
    val (centroids, pq) = pqSetup
    val enc = Similarity.ivfPqEncode(corpus, "vec_id", "embedding", centroids, pq)
    val table = java.nio.file.Files.createTempDirectory("graft_eivfm")
      .resolve("codes").toString
    graft.sink.SnapshotSink.append(enc, table, "vec_id", Seq("list_id"))
    val back = graft.sink.SnapshotSink.read(spark, table)
    val queries = Seq((0L, vecs(3)._2.map(_.toDouble)))
    val (res, execs) = SparkTestSession.withExecutions(
      Similarity.ivfPqSearchMany(back, "vec_id", queries, centroids, pq, 10, 2))
    val plan = SparkTestSession.executedPlanOf(execs, "ivfPqSearchMany")
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("\\s", "").contains("list_id"),
      s"expected list_id in PartitionFilters:\n${plan.take(800)}")
    val mem = Similarity.ivfPqSearchMany(enc, "vec_id", queries, centroids, pq, 10, 2)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).sortBy(identity).toSeq
    val disk = res.collect().map(r => (r.getLong(1), r.getDouble(3)))
      .sortBy(identity).toSeq
    assert(disk == mem)
  }

  test("ivfPqSearchMany over unmaterialized ivfPqEncode output encodes each " +
    "row once, with the results of the materialized index") {
    val (centroids, pq) = pqSetup
    val enc = Similarity.ivfPqEncode(corpus, "vec_id", "embedding", centroids, pq)
    val queries = (0 until 4).map(qi => (qi.toLong, vecs(qi * 9)._2.map(_.toDouble)))
    val (lazyRes, execs) = SparkTestSession.withExecutions(
      Similarity.ivfPqSearchMany(enc, "vec_id", queries, centroids, pq, 10, 2))
    val plan = SparkTestSession.executedPlanOf(execs, "ivfPqSearchMany")
    val encodes = "ivf_pq_encode\\(".r.findAllIn(plan).size
    assert(encodes == 1, s"$encodes ivf_pq_encode evaluations in\n${plan.take(1500)}")
    val stored = Similarity.ivfPqSearchMany(enc.localCheckpoint(true), "vec_id", queries,
      centroids, pq, 10, 2)
    assert(lazyRes.collect().toSeq == stored.collect().toSeq)
  }

  test("cosine column matches scalar kernel") {
    val df = Seq((vecs(0)._2, vecs(1)._2)).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    val want = Kernels.cosineSimilarity(vecs(0)._2.map(_.toDouble), vecs(1)._2.map(_.toDouble))
    assert(math.abs(got - want) < 1e-9)
  }

  test("ivfPqSearchRerank: result = exact-L2 top-k over the ADC candidate " +
    "set (scalar replay); recall never below plain ADC; m=k edge; m<k rejected") {
    val (centroids, pq) = pqSetup
    val enc = Similarity.ivfPqEncode(corpus, "vec_id", "embedding", centroids, pq)
      .localCheckpoint(true)
    val queries = (0 until 3).map(qi => (qi.toLong, vecs(qi)._2.map(_.toDouble)))
    val (k, mWide, nprobe) = (5, 20, 3)
    val got = Similarity.ivfPqSearchRerank(enc, corpus, "vec_id", "embedding",
        queries, centroids, pq, k, mWide, nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1)
    // scalar replay: ADC candidates (top mWide) → exact L2 → top k
    val byId = vecs.toMap
    queries.foreach { case (qid, qv) =>
      val probed = Kernels.kNearestCentroids(qv, centroids, nprobe).toSet
      val cand = vecs.filter { case (id, vf) =>
        probed.contains(Kernels.nearestCentroid(vf.map(_.toDouble), centroids))
      }.map { case (id, vf) =>
        val v = vf.map(_.toDouble)
        val li = Kernels.nearestCentroid(v, centroids)
        val lut = Kernels.adcLookupTable(Kernels.residual(qv, centroids(li)), pq)
        val code = Kernels.pqEncode(Kernels.residual(v, centroids(li)), pq)
        val adc = code.indices.map(j => lut(j)(code(j))).sum
        (id, adc)
      }.sortBy { case (id, adc) => (adc, id) }.take(mWide)
      def l2sq(id: Long): Double = {
        val v = byId(id).map(_.toDouble)
        qv.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      val want = cand.map { case (id, _) => (id, l2sq(id)) }
        .sortBy { case (id, d) => (d, id) }.take(k)
      val g = got(qid).sortBy(r => (r._4, r._2)).map(r => (r._2, r._4))
      assert(g.map(_._1).toSeq == want.map(_._1).toSeq, s"query $qid ids")
      g.zip(want).foreach { case ((_, gd), (_, wd)) =>
        assert(math.abs(gd - wd) < 1e-9, s"query $qid dist")
      }
      // exact re-rank can only help: its top-k true-L2 set is at least as
      // close as ranking the same candidates by ADC
      val adcTopK = cand.take(k).map(_._1)
      assert(want.map(_._2).sum <= adcTopK.map(l2sq).sorted.sum + 1e-12,
        s"query $qid rerank regressed")
    }
    // m = k degenerates to re-scoring the ADC top-k (same ids, exact dists)
    val mk = Similarity.ivfPqSearchRerank(enc, corpus, "vec_id", "embedding",
        queries, centroids, pq, k, m = k, nprobe = nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val adc = Similarity.ivfPqSearchMany(enc, "vec_id", queries, centroids,
        pq, k, nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    queries.foreach { case (qid, _) =>
      assert(mk(qid).map(_._2).toSet == adc(qid).map(_._2).toSet, s"q $qid m=k")
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqSearchRerank(enc, corpus, "vec_id", "embedding",
        queries, centroids, pq, k = 10, m = 5, nprobe = nprobe)
    }
  }
}
