package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.SessionEvent

/** Streaming surface: watermarked windowed agg and stateful sessionize agree
  * with the batch Temporal semantics on the same data, the batch operators
  * run unchanged on a stream, and the foreachBatch doors commit each
  * micro-batch exactly once by key. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)

  test("streaming windowed counts match batch groupBy on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")
    val agg = StreamingOps.windowedCounts(events, "ts", "user_id")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    val data = (0 until 60).map(i => ((i % 3).toLong, ts(i.toLong), i.toDouble))
    input.addData(data: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("win_out")
      .select(col("window.start"), col("user_id"), col("n"), col("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val want = data.toDF("user_id", "ts", "value")
      .groupBy(window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start"), col("user_id"), col("n"), col("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
  }

  test("streaming sessionize: same session boundaries as the batch gap rule") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val updates = StreamingOps.sessionize(input.toDS(), gapSeconds = 600)
    val q = updates.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    // user 1: minutes 0,5,9 (one session), then 25,27 (second session)
    input.addData(
      SessionEvent(1L, ts(0), 1.0), SessionEvent(1L, ts(5), 1.0),
      SessionEvent(1L, ts(9), 1.0), SessionEvent(1L, ts(25), 1.0),
      SessionEvent(1L, ts(27), 1.0))
    q.processAllAvailable()
    // late batch continues session 2 (minute 30, gap 3 min) then opens session 3
    input.addData(SessionEvent(1L, ts(30), 1.0), SessionEvent(1L, ts(60), 1.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sess_out")
      .select("session_seq", "n_events").as[(Long, Long)].collect().toSeq
    // final per-session counts: s1=3, s2 grew 2→3 across batches, s3=1
    val lastPerSession = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(lastPerSession == Map(1L -> 3L, 2L -> 3L, 3L -> 1L), s"got $rows")
  }

  test("streaming asOfBind == batch Temporal.asOfJoin on the same data " +
    "(stream-static interval join, no state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static version table: user 1 has versions at minutes 0 and 20; user 2 at 5
    val versions = Seq((1L, ts(0), 100), (1L, ts(20), 101), (2L, ts(5), 200))
      .toDF("user_id", "valid_from", "version")
    val data = Seq(
      (1L, ts(1), 10L), (1L, ts(19), 11L), (1L, ts(20), 12L), (1L, ts(45), 13L),
      (2L, ts(4), 20L), // before user 2's first version → dropped (inner)
      (2L, ts(6), 21L))
    val input = MemoryStream[(Long, Timestamp, Long)]
    val events = input.toDF().toDF("user_id", "ts", "event_id")
    val bound = graft.temporal.Temporal.asOfJoin(events, versions, "ts",
      "valid_from", keys = Seq("user_id"))
      .select("event_id", "version")
    val q = bound.writeStream.outputMode("append")
      .format("memory").queryName("asof_out").start()
    input.addData(data.take(3): _*)
    q.processAllAvailable()
    input.addData(data.drop(3): _*) // late batch binds against the same statics
    q.processAllAvailable(); q.stop()
    val got = spark.table("asof_out").as[(Long, Int)].collect().toSet
    val want = graft.temporal.Temporal.asOfJoin(
      data.toDF("user_id", "ts", "event_id"), versions, "ts", "valid_from",
      keys = Seq("user_id"))
      .select("event_id", "version").as[(Long, Int)].collect().toSet
    assert(got == want)
    assert(got == Set((10L, 100), (11L, 100), (12L, 101), (13L, 101), (21L, 200)))
  }

  test("streaming featurizeStream == batch featurize on the same image rows " +
    "(stream-static model bind + stateless mapPartitions pipeline)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val n = 40L
    val all = graft.data.Synth.imageTable(spark, n).cache()
    val minted = graft.data.Synth.mintModels(spark, all, n, iterations = 2)
    val images = all.where(col("fmt").isin("png", "jpeg")).cache()
    val rows = images
      .select("image_id", "bytes", "caption", "phash", "ts", "entity_id")
      .as[(String, Array[Byte], String, Long, Timestamp, String)]
      .collect().toSeq
    val input = MemoryStream[(String, Array[Byte], String, Long, Timestamp, String)]
    val stream = input.toDF()
      .toDF("image_id", "bytes", "caption", "phash", "ts", "entity_id")
    val out = graft.pipeline.FeaturePipeline.featurize(
      graft.temporal.Temporal.asOfJoin(stream, minted._1, "ts", "valid_from"),
      minted._2, graft.data.Synth.defaultConfig)
      .select("image_id", "model_version", "n_descriptors", "pq_code")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("feat_out").start()
    input.addData(rows.take(5): _*)
    q.processAllAvailable()
    input.addData(rows.drop(5): _*)
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getInt(1), r.getInt(2),
        Option(r.get(3)).map {
          case b: Array[Byte] => b.toList
          case s: scala.collection.Seq[_] => s.toList
          case other => other
        })
    val got = spark.table("feat_out").collect().map(key).toSet
    val want = graft.pipeline.FeaturePipeline.featurize(
      graft.temporal.Temporal.asOfJoin(images, minted._1, "ts", "valid_from",
        joinType = "inner"),
      minted._2, graft.data.Synth.defaultConfig)
      .select("image_id", "model_version", "n_descriptors", "pq_code")
      .collect().map(key).toSet
    assert(got.nonEmpty && got == want)
  }

  test("sinkToSnapshot: micro-batches commit snapshots; cross-batch duplicate " +
    "keys are never re-written (exactly-once by key)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val table = java.nio.file.Files.createTempDirectory("graft_stream_snap")
      .resolve("t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    val input = MemoryStream[(Long, Int, String)]
    val stream = input.toDF().toDF("id", "part", "payload")
    val q = StreamingOps.sinkToSnapshot(stream, table, "id", Seq("part"), ckpt)
    input.addData((0L until 10L).map(i => (i, (i % 3).toInt, s"v$i")): _*)
    q.processAllAvailable()
    // second batch overlaps keys 5-9; only 10-14 are new
    input.addData((5L until 15L).map(i => (i, (i % 3).toInt, s"v$i")): _*)
    q.processAllAvailable(); q.stop()
    val got = graft.sink.SnapshotSink.read(spark, table)
    assert(got.count() == 15, "each key written exactly once")
    assert(got.select("id").as[Long].collect().sorted.sameElements(0L until 15L))
    val snaps = graft.sink.SnapshotSink.allSnapshots(table)
    assert(snaps.map(_.rowCount).sum == 15)
    assert(snaps.forall(_.lineage.contains("stream_batch_id")))
  }

  test("nearDupDoor: per-batch incremental pairs over the persisted " +
    "signature index reconstruct the batch near-dup pairs exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lr = new scala.util.Random(777)
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def ldoc(len: Int): String =
      Seq.fill(len)(vocab(lr.nextInt(vocab.length))).mkString(" ")
    val b1 = (0L until 20L).map(i => (i, ldoc(30 + lr.nextInt(10))))
    val twin1 = ldoc(35)
    val batch1 = b1 ++ Seq((100L, twin1), (101L, twin1)) // in-batch twin pair
    // batch 2: near-dups of batch-1 docs (cross-batch pairs) + fresh docs
    val batch2 = b1.take(5).map { case (id, t) => (id + 200L, t + " omega") } ++
      (0 until 5).map(i => (300L + i, ldoc(30)))
    val sigTable = java.nio.file.Files.createTempDirectory("graft_nd_sig")
      .resolve("sigs").toString
    val pairsTable = java.nio.file.Files.createTempDirectory("graft_nd_pairs")
      .resolve("pairs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_nd_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamingOps.nearDupDoor(stream, sigTable, pairsTable, ckpt,
      "doc_id", "text", shingleN = 3, bands = 16, rowsPerBand = 4,
      threshold = 0.5)
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    // batch parity: the streamed pair ledger == one-shot batch recompute
    val got = graft.sink.SnapshotSink.read(spark, pairsTable)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    val want = graft.operators.Dedup.minhashLshPairs(
      (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(got.keySet == want.keySet,
      s"missing=${(want.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- want.keySet).take(5)}")
    got.foreach { case (k, j) => assert(math.abs(j - want(k)) < 1e-12, s"$k") }
    assert(got.contains((100L, 101L)), "in-batch twin pair missed")
    assert((0L until 5L).forall(i => got.contains((i, i + 200L))),
      "cross-batch near-dup pairs missed")
    // the signature index covers every streamed doc exactly once
    assert(graft.sink.SnapshotSink.read(spark, sigTable).count() ==
      (batch1.size + batch2.size).toLong)
  }

  test("hammingNearDupDoor: streamed signature batches reconstruct the " +
    "batch Hamming pairs exactly (image phash/dhash ingest shape)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq((1L, 0x0F0F0F0F0F0F0F0FL), (2L, 0x0F0F0F0F0F0F0F0EL),
      (3L, 42L), (4L, 42L))
    val batch2 = Seq((10L, 0x0F0F0F0F0F0F0F0CL), // pairs with 1 and 2
      (11L, 42L),                                 // joins the hot pair
      (12L, 0x7777777777777777L))                 // unrelated
    val sigTable = java.nio.file.Files.createTempDirectory("graft_hd_sig")
      .resolve("sigs").toString
    val pairsTable = java.nio.file.Files.createTempDirectory("graft_hd_pairs")
      .resolve("pairs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hd_ckpt").toString
    val input = MemoryStream[(Long, Long)]
    val stream = input.toDF().toDF("image_id", "dhash")
    val q = StreamingOps.hammingNearDupDoor(stream, sigTable, pairsTable,
      ckpt, "image_id", "dhash", maxHamming = 3, chunks = 4)
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    val got = graft.sink.SnapshotSink.read(spark, pairsTable)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    val want = graft.operators.Dedup.hammingPairs64(
      (batch1 ++ batch2).toDF("image_id", "dhash"), "image_id", "dhash",
      maxHamming = 3, chunks = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(got == want,
      s"missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    assert(got.contains((3L, 11L)) && got.contains((1L, 10L)),
      "cross-batch pairs missed")
    assert(graft.sink.SnapshotSink.read(spark, sigTable).count() == 7L)
  }

  test("semanticNearDupDoor: streamed embedding batches reconstruct the " +
    "batch SemDeDup pairs exactly; model-swap read fails loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = 16
    val lr = new scala.util.Random(4242)
    def rvec(): Array[Float] = Array.fill(dim)(lr.nextGaussian().toFloat)
    val base = (0L until 12L).map(i => (i, rvec()))
    val centroids = base.take(4).map(_._2.map(_.toDouble)).toArray
    val twin = rvec()
    val batch1 = base ++ Seq((100L, twin), (101L, twin)) // in-batch twin pair
    // batch 2: exact dupes of batch-1 vectors (cross-batch) + fresh vectors
    val batch2 = base.take(3).map { case (id, v) => (id + 200L, v) } ++
      (0 until 4).map(i => (300L + i, rvec()))
    val assignTable = java.nio.file.Files.createTempDirectory("graft_sd_sig")
      .resolve("assign").toString
    val pairsTable = java.nio.file.Files.createTempDirectory("graft_sd_pairs")
      .resolve("pairs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sd_ckpt").toString
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
    val q = StreamingOps.semanticNearDupDoor(stream, assignTable, pairsTable,
      ckpt, "vec_id", "embedding", centroids, threshold = 0.9)
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    val got = graft.sink.SnapshotSink.read(spark, pairsTable)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    val want = graft.operators.Similarity.semanticNearDupPairs(
      (batch1 ++ batch2).toDF("vec_id", "embedding"), "vec_id", "embedding",
      centroids, threshold = 0.9)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(got.keySet == want.keySet,
      s"missing=${(want.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- want.keySet).take(5)}")
    got.foreach { case (k, c) => assert(math.abs(c - want(k)) < 1e-12, s"$k") }
    assert(got.contains((100L, 101L)), "in-batch twin pair missed")
    assert((0L until 3L).forall(i => got.contains((i, i + 200L))),
      "cross-batch exact-dupe pairs missed")
    // the assignment index covers every streamed vector exactly once
    assert(graft.sink.SnapshotSink.read(spark, assignTable).count() ==
      (batch1.size + batch2.size).toLong)
    // a different centroid model must be refused, not silently mis-bucketed
    val other = centroids.map(_.map(_ + 1.0))
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Similarity.readSemanticAssignments(spark, assignTable,
        other)
    }
    assert(ex.getMessage.contains("centroid_md5"))
  }

  test("paragraphDedupDoor: streamed cleaned ledger == one-shot batch " +
    "keep-first paragraph dedup (ascending-id batches)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq(
      (1L, "alpha intro\nSHARED UNIT\nuniq a"),
      (2L, "SHARED UNIT\nbeta body\nSHARED UNIT"), // cross-doc + within-doc
      (3L, "gamma only\n\ntail g"))
    val batch2 = Seq(
      (10L, "SHARED UNIT\ndelta body"),   // history hit → dropped
      (11L, "NEW SHARED\nuniq b"),        // first occurrence → keeper
      (12L, "NEW SHARED\nNEW SHARED"))    // both later → both dropped
    val fpTable = java.nio.file.Files.createTempDirectory("graft_pd_fp")
      .resolve("fps").toString
    val outTable = java.nio.file.Files.createTempDirectory("graft_pd_out")
      .resolve("out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pd_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamingOps.paragraphDedupDoor(stream, fpTable, outTable, ckpt,
      "doc_id", "text", delim = "\n")
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    val got = graft.sink.SnapshotSink.read(spark, outTable)
      .select("doc_id", "clean_text", "n_dropped_paras")
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val want = graft.operators.Curation.dedupParagraphs(
      (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text", delim = "\n")
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == want,
      s"diff=${(want.toSet -- got.toSet).take(3)} vs ${(got.toSet -- want.toSet).take(3)}")
    assert(got(10L) == (("delta body", 1)), "history fingerprint hit missed")
    assert(got(12L) == (("", 2)), "batch-internal keep-first missed")
    // fingerprint ledger holds each distinct unit exactly once
    val fps = graft.sink.SnapshotSink.read(spark, fpTable)
    assert(fps.count() == fps.select("fp_key").distinct().count())
  }

  test("streaming dedupByKey drops duplicate keys within and across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String)]
    val docs = input.toDF().toDF("content_key", "ts", "doc_id")
    val deduped = docs.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("content_key"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    input.addData(
      ("ka", ts(0), "d1"), ("kb", ts(1), "d2"), ("ka", ts(2), "d3")) // in-batch dupe
    q.processAllAvailable()
    input.addData(
      ("kb", ts(3), "d4"), ("kc", ts(4), "d5")) // cross-batch dupe + fresh key
    q.processAllAvailable(); q.stop()
    val keys = spark.table("dedup_out")
      .select("content_key").as[String].collect().toSeq
    assert(keys.sorted == Seq("ka", "kb", "kc"), s"got $keys")
  }

  test("curation transforms run unchanged on a stream (row-local, stateless) " +
    "and match batch output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Curation
    val data = Seq(
      (1L, "Write to a@ex.io  NOW"),
      (2L, "plain  Text\tno pii"),
      (3L, "see https://ex.io/x then stop"))
    def curate(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      Curation.splitAssign(col("doc_id")).as("split"),
      Curation.normalize(Curation.redact(col("text"))).as("clean"))
    val input = MemoryStream[(Long, String)]
    val q = curate(input.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("curate_out").start()
    input.addData(data: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("curate_out").as[(Long, String, String)].collect().toSet
    val want = curate(data.toDF("doc_id", "text"))
      .as[(Long, String, String)].collect().toSet
    assert(got == want && got.size == 3)
    // normalize runs after redact, so the placeholder is lowercased too
    assert(got.exists(_._3 == "write to <email> now"))
  }

  test("learned-BPE tokenization runs unchanged on a stream (broadcast " +
    "model in a native expression) and matches batch output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val model = graft.ml.Bpe.learnMerges(
      Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L)), 4)
    val bc = spark.sparkContext.broadcast(model)
    val data = Seq((1L, "the lowest low"), (2L, "newest widest!"), (3L, ""))
    def tok(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      TextOps.bpeTokenize(col("text"), bc).as("toks"),
      TextOps.bpeTokenizeIds(col("text"), bc).as("ids"))
    val input = MemoryStream[(Long, String)]
    val q = tok(input.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("bpe_out").start()
    input.addData(data: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("bpe_out").as[(Long, Seq[String], Seq[Int])].collect().toSet
    val want = tok(data.toDF("doc_id", "text"))
      .as[(Long, Seq[String], Seq[Int])].collect().toSet
    assert(got == want && got.size == 3)
    assert(got.exists(_._2.containsSlice(Seq("low", "est"))))
  }

  test("broadcast-LM quality scoring runs unchanged on a stream (row-local " +
    "lm_score expression — the in-flight curation filter) and matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val train = Seq((1L, "spark scales out spark scales up"),
      (2L, "the quick brown fox")).toDF("doc_id", "text")
    val lm = TextOps.bigramLm(train, "text")
    val bc = spark.sparkContext.broadcast(TextOps.collectLm(lm))
    lm.release()
    val data = Seq((1L, "spark scales out"), (2L, "zz yy xx"), (3L, "one"))
    def score(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      graft.functions.LmExpressions.lm_score(col("text"), bc).as("ce"))
    val input = MemoryStream[(Long, String)]
    val q = score(input.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("lm_out").start()
    input.addData(data: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("lm_out").as[(Long, Option[Double])].collect().toMap
    val want = score(data.toDF("doc_id", "text"))
      .as[(Long, Option[Double])].collect().toMap
    assert(got == want && got.size == 3)
    assert(got(3L).isEmpty) // single-token doc: no bigram, NULL score
    // in-domain text scores strictly lower cross-entropy than noise
    assert(got(1L).get < got(2L).get)
  }

  test("decontaminate-at-the-door: the streaming Bloom filter drops every " +
    "doc batch decontamination drops (conservative), keeps provably-clean " +
    "docs, and the curate-in-flight pipeline (score → door → idempotent " +
    "snapshot sink) is exactly-once by key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, TextOps}
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("bid", "btext")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),          // exact copy
      (2L, "totally different words entirely written here"), // clean
      (3L, "intro words then alpha beta gamma delta epsilon zeta appended"),
      (4L, "spark streams curate web corpora at scale"))     // clean
    val door = Dedup.benchmarkBloom(bench, "btext", shingleN = 3,
      threshold = 0.8).get
    val batchKept = Dedup.decontaminateBloom(corpus.toDF("doc_id", "text"),
        bench, "doc_id", "bid", "text", "btext", shingleN = 3, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(batchKept == Set(2L, 4L)) // fixture sanity: 1 and 3 contaminated
    // the full in-flight curation pipeline: LM score → contamination door →
    // snapshot sink (exactly-once by key across replayed batches)
    val lm = TextOps.bigramLm(corpus.toDF("doc_id", "text"), "text")
    val lmBc = spark.sparkContext.broadcast(TextOps.collectLm(lm))
    lm.release()
    val table = java.nio.file.Files.createTempDirectory("graft_door_snap")
      .resolve("t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_door_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val cleaned = input.toDF().toDF("doc_id", "text")
      .withColumn("cross_entropy",
        graft.functions.LmExpressions.lm_score(col("text"), lmBc))
      .where(!Dedup.bloomSuspect(col("text"), door))
      .withColumn("part", (col("doc_id") % 2).cast("int"))
    val q = StreamingOps.sinkToSnapshot(cleaned, table, "doc_id", Seq("part"), ckpt)
    input.addData(corpus: _*)
    q.processAllAvailable()
    input.addData(corpus: _*) // full replay: every key is a duplicate
    q.processAllAvailable(); q.stop()
    val got = graft.sink.SnapshotSink.read(spark, table)
    val streamKept = got.select("doc_id").as[Long].collect().toSet
    // conservative containment: stream-kept ⊆ batch-kept (door may over-drop,
    // never under-drop) and every contaminated doc is gone
    assert(streamKept.subsetOf(batchKept), s"door must never keep a doc " +
      s"batch decontamination drops: stream=$streamKept batch=$batchKept")
    assert((Set(1L, 3L) & streamKept).isEmpty)
    assert(streamKept.nonEmpty, "provably-clean docs must pass the door")
    assert(got.count() == streamKept.size, "replayed batch must write nothing")
    // the score column rode through the door and the sink
    assert(got.select("cross_entropy").as[Option[Double]].collect()
      .forall(_.nonEmpty))
  }

  test("classifier / DSIR / blocklist twins run unchanged on a stream " +
    "(row-local broadcast expressions) and match their batch application") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dsir
    // tiny quality classifier: target-ish vs noise-ish
    val train = (
      (1 to 20).map(i => (s"theorem proof lemma spark plan $i", 1)) ++
      (1 to 20).map(i => (s"zz$i yy$i xx$i ww$i vv$i", 0))
    ).toDF("text", "label")
    val clf = graft.ml.Classifier.train(train, "text", "label",
      dims = 512, iters = 20)
    // tiny DSIR model over the same vocabulary split
    val dsirModel = Dsir.dsirModel(
      train.select("text"), train.where(col("label") === 1).select("text"),
      "text", buckets = 1024)
    val ratios = spark.sparkContext.broadcast(Dsir.collectDsir(dsirModel))
    dsirModel.release()
    val sbLm = graft.operators.TextOps.stupidBackoffLm(
      train.where(col("label") === 1).withColumnRenamed("text", "t"), "t")
    val sbBc = spark.sparkContext.broadcast(graft.operators.TextOps.collectSb(sbLm))
    sbLm.release()
    val nbModel = graft.operators.TextOps.nbLangModel(
      train.withColumn("lg", when(col("label") === 1, "good").otherwise("web")),
      "lg", "text")
    val nbBc = spark.sparkContext.broadcast(graft.operators.TextOps.collectNb(nbModel))
    nbModel.release()
    val kws = Seq("bad", "badword")
    val data = Seq(
      (1L, "theorem proof lemma spark plan 3"), // quality, clean
      (2L, "zz1 yy2 xx3 ww4 vv5"),              // noise, clean
      (3L, "theorem proof with a badword here"), // blocked
      (4L, "plain bad stuff"))                   // blocked
    def curate(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Curation.filterBlocklist(df
        .withColumn("quality_prob",
          graft.ml.Classifier.scoreColumn(col("text"), clf, df.sparkSession))
        .withColumn("dsir_log_weight",
          graft.functions.DsirExpressions.dsir_score(col("text"), ratios))
        .withColumn("sb_logscore",
          graft.functions.LmExpressions.sb_score(col("text"), sbBc))
        .withColumn("lang_pred",
          graft.functions.NbExpressions.nb_lang(col("text"), nbBc)),
        "text", kws)
    val input = MemoryStream[(Long, String)]
    val q = curate(input.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("cdsb_out").start()
    input.addData(data: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("cdsb_out")
      .select("doc_id", "quality_prob", "dsir_log_weight", "sb_logscore",
        "lang_pred")
      .as[(Long, Double, Double, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    val want = curate(data.toDF("doc_id", "text"))
      .select("doc_id", "quality_prob", "dsir_log_weight", "sb_logscore",
        "lang_pred")
      .as[(Long, Double, Double, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L) && got == want) // 3,4 blocked at door
    // the signals separate in flight exactly like in batch
    assert(got(1L)._2 > got(2L)._2, "classifier must favor the quality doc")
    assert(got(1L)._3 > got(2L)._3, "DSIR must favor the target-like doc")
    assert(got(1L)._4 < got(2L)._4, "SB must score the in-domain doc lower")
    assert(got(1L)._5 == "good" && got(2L)._5 == "web",
      "NB langid must tag the streams like batch")
  }
}
