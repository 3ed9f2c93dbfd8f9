package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TextOps}

/** Dedup operators: exact groups, MinHash-LSH vs exact Jaccard (precision
  * exact by construction, recall measured), SimHash Hamming banding guarantee. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // corpus with known structure: 60 base docs, 10 exact dupes, 10 near-dupes
  private val rnd = new scala.util.Random(31337)
  private val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
  private def doc(len: Int): String =
    Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
  private val base = (0 until 60).map(i => (i.toLong, doc(30 + rnd.nextInt(20))))
  private val exactDupes = base.take(10).map { case (id, t) => (id + 1000, t) }
  private val nearDupes = base.slice(10, 20).map { case (id, t) =>
    (id + 2000, t + " omega") } // one appended token ⇒ very high 3-gram Jaccard
  private lazy val docs = (base ++ exactDupes ++ nearDupes).toDF("doc_id", "text").cache()

  test("exactGroups finds exactly the injected exact duplicates") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
      .where(col("n_dups") > 1)
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toMap
    assert(groups.keySet == (0L until 10L).toSet)
    assert(groups.values.forall(_ == 2L))
  }

  test("exactDedup keeps min-id representative, drops the rest") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert((0L until 10L).forall(kept.contains))
    assert((1000L until 1010L).forall(id => !kept.contains(id)))
    assert(kept.size == 70) // 60 base + 10 near-dupes (distinct text)
  }

  test("exactGroups shuffles fingerprints, not document bytes: no text " +
    "column in any exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_eg").resolve("d").toString
    docs.write.mode("overwrite").parquet(dir)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Dedup.exactGroups(spark.read.parquet(dir), "doc_id", "text")
        .queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected a shuffle in the grouped plan")
      exchanges.foreach { e =>
        assert(!e.output.map(_.name).exists(_.contains("text")),
          s"text column rides the exchange: ${e.output.map(_.name)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("LSH operators evaluate the expensive signature stage ONCE per row " +
    "(persisted stage, no recompute multiplier)") {
    // a non-deterministic counting probe cannot be collapsed/duplicated by
    // Catalyst, so every physical evaluation of the text column ticks once
    val countingText = udf { s: String =>
      DedupSpec.textEvals.incrementAndGet(); s
    }.asNondeterministic()
    val probed = docs.select(col("doc_id"), countingText(col("text")).as("text"))
    val n = docs.count()
    for ((name, run) <- Seq[(String, org.apache.spark.sql.DataFrame => Unit)](
      ("minhashLshPairs", d => Dedup.minhashLshPairs(d, "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.8).count()),
      ("simhashPairs", d => Dedup.simhashPairs(d, "doc_id", "text").count()),
      ("ngramJaccardPairs", d => Dedup.ngramJaccardPairs(d, "doc_id", "text",
        shingleN = 3, threshold = 0.8).count()))) {
      DedupSpec.textEvals.set(0L)
      run(probed)
      val evals = DedupSpec.textEvals.get()
      assert(evals == n, s"$name evaluated the text stage $evals times for $n rows")
    }
  }

  test("ngramJaccardPairs: exact pairs, symmetric-free (a<b), correct Jaccard") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    // all exact dupes are found with jaccard 1.0
    (0L until 10L).foreach(i => assert(pairSet.contains((i, i + 1000)), s"exact pair $i"))
    pairs.filter(p => p._2 == p._1 + 1000).foreach(p => assert(p._3 == 1.0))
    // near dupes: appended token changes ≤ a couple shingles → jaccard ≥ 0.8
    (10L until 20L).foreach(i => assert(pairSet.contains((i, i + 2000)), s"near pair $i"))
    pairs.foreach(p => assert(p._1 < p._2))
  }

  test("keepBestRepresentatives: longest member survives, ties break to " +
    "lowest id — exact dupes keep the original, longer near-dupes replace it") {
    val groups = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 3,
        threshold = 0.8))
    def nToks = size(split(trim(col("text")), "\\s+"))
    val kept = Dedup.keepBestRepresentatives(docs, "doc_id", groups, nToks)
      .select("doc_id").as[Long].collect().toSet
    // driver-side replay over the actual component structure
    val g = groups.as[(Long, Long)].collect()
    val lens = docs.select(col("doc_id"), nToks.as("n"))
      .as[(Long, Int)].collect().toMap
    val winners = g.groupBy(_._2).map { case (_, members) =>
      members.map(_._1).minBy(id => (-lens(id), id))
    }.toSet
    val losers = g.map(_._1).toSet -- winners
    val expected = docs.select("doc_id").as[Long].collect().toSet -- losers
    assert(kept == expected)
    // the policy flips exactly on the one-token-longer near-dup copies and
    // tie-breaks exact dupes back to the original
    (10L until 20L).foreach(id => assert(!kept(id) && kept(id + 2000), s"$id"))
    (0L until 10L).foreach(id => assert(kept(id) && !kept(id + 1000), s"$id"))
    // lowest-quality-wins variant inverts the near-dup choice
    val keptWorst = Dedup.keepBestRepresentatives(docs, "doc_id", groups,
        nToks, higherIsBetter = false)
      .select("doc_id").as[Long].collect().toSet
    (10L until 20L).foreach(id => assert(keptWorst(id) && !keptWorst(id + 2000)))
    // NULL scores: a group whose members all score NULL keeps its min-id
    // member (never a silently deleted cluster); mixed groups ignore the
    // NULL member for winning but still drop it as a loser
    val nullDocs = Seq((1L, null), (2L, null), (3L, "x"), (4L, null))
      .toDF("doc_id", "text").withColumn("n",
        when(col("text").isNotNull, length(col("text"))))
    val nullGroups = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("id", "group_id")
    val keptNull = Dedup.keepBestRepresentatives(nullDocs, "doc_id",
        nullGroups, col("n"))
      .select("doc_id").as[Long].collect().toSet
    assert(keptNull == Set(1L, 3L), s"got $keptNull")
  }

  test("minhashLshPairs ⊆ exact pairs at same threshold, recall ≥ 0.9 on dupes") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH verify step must keep precision exact")
    val recall = (lsh & exact).size.toDouble / math.max(1, exact.size)
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} true pairs")
  }

  test("minhashLshPairsAcross: exactly the cross-corpus pairs of a full " +
    "recompute (never left×left / right×right); overlapping id spaces safe; " +
    "decontaminateFuzzy drops exactly the flagged left docs") {
    // right corpus = verbatim copies of 5 left docs + near-dups of 3 more +
    // fresh docs; ids DELIBERATELY collide with left's (0..7 reused)
    val lr = new scala.util.Random(2024)
    def ldoc(len: Int): String =
      Seq.fill(len)(vocab(lr.nextInt(vocab.length))).mkString(" ")
    val right = base.take(5).map { case (id, t) => (id, t) } ++
      base.slice(5, 8).map { case (id, t) => (id, t + " omega") } ++
      (0 until 4).map(i => (90L + i, ldoc(35)))
    val rightDf = right.toDF("eval_id", "eval_text")
    val across = Dedup.minhashLshPairsAcross(docs, rightDf,
      "doc_id", "eval_id", "text", "eval_text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // ground truth from the full self-join operator over a DISJOINT relabel
    // of the right corpus (+10000), restricted to cross pairs
    val relabeled = right.map { case (id, t) => (id + 10000L, t) }
    val full = Dedup.minhashLshPairs(
      (base ++ exactDupes ++ nearDupes ++ relabeled).toDF("doc_id", "text"),
      "doc_id", "text", shingleN = 3, bands = 16, rowsPerBand = 4,
      threshold = 0.8)
      .as[(Long, Long, Double)].collect()
    val wantCross = full.filter(p => (p._1 >= 10000L) != (p._2 >= 10000L))
      .map { p =>
        val (l, r) = if (p._2 >= 10000L) (p._1, p._2 - 10000L)
                     else (p._2, p._1 - 10000L)
        (l, r) -> p._3
      }.toMap
    assert(across.keySet == wantCross.keySet,
      s"missing=${(wantCross.keySet -- across.keySet).take(5)} " +
        s"extra=${(across.keySet -- wantCross.keySet).take(5)}")
    across.foreach { case (k, j) =>
      assert(math.abs(j - wantCross(k)) < 1e-12, s"$k") }
    // the 5 verbatim copies must all be found (exact dupes always collide)
    (0L until 5L).foreach(i => assert(across.contains((i, i)),
      s"verbatim copy $i missed despite colliding id spaces"))
    // fuzzy decontamination drops exactly the flagged left docs
    val kept = Dedup.decontaminateFuzzy(docs, rightDf,
      "doc_id", "eval_id", "text", "eval_text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val flagged = across.keySet.map(_._1)
    assert(kept == docs.select("doc_id").as[Long].collect().toSet -- flagged)
  }

  test("minhashLshPairsIncremental over a persisted signature snapshot ≡ " +
    "full recompute on the grown corpus; signatures resume; params enforced") {
    val lr = new scala.util.Random(4242)
    def ldoc(len: Int): String =
      Seq.fill(len)(vocab(lr.nextInt(vocab.length))).mkString(" ")
    val oldCorpus = (base ++ exactDupes).toDF("doc_id", "text")
    // new batch: near-dups of OLD docs (new×old pairs), an identical fresh
    // twin pair (a new×new pair), and unrelated fresh docs
    val twin = ldoc(40)
    val newRows = nearDupes ++ Seq((5000L, twin), (5001L, twin)) ++
      (0 until 5).map(i => (5100L + i, ldoc(35)))
    val newBatch = newRows.toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().map(p => (p._1, p._2) -> p._3).toMap
    val full = pairSet(Dedup.minhashLshPairs(
      oldCorpus.unionByName(newBatch), "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5))
    val oldPairs = pairSet(Dedup.minhashLshPairs(oldCorpus, "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5))
    val table = java.nio.file.Files.createTempDirectory("graft_sig")
      .resolve("sigs").toString
    Dedup.persistMinhashSignatures(oldCorpus, table, "doc_id", "text",
      shingleN = 3, numHashes = 64)
    val incr = pairSet(Dedup.minhashLshPairsIncremental(newBatch,
      Dedup.readMinhashSignatures(spark, table, shingleN = 3, numHashes = 64),
      "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5))
    // every incremental pair touches a new-batch id; no old×old leakage
    val newIds = newRows.map(_._1).toSet
    incr.keys.foreach { case (a, b) =>
      assert(newIds.contains(a) || newIds.contains(b), s"old×old pair ($a,$b)")
    }
    assert(incr.keySet.intersect(oldPairs.keySet).isEmpty,
      "incremental re-reported an old pair")
    // exact reconstruction: previous pairs ∪ incremental == full recompute
    assert(oldPairs.keySet ++ incr.keySet == full.keySet,
      s"missing=${(full.keySet -- oldPairs.keySet -- incr.keySet).take(5)} " +
        s"extra=${(oldPairs.keySet ++ incr.keySet -- full.keySet).take(5)}")
    incr.foreach { case (k, j) => assert(math.abs(j - full(k)) < 1e-12, s"$k") }
    // the injected structure was actually exercised
    assert(incr.keys.exists { case (a, b) => a == 5000L && b == 5001L },
      "new×new twin pair not found")
    assert((10L until 20L).forall(i => incr.contains((i, i + 2000L))),
      "new×old near-dup pairs not all found")
    // resume: appending the grown corpus only signs genuinely new ids
    Dedup.persistMinhashSignatures(oldCorpus.unionByName(newBatch), table,
      "doc_id", "text", shingleN = 3, numHashes = 64)
    val sigCount = graft.sink.SnapshotSink.read(spark, table).count()
    assert(sigCount == 70 + newRows.size, s"signature table rows: $sigCount")
    // parameter mismatch is refused, not silently mixed
    intercept[IllegalArgumentException] {
      Dedup.readMinhashSignatures(spark, table, shingleN = 4, numHashes = 64)
    }
  }

  test("a compacted signature table stays readable under its own LSH " +
    "parameters and refuses other ones, on read and on append") {
    val table = java.nio.file.Files.createTempDirectory("graft_sig_compact")
      .resolve("sigs").toString
    Dedup.persistMinhashSignatures(docs.where(col("doc_id") < 30), table,
      "doc_id", "text", shingleN = 3, numHashes = 64)
    Dedup.persistMinhashSignatures(docs, table, "doc_id", "text",
      shingleN = 3, numHashes = 64)
    graft.sink.SnapshotSink.compact(spark, table, "doc_id", Seq.empty)
    assert(Dedup.readMinhashSignatures(spark, table, shingleN = 3, numHashes = 64)
      .count() == docs.count())
    val read = intercept[IllegalArgumentException] {
      Dedup.readMinhashSignatures(spark, table, shingleN = 5, numHashes = 64)
    }
    assert(read.getMessage.contains("shingle_n"), read.getMessage)
    val heads = graft.sink.SnapshotSink.allSnapshots(table).map(_.id)
    intercept[IllegalArgumentException] {
      Dedup.persistMinhashSignatures(Seq((9999L, "alpha beta gamma delta"))
        .toDF("doc_id", "text"), table, "doc_id", "text", shingleN = 5, numHashes = 64)
    }
    assert(graft.sink.SnapshotSink.allSnapshots(table).map(_.id) == heads)
  }

  test("incremental plan: old-signature scans are COLUMN-PRUNED (banding " +
    "reads (id, sig) without sh; the corpus-wide sh column is never cached)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_plan")
      .resolve("sigs").toString
    Dedup.minhashSignatures(docs, "doc_id", "text", 3, 64)
      .write.mode("overwrite").parquet(dir)
    val newBatch = Seq((9000L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try Dedup.explainInterior.withValue(true) {
        Dedup.minhashLshPairsIncremental(newBatch,
          spark.read.parquet(dir), "doc_id", "text").queryExecution.executedPlan
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val sigScans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("graft_sig_plan")) =>
        s.requiredSchema.fieldNames.toSet
    }
    assert(sigScans.nonEmpty, "expected file scans of the signature table")
    assert(sigScans.exists(!_.contains("sh")),
      s"banding scan must prune the sh column; scans read: $sigScans")
    assert(sigScans.forall(f => !(f.contains("sh") && f.contains("sig"))),
      s"no scan should read BOTH sh and sig (full-width, unpruned): $sigScans")
    val cached = plan.collect {
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c
    }
    cached.foreach { c =>
      assert(c.relation.output.size <= 4 &&
        c.relation.stats.sizeInBytes < 10L * 1024 * 1024,
        "only the small NEW-batch signature stage may be cached")
    }
  }

  test("simhashPairs: all reported pairs within maxHamming; exact dupes found") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, chunks = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    pairs.foreach(p => assert(p._3 <= 3))
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    (0L until 10L).foreach(i =>
      assert(pairSet.contains((i, i + 1000)), s"simhash must pair exact dupes (hamming 0): $i"))
  }

  test("hammingPairs64 on a raw 64-bit column (phash seam): exactly the " +
    "scalar pairs within maxHamming, including a hot identical-value group") {
    // known bit patterns: 0/1/2-bit neighbors of a base value, one far value,
    // and a 5-strong identical "hot phash" group
    val sigs = Seq(
      (1L, 0x0F0F0F0F0F0F0F0FL), (2L, 0x0F0F0F0F0F0F0F0EL), // hamming 1
      (3L, 0x0F0F0F0F0F0F0F0CL),                             // hamming 2 of #1
      (4L, 0x70F0F0F0F0F0F0F0L),                             // far from all
      (5L, 42L), (6L, 42L), (7L, 42L), (8L, 42L), (9L, 42L)  // hot group
    ).toDF("id", "sig")
    val got = Dedup.hammingPairs64(sigs, "id", "sig", maxHamming = 3,
      chunks = 4, maxBucket = 100)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val raw = Seq(1L -> 0x0F0F0F0F0F0F0F0FL, 2L -> 0x0F0F0F0F0F0F0F0EL,
      3L -> 0x0F0F0F0F0F0F0F0CL, 4L -> 0x70F0F0F0F0F0F0F0L,
      5L -> 42L, 6L -> 42L, 7L -> 42L, 8L -> 42L, 9L -> 42L)
    val want = (for {
      (ia, sa) <- raw; (ib, sb) <- raw if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)).toSet
    assert(got == want)
    assert(want.count { case (a, b, h) => a >= 5 && b >= 5 && h == 0 } == 10) // C(5,2)
  }

  test("hammingPairs64Incremental over a persisted signature table ≡ full " +
    "recompute on the grown corpus (the LAION image-ingest event)") {
    // old corpus: a neighborhood + a hot identical group; new batch: a new
    // 1-bit neighbor of an OLD value (new×old), a fresh identical twin pair
    // (new×new), a new member of the hot group, and an unrelated far value
    val oldSigs = Seq(
      (1L, 0x0F0F0F0F0F0F0F0FL), (2L, 0x0F0F0F0F0F0F0F0EL),
      (3L, 0x0F0F0F0F0F0F0F0CL), (4L, 0x70F0F0F0F0F0F0F0L),
      (5L, 42L), (6L, 42L), (7L, 42L)).toDF("id", "sig")
    val newSigs = Seq(
      (100L, 0x0F0F0F0F0F0F0F0DL), // 1-bit from #1's family
      (101L, 777L), (102L, 777L),  // new×new twins
      (103L, 42L),                 // joins the hot group
      (104L, 0x123456789ABCDEFL)   // unrelated
    ).toDF("id", "sig")
    val table = java.nio.file.Files.createTempDirectory("graft_ham_sig")
      .resolve("sigs").toString
    graft.sink.SnapshotSink.append(
      oldSigs, table, "id", Seq.empty, Map("op" -> "hamming_signatures"))
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming").as[(Long, Long, Int)]
        .collect().map(p => (p._1, p._2) -> p._3).toMap
    val full = ps(Dedup.hammingPairs64(oldSigs.unionByName(newSigs),
      "id", "sig", maxHamming = 3, chunks = 4, maxBucket = 100))
    val oldPairs = ps(Dedup.hammingPairs64(oldSigs, "id", "sig",
      maxHamming = 3, chunks = 4, maxBucket = 100))
    val incr = ps(Dedup.hammingPairs64Incremental(newSigs,
      graft.sink.SnapshotSink.read(spark, table), "id", "sig",
      maxHamming = 3, chunks = 4, maxBucket = 100))
    val newIds = Set(100L, 101L, 102L, 103L, 104L)
    incr.keys.foreach { case (a, b) =>
      assert(newIds.contains(a) || newIds.contains(b), s"old×old pair ($a,$b)")
    }
    assert(incr.keySet.intersect(oldPairs.keySet).isEmpty)
    assert(oldPairs.keySet ++ incr.keySet == full.keySet,
      s"missing=${full.keySet -- oldPairs.keySet -- incr.keySet} " +
        s"extra=${oldPairs.keySet ++ incr.keySet -- full.keySet}")
    incr.foreach { case (k, h) => assert(h == full(k), s"$k") }
    assert(incr.contains((101L, 102L)), "new×new twin pair")
    assert(incr.contains((1L, 100L)), "new×old neighbor pair")
    assert((5L to 7L).forall(i => incr.contains((i, 103L))), "hot-group joins")
    assert(!incr.keySet.exists { case (a, b) => a == 104L || b == 104L },
      "unrelated far value must pair with nothing")
  }

  test("incremental ≡ full equivalence holds on RANDOMIZED corpora and " +
    "splits (minhash and hamming families)") {
    val pr = new scala.util.Random(90210)
    def rdoc(len: Int): String =
      Seq.fill(len)(vocab(pr.nextInt(vocab.length))).mkString(" ")
    for (trial <- 1 to 3) {
      // corpus with planted near-dups at random positions, random old/new cut
      val n = 40 + pr.nextInt(30)
      val baseDocs = (0 until n).map(i => (i.toLong, rdoc(15 + pr.nextInt(25))))
      val clones = (0 until 10).map { _ =>
        val t = baseDocs(pr.nextInt(n))._2
        (10000L + pr.nextInt(100000), t + (if (pr.nextBoolean()) " omega" else ""))
      }
      val all = (baseDocs ++ clones).distinctBy(_._1)
      val (oldRows, newRows) = pr.shuffle(all).splitAt(all.size * 2 / 3)
      val oldDf = oldRows.toDF("doc_id", "text")
      val newDf = newRows.toDF("doc_id", "text")
      def mh(df: org.apache.spark.sql.DataFrame) =
        Dedup.minhashLshPairs(df, "doc_id", "text", 3, 8, 4, 0.4)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val mhFull = mh(oldDf.unionByName(newDf))
      val mhOld = mh(oldDf)
      val mhIncr = Dedup.minhashLshPairsIncremental(newDf,
          Dedup.minhashSignatures(oldDf, "doc_id", "text", 3, 32),
          "doc_id", "text", 3, 8, 4, 0.4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(mhOld ++ mhIncr == mhFull && mhOld.intersect(mhIncr).isEmpty,
        s"trial $trial minhash: old=${mhOld.size} incr=${mhIncr.size} " +
          s"full=${mhFull.size}")
      // hamming family on random 64-bit sketches with planted neighbors
      val sigs = (0 until n).map(i => (i.toLong, pr.nextLong()))
      val nbrs = (0 until 8).map { _ =>
        val s = sigs(pr.nextInt(n))._2
        (20000L + pr.nextInt(100000), s ^ (1L << pr.nextInt(64)))
      }
      val allS = (sigs ++ nbrs).distinctBy(_._1)
      val (oldS, newS) = pr.shuffle(allS).splitAt(allS.size / 2)
      def hp(df: org.apache.spark.sql.DataFrame) =
        Dedup.hammingPairs64(df, "id", "sig", 3, 4)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val hFull = hp(oldS.toDF("id", "sig").unionByName(newS.toDF("id", "sig")))
      val hOld = hp(oldS.toDF("id", "sig"))
      val hIncr = Dedup.hammingPairs64Incremental(newS.toDF("id", "sig"),
          oldS.toDF("id", "sig"), "id", "sig", 3, 4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(hOld ++ hIncr == hFull && hOld.intersect(hIncr).isEmpty,
        s"trial $trial hamming: old=${hOld.size} incr=${hIncr.size} " +
          s"full=${hFull.size}")
    }
  }

  test("simhash64 of identical token multisets is identical; empty docs hash to 0 votes") {
    val df = Seq((1L, "a b c a"), (2L, "a b c a"), (3L, "x y z w")).toDF("id", "text")
    val hs = df.select(TextOps.simhash64(TextOps.tokens(col("text")))).as[Long].collect()
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
  }

  test("crossNgramOverlap/decontaminate: training docs containing ≥80% of a " +
    "benchmark doc's trigrams are dropped, everything else kept (scalar oracle)") {
    val bench = nearDupes.map { case (id, t) => (id + 9000, t) }
      .toDF("bench_id", "bench_text")
    val kept = Dedup.decontaminate(docs, bench, "doc_id", "bench_id",
      "text", "bench_text", shingleN = 3, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    def sh(t: String): Set[String] =
      t.trim.split("\\s+").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val benchSh = nearDupes.map { case (_, t) => sh(t) }
    val all = base ++ exactDupes ++ nearDupes
    val contaminated = all.filter { case (_, t) =>
      val s = sh(t)
      benchSh.exists(b => b.nonEmpty &&
        s.intersect(b).size.toDouble / b.size >= 0.8)
    }.map(_._1).toSet
    assert(contaminated.nonEmpty)
    // the near-dup rows in the corpus are verbatim copies of the benchmark
    // texts — containment 1.0, must all be dropped
    assert((10L until 20L).map(_ + 2000).forall(contaminated.contains))
    assert(kept == all.map(_._1).toSet -- contaminated)
  }

  test("decontaminateBloom: identical output to exact decontaminate (the " +
    "prefilter is conservative — no Bloom false negative can drop a " +
    "contaminated doc), empty benchmark → input unchanged") {
    val bench = nearDupes.map { case (id, t) => (id + 9000, t) }
      .toDF("bench_id", "bench_text")
    for (threshold <- Seq(0.5, 0.8, 1.0)) {
      val exact = Dedup.decontaminate(docs, bench, "doc_id", "bench_id",
        "text", "bench_text", shingleN = 3, threshold = threshold)
        .select("doc_id").as[Long].collect().toSet
      val bloom = Dedup.decontaminateBloom(docs, bench, "doc_id", "bench_id",
        "text", "bench_text", shingleN = 3, threshold = threshold)
        .select("doc_id").as[Long].collect().toSet
      assert(bloom == exact, s"threshold=$threshold")
      assert(bloom.size < docs.count(), s"threshold=$threshold should drop docs")
    }
    // a lossy fpp only sends more docs to the verify join — output unchanged
    val loose = Dedup.decontaminateBloom(docs, bench, "doc_id", "bench_id",
      "text", "bench_text", shingleN = 3, threshold = 0.8, fpp = 0.4)
      .select("doc_id").as[Long].collect().toSet
    val exact08 = Dedup.decontaminate(docs, bench, "doc_id", "bench_id",
      "text", "bench_text", shingleN = 3, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(loose == exact08)
    // benchmark with no shingle-able docs (< n tokens): nothing is contaminated
    val tiny = Seq((1L, "only two")).toDF("bench_id", "bench_text")
    assert(Dedup.decontaminateBloom(docs, tiny, "doc_id", "bench_id",
      "text", "bench_text", shingleN = 3).count() == docs.count())
  }

  test("bloom_hits: no false negatives on inserted members; counts per " +
    "array element; nulls and empty arrays → 0") {
    val members = (0 until 200).map(i => s"shingle token $i")
    val bloom = members.toDF("s").stat.bloomFilter("s", members.size.toLong, 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    val got = Seq(
      (1L, Seq("shingle token 3", "shingle token 7", "shingle token 3")),
      (2L, Seq.empty[String]),
      (3L, (1000 until 1040).map(i => s"absent token $i")))
      .toDF("id", "arr")
      .select(col("id"), graft.functions.BloomExpressions.bloom_hits(
        col("arr"), bc).as("hits"))
      .as[(Long, Int)].collect().toMap
    assert(got(1L) == 3) // members always count (incl. repeats)
    assert(got(2L) == 0)
    // 40 absent strings at fpp 0.01: allow a few false positives, never many
    assert(got(3L) <= 5)
    // every member must register — Bloom false negatives are impossible
    val all = Seq((9L, members)).toDF("id", "arr")
      .select(graft.functions.BloomExpressions.bloom_hits(col("arr"), bc))
      .as[Int].head()
    assert(all == members.size)
  }

  test("repeatedSpans: maximal cross-doc spans with exact positions; " +
    "sub-spans coalesced; within-doc repeats out of scope; cap honored") {
    val fixture = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x x a b c d e y"),        // shares "a b c d e" with doc 1
      (3L, "p q r a b c d e f s"),    // shares "a b c d e f" with doc 1
      (4L, "m m m n n n"),            // no 3-gram shared with anyone
      (5L, "z1 z2 w w w z3 w w w"))   // within-doc repeat only
      .toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(fixture, "doc_id", "text", k = 3)
      .as[(Long, Int, Long, Int, Int)].collect().toSet
    // one MAXIMAL row per pair — the three overlapping 3-gram matches of
    // (1,2) coalesce into a single 5-token span
    assert(got.contains((1L, 0, 2L, 2, 5)))  // "a b c d e"
    assert(got.contains((1L, 0, 3L, 3, 6)))  // "a b c d e f"
    assert(got.contains((2L, 2, 3L, 3, 5)))  // the transitive pair
    assert(got.size == 3, s"expected only maximal spans, got $got")
    assert(!got.exists(r => r._1 == 5L || r._3 == 5L),
      "within-doc repeats must not appear")
    // occurrence cap: a 3-gram present in every doc is suppressed, spans
    // that depend ONLY on it vanish
    val hot = Seq(
      (1L, "h1 h2 h3 tail1"), (2L, "h1 h2 h3 tail2"), (3L, "h1 h2 h3 tail3"))
      .toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(hot, "doc_id", "text", k = 3,
      maxOccurrences = 2).count() == 0)
    assert(Dedup.repeatedSpans(hot, "doc_id", "text", k = 3).count() == 3)
  }

  test("withinDocRepeatedSpans: maximal internal spans with exact positions; " +
    "period overlaps emit per-diagonal rows; cross-doc matches out of scope; " +
    "cap honored") {
    val fixture = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x x a b c d e y"),          // cross-doc share with 1 — out of scope
      (5L, "z1 z2 w w w z3 w w w"),     // "w w w" repeats at pos 2 and 6
      (6L, "a a a a a"),                // self-overlapping period-1 repeat
      (7L, "p q p q p q"),              // period-2 repeat
      (8L, "s t u v X s t u v"))        // 4-token block repeats at 0 and 5
      .toDF("doc_id", "text")
    val got = Dedup.withinDocRepeatedSpans(fixture, "doc_id", "text", k = 3)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(got == Set(
      (5L, 2, 6, 3),   // one maximal "w w w" pair
      (6L, 0, 1, 4),   // diag 1: k-grams at 0,1 coalesce
      (6L, 0, 2, 3),   // diag 2
      (7L, 0, 2, 4),   // "p q p q" vs itself shifted by the period
      (8L, 0, 5, 4)),  // maximal "s t u v", not three separate 3-grams
      s"got $got")
    // occurrence cap: a 3-gram repeated 3x within one doc is suppressed at
    // maxOccurrences=2, present at the default
    val hot = Seq((1L, "c c c c c")).toDF("doc_id", "text")
    assert(Dedup.withinDocRepeatedSpans(hot, "doc_id", "text", k = 3,
      maxOccurrences = 2).count() == 0)
    assert(Dedup.withinDocRepeatedSpans(hot, "doc_id", "text", k = 3)
      .count() > 0)
  }

  test("connectedComponents: min-label groups over chains, cycles, and " +
    "isolated pairs; converges within diameter sweeps") {
    // components: chain 1-2-3-4-5-6 (diameter 5), triangle 10-11-12 + spur 13,
    // isolated pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L), (12L, 13L),
      (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L))
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(got.size == 12)
  }

  test("connectedComponentsStar: adversarial 1000-node chain converges in " +
    "≤ ~2·log₂(n) contraction rounds (diameter-free), correct groups") {
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // maxRounds = 24 ≈ 2·log₂(1000) + slack: require() inside fails the test
    // if contraction needs more
    val got = Dedup.connectedComponentsStar(chain, maxRounds = 24)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 1000)
    assert(got.values.forall(_ == 0L))
  }

  test("connectedComponentsStar: multiple components, cycles, isolated pairs") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L), (12L, 13L),
      (20L, 21L),
      (30L, 30L)).toDF("id_a", "id_b") // self-pair-only node: singleton group
    val got = Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L))
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(got(30L) == 30L, "self-pair node emitted, matching the propagation path")
    assert(got.size == 13)
  }

  test("connectedComponents falls back to star contraction (never silently " +
    "splits groups) when a component outlives maxIter propagation sweeps") {
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // diameter 60 ≫ maxIter=3 — partial labels would split the chain
    val got = Dedup.connectedComponents(chain, maxIter = 3)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 61)
    assert(got.values.forall(_ == 0L), "fallback must produce whole components")
  }

  test("nearDupGroups clusters the injected dupes with their sources") {
    val groups = Dedup.nearDupGroups(docs, "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.8)
      .as[(Long, Long)].collect().toMap
    // exact dupes (id+1000) and near dupes (id+2000) must share their source's group
    (0L until 10L).foreach(i => assert(groups(i + 1000) == groups(i), s"exact $i"))
    (10L until 20L).foreach(i => assert(groups(i + 2000) == groups(i), s"near $i"))
  }

  test("keepRepresentatives drops exactly the non-representative group members") {
    val pairs = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("id_a", "id_b")
    val groups = Dedup.connectedComponents(pairs)
    val corpus = (1L to 5L).map(i => (i, s"doc$i"))
      .++(Seq((20L, "x"), (21L, "y"))).toDF("doc_id", "text")
    val kept = Dedup.keepRepresentatives(corpus, "doc_id", groups)
      .select("doc_id").as[Long].collect().sorted
    // 2,3 (group of 1) and 21 (group of 20) drop; never-paired 4,5 survive
    assert(kept.sameElements(Array(1L, 4L, 5L, 20L)))
  }

  test("degenerate inputs: empty corpus and empty pair lists return empty " +
    "results, no crashes (persisted-stage and contraction paths)") {
    import org.apache.spark.sql.types._
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    assert(Dedup.minhashLshPairs(emptyDocs, "doc_id", "text").isEmpty)
    assert(Dedup.simhashPairs(emptyDocs, "doc_id", "text").isEmpty)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text").isEmpty)
    assert(Dedup.exactGroups(emptyDocs, "doc_id", "text").isEmpty)
    val emptyPairs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    assert(Dedup.connectedComponents(emptyPairs).isEmpty)
    assert(Dedup.connectedComponentsStar(emptyPairs).isEmpty)
    // whitespace-only corpus: zero shingles everywhere → empty, not a crash
    val blankDocs = Seq((1L, "   "), (2L, "")).toDF("doc_id", "text")
    assert(Dedup.minhashLshPairs(blankDocs, "doc_id", "text").isEmpty)
    assert(Dedup.ngramJaccardPairs(blankDocs, "doc_id", "text").isEmpty)
  }

  test("hot-shingle corpus: shingle-DF cap bounds the inverted-index join; " +
    "pairs sharing only the stop-shingle are dropped, real dupes survive") {
    // every doc carries the same stop-shingle; dupes also share unique content
    val stop = "the quick fox"
    val hot = (0 until 200).map(i => (i.toLong, s"$stop unique$i tail$i end$i")) ++
      (0 until 5).map(i => (i + 5000L, s"$stop unique$i tail$i end$i")) // dupes of 0–4
    val hotDf = hot.toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(hotDf, "doc_id", "text",
      shingleN = 3, threshold = 0.8, maxShingleDf = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the 205-doc stop-shingle bucket is dropped (DF > 50) → no 205² join;
    // dupe pairs still found via their unique shingles
    (0L until 5L).foreach(i => assert(capped.contains((i, i + 5000)), s"dupe $i"))
    // non-dupe pairs share ONLY the capped stop-shingle → none reported
    assert(capped.size == 5, s"got $capped")
  }
}

object DedupSpec {
  /** Ticks once per physical evaluation of the probed text column (local-mode
    * executors share the test JVM). */
  val textEvals = new java.util.concurrent.atomic.AtomicLong()
}
