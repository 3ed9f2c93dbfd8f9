package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Curation

/** Corpus-curation operators: deterministic md5 split, redaction,
  * normalization, per-group deterministic sampling. The hash paths are
  * verified against a scalar JVM md5 reimplementation — the same arithmetic
  * the DuckDB oracle replays in SQL. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def md5Bucket(id: String, buckets: Int): Long = {
    val d = MessageDigest.getInstance("MD5").digest(id.getBytes("UTF-8"))
    val hex = d.take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16) % buckets
  }

  test("hashBucket matches scalar md5 arithmetic and is id-stable") {
    val ids = (0L until 200L).toDF("id")
    val got = ids.select(col("id"), Curation.hashBucket(col("id"), 100).as("b"))
      .as[(Long, Long)].collect().toMap
    (0L until 200L).foreach { i =>
      assert(got(i) == md5Bucket(i.toString, 100), s"id $i")
    }
  }

  test("splitAssign: pure function of id — unaffected by corpus membership") {
    val small = (0L until 50L).toDF("doc_id")
    val large = (0L until 500L).toDF("doc_id")
    def splits(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), Curation.splitAssign(col("doc_id")).as("s"))
        .as[(Long, String)].collect().toMap
    val a = splits(small); val b = splits(large)
    a.foreach { case (id, s) => assert(b(id) == s) }
    // rough proportions at 500 ids (md5 is uniform; 80/10/10 ± slack)
    val counts = b.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 350 && counts("train") < 450)
    assert(counts("val") > 20 && counts("test") > 20)
  }

  test("redact masks emails, URLs, phones and IPv4s, leaves plain text alone") {
    val texts = Seq(
      "write to alice.smith+x@sub.example.co.uk today",
      "docs at https://ex.co/a/b?q=1&r=2 and http://plain.io/x",
      "no pii here, just words",
      "mixed bob@ex.io then https://ex.io/u/bob@ex.io trailing",
      "call (555) 867-5309 or +1 555-867-5309 or 555.867.5309 now",
      "host 10.0.3.7 and 192.168.255.1 up",
      // phone-lookalikes that must NOT be masked: no separators, wrong
      // grouping, year ranges
      "id 5558675309 range 1999-2000 2001-2002 part 12345-678-9012 ok")
    val got = texts.toDF("text").select(Curation.redact(col("text")))
      .as[String].collect()
    assert(got(0) == "write to <EMAIL> today")
    assert(got(1) == "docs at <URL> and <URL>")
    assert(got(2) == texts(2))
    // email pass runs first: the address inside the URL is masked, then the
    // URL run (which now contains the placeholder) collapses around it
    assert(got(3) == "mixed <EMAIL> then <URL> trailing")
    assert(got(4) == "call <PHONE> or <PHONE> or <PHONE> now")
    assert(got(5) == "host <IP> and <IP> up")
    assert(got(6) == texts(6))
  }

  test("normalize: lowercase, collapse whitespace, trim") {
    val got = Seq("  Mixed   CASE\t\ttext \n wrapped  ", "", "ONE")
      .toDF("text").select(Curation.normalize(col("text"))).as[String].collect()
    assert(got(0) == "mixed case text wrapped")
    assert(got(1) == "")
    assert(got(2) == "one")
  }

  test("samplePerGroup: exactly k per group, deterministic, md5-ordered") {
    val df = (0L until 300L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val got = Curation.samplePerGroup(df, Seq("grp"), "id", 7)
    val rows = got.as[(String, Long, Int)].collect()
    assert(rows.length == 21)
    assert(rows.groupBy(_._1).forall(_._2.length == 7))
    // expected: per group, the 7 ids with smallest (md5-bucket, id)
    val expected = (0L until 300L).groupBy(i => s"g${i % 3}").map { case (g, ids) =>
      g -> ids.sortBy(i => (md5Bucket(i.toString, Int.MaxValue), i)).take(7).toSet
    }
    rows.groupBy(_._1).foreach { case (g, rs) =>
      assert(rs.map(_._2).toSet == expected(g), s"group $g")
    }
    // re-run identical (no rand() anywhere)
    val again = Curation.samplePerGroup(df, Seq("grp"), "id", 7)
      .as[(String, Long, Int)].collect()
    assert(again.sortBy(r => (r._1, r._3)).sameElements(rows.sortBy(r => (r._1, r._3))))
  }

  test("samplePerGroupRows materializes exactly the sampled ids with full payload") {
    val df = (0L until 300L).map(i => (i, s"g${i % 3}", s"payload_$i"))
      .toDF("id", "grp", "payload")
    val ids = Curation.samplePerGroup(df, Seq("grp"), "id", 7)
      .select("id").as[Long].collect().toSet
    val rows = Curation.samplePerGroupRows(df, Seq("grp"), "id", 7)
      .as[(Long, String, String)].collect()
    assert(rows.length == 21)
    assert(rows.map(_._1).toSet == ids)
    rows.foreach { case (id, _, payload) => assert(payload == s"payload_$id") }
  }

  test("samplePerGroup plans the bounded heap, not a Window") {
    val df = (0L until 50L).map(i => (i, s"g${i % 2}")).toDF("id", "grp")
    val plan = Curation.samplePerGroup(df, Seq("grp"), "id", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bounded_top_k"))
    assert(!plan.contains("Window"))
  }

  test("splitByGroup: all members of a group share one split (leakage-safe); " +
    "ungrouped rows keep their own-id split; deterministic") {
    val docs = (0L until 60L).map(i => Tuple1(i)).toDF("doc_id")
    // groups: {0,1,2} -> rep 0, {10,11} -> rep 10; rest ungrouped
    val groups = Seq((0L, 0L), (1L, 0L), (2L, 0L), (10L, 10L), (11L, 10L))
      .toDF("id", "group_id")
    val got = Curation.splitByGroup(docs, "doc_id", groups)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 60)
    // group members inherit the REPRESENTATIVE's split
    val rep0 = if (md5Bucket("0", 100) < 80) "train"
      else if (md5Bucket("0", 100) < 90) "val" else "test"
    assert(Seq(0L, 1L, 2L).forall(got(_) == rep0))
    assert(got(10L) == got(11L))
    // ungrouped rows match the plain per-id assignment
    val plain = docs.select(col("doc_id"),
      Curation.splitAssign(col("doc_id")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until 60L).filterNot(Set(0L, 1L, 2L, 10L, 11L)).foreach { i =>
      assert(got(i) == plain(i), s"doc $i")
    }
    // composes with real dedup groups: every group is split-coherent
    val dup = docs.withColumn("text",
      concat(lit("alpha beta gamma delta epsilon zeta "), pmod(col("doc_id"), lit(5)).cast("string")))
    val pairs = graft.operators.Dedup.ngramJaccardPairs(dup, "doc_id", "text", 3, 0.9)
    val cc = graft.operators.Dedup.connectedComponents(pairs)
    val sp = Curation.splitByGroup(dup, "doc_id", cc)
      .join(cc.select(col("id").as("doc_id"), col("group_id")), Seq("doc_id"))
    val distinctPerGroup = sp.groupBy("group_id")
      .agg(countDistinct(col("split")).as("n")).collect()
    assert(distinctPerGroup.nonEmpty && distinctPerGroup.forall(_.getLong(1) == 1L),
      "every dup group must land in exactly one split")
  }

  test("mixReport: hand-computed counts and shares per group") {
    val docs = Seq(
      (1L, "a", "one two three"), (2L, "a", "four five"),
      (3L, "b", "six"), (4L, "b", ""))
      .toDF("doc_id", "source", "text")
    val got = Curation.mixReport(docs, Seq("source"), "text")
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // a: 2 docs, 5 tokens, 22 chars; b: 2 docs, 1 token, 3 chars
    assert(got("a") == (("a", 2L, 5L, 22L, 0.5, 5.0 / 6)))
    assert(got("b") == (("b", 2L, 1L, 3L, 0.5, 1.0 / 6)))
  }

  test("rebalanceMix: exact per-group quotas at the largest feasible N, " +
    "md5-ordered membership, infeasible/degenerate cases") {
    // a: 10 docs, b: 6 docs, targets 0.5/0.3 → N = min(20, 20) = 20 →
    // k_a = 10, k_b = 6 — both groups fully consumed at this mix
    val docs = ((1L to 10L).map(i => (i, "a")) ++ (11L to 16L).map(i => (i, "b")))
      .toDF("doc_id", "source")
    val sel = Curation.rebalanceMix(docs, "source", "doc_id",
      Map("a" -> 0.5, "b" -> 0.3))
    val bySrc = sel.as[(String, Long, Int)].collect().groupBy(_._1)
    assert(bySrc("a").length == 10 && bySrc("b").length == 6)
    // tighter b supply limits N: b: 3 docs → N = min(20, 10) = 10 →
    // k_a = 5, k_b = 3; the five selected a-docs are the md5-smallest
    val docs2 = ((1L to 10L).map(i => (i, "a")) ++ (11L to 13L).map(i => (i, "b")))
      .toDF("doc_id", "source")
    val sel2 = Curation.rebalanceMix(docs2, "source", "doc_id",
      Map("a" -> 0.5, "b" -> 0.3)).as[(String, Long, Int)].collect()
    val a2 = sel2.filter(_._1 == "a").sortBy(_._3).map(_._2).toSeq
    assert(a2.length == 5 && sel2.count(_._1 == "b") == 3)
    def key(id: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5, 16) % Int.MaxValue
    }
    assert(a2 == (1L to 10L).sortBy(i => (key(i), i)).take(5),
      "selection must follow the md5 sample-key order")
    // untargeted groups never affect the selection (pure function of ids)
    val withNoise = docs2.unionByName(
      Seq((100L, "c"), (101L, "c")).toDF("doc_id", "source"))
    assert(Curation.rebalanceMix(withNoise, "source", "doc_id",
      Map("a" -> 0.5, "b" -> 0.3)).as[(String, Long, Int)].collect().toSet ==
      sel2.toSet)
    // a targeted group missing from the corpus → infeasible → empty
    assert(Curation.rebalanceMix(docs2, "source", "doc_id",
      Map("a" -> 0.5, "zzz" -> 0.5)).count() == 0)
    // proportions must not exceed 1
    intercept[IllegalArgumentException] {
      Curation.rebalanceMix(docs2, "source", "doc_id",
        Map("a" -> 0.9, "b" -> 0.2))
    }
  }

  test("removeBoilerplateLines: hot lines dropped (incl. within-doc repeats), " +
    "blanks and unique lines kept, untouched docs byte-identical") {
    val docs = Seq(
      (1L, "alpha body one\nSHARED FOOTER\n\nunique 1"),
      (2L, "beta body two\nSHARED FOOTER\nunique 2"),
      (3L, "gamma body three\nSHARED FOOTER\nSHARED FOOTER\nunique 3"),
      (4L, "delta only unique\n\ntail line")).toDF("doc_id", "text")
    val got = Curation.removeBoilerplateLines(docs, "doc_id", "text", minDocs = 2L)
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("alpha body one\n\nunique 1", 1)))
    assert(got(2L) == (("beta body two\nunique 2", 1)))
    // BOTH within-doc copies of the hot line go
    assert(got(3L) == (("gamma body three\nunique 3", 2)))
    // no hot line → byte-identical reconstruction, blank line intact
    assert(got(4L) == (("delta only unique\n\ntail line", 0)))
  }

  test("dedupParagraphs: keep-first (lowest doc id, then position) incl. " +
    "within-doc repeats; blanks structural; untouched docs byte-identical") {
    val docs = Seq(
      (1L, "alpha body\nREPEATED UNIT\nunique 1"),
      (2L, "REPEATED UNIT\nbeta body\nREPEATED UNIT"),
      (3L, "gamma body\n\nREPEATED UNIT"),
      (4L, "delta only unique\n\ntail line")).toDF("doc_id", "text")
    val got = Curation.dedupParagraphs(docs, "doc_id", "text", delim = "\n")
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 1 holds the globally first occurrence — it SURVIVES (vs
    // removeBoilerplateLines, which would cut the keeper too)
    assert(got(1L) == (("alpha body\nREPEATED UNIT\nunique 1", 0)))
    // both of doc 2's occurrences are later than doc 1's → both dropped
    assert(got(2L) == (("beta body", 2)))
    // blank line is structural, never a dedup candidate
    assert(got(3L) == (("gamma body\n", 1)))
    assert(got(4L) == (("delta only unique\n\ntail line", 0)))
    // paragraph ("\n\n") units: the repeated two-line paragraph dedups as
    // ONE unit; the first occurrence survives intact
    val pdocs = Seq(
      (1L, "intro para\n\nquote line a\nquote line b\n\noutro"),
      (2L, "quote line a\nquote line b\n\nother para")).toDF("doc_id", "text")
    val pg = Curation.dedupParagraphs(pdocs, "doc_id", "text")
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(pg(1L) == (("intro para\n\nquote line a\nquote line b\n\noutro", 0)))
    assert(pg(2L) == (("other para", 1)))
  }

  test("dedupParagraphsIncremental over a persisted fingerprint table ≡ " +
    "full keep-first recompute restricted to the new batch; delimiter " +
    "mismatch refused") {
    val lr = new scala.util.Random(99)
    // small unit pool → guaranteed cross-doc, cross-batch and within-doc
    // repeats on a randomized corpus
    val units = (0 until 12).map(i => s"unit $i ${lr.nextInt(5)}")
    def doc(): String =
      Seq.fill(3 + lr.nextInt(4))(units(lr.nextInt(units.length))).mkString("\n")
    val old = (0L until 20L).map(i => (i, doc()))
    val nw = (100L until 115L).map(i => (i, doc()))
    val full = Curation.dedupParagraphs(
      (old ++ nw).toDF("doc_id", "text"), "doc_id", "text", delim = "\n")
      .where(col("doc_id") >= 100L)
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val table = java.nio.file.Files.createTempDirectory("graft_para_fp")
      .resolve("fps").toString
    Curation.persistParagraphFingerprints(old.toDF("doc_id", "text"), table,
      "doc_id", "text", delim = "\n")
    val incr = Curation.dedupParagraphsIncremental(nw.toDF("doc_id", "text"),
      Curation.readParagraphFingerprints(spark, table, delim = "\n"),
      "doc_id", "text", delim = "\n")
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(incr == full,
      s"diff=${(full.toSet -- incr.toSet).take(3)} vs ${(incr.toSet -- full.toSet).take(3)}")
    val ex = intercept[IllegalArgumentException] {
      Curation.readParagraphFingerprints(spark, table, delim = "\n\n")
    }
    assert(ex.getMessage.contains("delim_hex"))
  }

  test("drop_token_ranges: overlap merge, out-of-bounds clamp, empty ranges " +
    "and untouched text pass through verbatim") {
    import graft.functions.TextExpressions.drop_token_ranges
    def run(text: String, ranges: Seq[(Int, Int)]): String =
      Seq((text, ranges)).toDF("t", "r")
        .select(drop_token_ranges(col("t"),
          transform(col("r"), x =>
            struct(x("_1").as("start"), x("_2").as("len")))).as("o"))
        .as[String].head()
    // overlapping + duplicate ranges merge — tokens 1..4 go once
    assert(run("t0 t1 t2 t3 t4 t5", Seq((1, 3), (2, 3), (1, 3))) == "t0 t5")
    // clamp: negative start and len past the end
    assert(run("t0 t1 t2", Seq((-2, 3), (2, 99))) == "t1")
    // full cut → empty string
    assert(run("t0 t1", Seq((0, 2))) == "")
    // empty range list / zero-len range → ORIGINAL text, whitespace intact
    assert(run("t0  t1\tt2", Seq.empty) == "t0  t1\tt2")
    assert(run("t0  t1", Seq((1, 0))) == "t0  t1")
  }

  test("cutRepeatedSpans: keep-lowest-id policy, overlapping partner spans " +
    "merge, untouched docs verbatim, minSpanTokens raises the bar") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x x a b c d e y"),         // shares "a b c d e" with doc 1
      (3L, "p q r a b c d e f s"),     // shares 6 tokens w/ 1, 5 w/ 2 — overlap
      (4L, "m  m   m n n n"),          // nothing shared: verbatim incl. spaces
      (5L, "z1 z2 w w w z3 w w w"))    // within-doc repeat only: out of scope
      .toDF("doc_id", "text")
    val got = Curation.cutRepeatedSpans(docs, "doc_id", "text", k = 3)
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("a b c d e f g h", 0)))   // lowest id keeps the span
    assert(got(2L) == (("x x y", 5)))
    assert(got(3L) == (("p q r s", 6)))           // [3,9)∪[3,8) merged
    assert(got(4L) == (("m  m   m n n n", 0)))
    assert(got(5L) == (("z1 z2 w w w z3 w w w", 0)))
    // threshold: only the 6-token (1,3) span clears minSpanTokens=6
    val thr = Curation.cutRepeatedSpans(docs, "doc_id", "text", k = 3,
        minSpanTokens = 6)
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(thr(2L) == (("x x a b c d e y", 0)))
    assert(thr(3L) == (("p q r s", 6)))
    // identical docs: the higher id is cut to empty
    val twins = Seq((1L, "q1 q2 q3"), (2L, "q1 q2 q3")).toDF("doc_id", "text")
    val tw = Curation.cutRepeatedSpans(twins, "doc_id", "text", k = 3)
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(tw(1L) == (("q1 q2 q3", 0)) && tw(2L) == (("", 3)))
  }

  test("cutRepeatedSpans withinDoc: later internal occurrences cut, first " +
    "kept; overlap-period repeats collapse to one copy; cross-doc and " +
    "within-doc ranges merge") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x x a b c d e y"),          // cross-doc cut vs doc 1
      (5L, "z1 z2 w w w z3 w w w"),     // internal repeat of "w w w"
      (6L, "a a a a a"),                // period-1: exactly one token survives
      (7L, "s t u v X s t u v"),        // 4-token block repeated
      (9L, "a b c d e a b c d e"))      // cross-doc (vs 1) AND internal repeat
      .toDF("doc_id", "text")
    val got = Curation.cutRepeatedSpans(docs, "doc_id", "text", k = 3,
        withinDoc = true)
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("a b c d e f g h", 0)))
    assert(got(2L) == (("x x y", 5)))
    assert(got(5L) == (("z1 z2 w w w z3", 3)))
    assert(got(6L) == (("a", 4)))
    assert(got(7L) == (("s t u v X", 4)))
    assert(got(9L) == (("", 10)))       // both occurrences match doc 1
    // default withinDoc=false leaves internal repeats alone (cross-doc only)
    val off = Curation.cutRepeatedSpans(docs, "doc_id", "text", k = 3)
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(off(5L) == (("z1 z2 w w w z3 w w w", 0)))
    assert(off(6L) == (("a a a a a", 0)))
  }

  test("removeBoilerplateLines: blank lines are structural — never counted " +
    "toward the boilerplate threshold, never removed") {
    val docs = Seq((1L, "a\n\nx"), (2L, "b\n\ny"), (3L, "c\n\nz"))
      .toDF("doc_id", "text")
    val got = Curation.removeBoilerplateLines(docs, "doc_id", "text", minDocs = 2L)
      .as[(Long, String, Int)].collect()
    assert(got.forall(_._3 == 0))
    assert(got.map(r => r._1 -> r._2).toMap ==
      Map(1L -> "a\n\nx", 2L -> "b\n\ny", 3L -> "c\n\nz"))
  }

  test("rebalanceMixTokens: quotas never overshoot, selection is " +
    "partitioning-invariant, sharded cumsum equals the naive global order, " +
    "and token shares track the targets") {
    val rnd = new scala.util.Random(7)
    val docs = (0L until 300L).map { i =>
      val g = s"s${i % 3}"
      val words = 1 + rnd.nextInt(40)
      (i, g, (0 until words).map(w => s"w$w").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val targets = Map("s0" -> 0.5, "s1" -> 0.3, "s2" -> 0.2)
    val got = Curation.rebalanceMixTokens(docs, "source", "doc_id", "text",
      targets, shards = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // compute quotas by hand
    val totals = docs.groupBy("source")
      .agg(sum(graft.operators.TextOps.tokenCount(col("text")).cast("long")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = targets.map { case (g, p) => math.floor(totals(g) / p) }.min.toLong
    val quota = targets.map { case (g, p) => g -> math.floor(p * n).toLong }
    // per group: cum_tokens ≤ quota, strictly increasing, sums to max ≤ quota
    got.groupBy(_._1).foreach { case (g, rows) =>
      val cums = rows.sortBy(_._4).map(_._4)
      assert(cums.last <= quota(g), s"group $g overshoots its token quota")
      assert(cums.zip(cums.drop(1)).forall { case (a, b) => a < b })
      // the NEXT doc in order would overshoot (selection is maximal): the
      // kept token mass is within one doc of the quota by construction
      assert(rows.map(_._3).sum == cums.last)
    }
    // partitioning invariance
    val got11 = Curation.rebalanceMixTokens(docs.repartition(11), "source",
      "doc_id", "text", targets, shards = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got11 == got.toSet, "membership must not depend on partitioning")
    // sharded two-phase cumsum == naive single global order per group
    val naive = docs.select(col("source"), col("doc_id"),
        graft.operators.TextOps.tokenCount(col("text")).cast("long").as("n"),
        Curation.hashBucket(col("doc_id"), 4).as("sh"),
        Curation.hashBucket(col("doc_id"), Int.MaxValue).as("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        var c = 0L
        rows.sortBy(r => (r._4, r._5, r._2)).toSeq.flatMap { r =>
          c += r._3
          if (c <= quota(g)) Some((g, r._2, r._3, c)) else None
        }
      }.toSet
    assert(got.toSet == naive, "two-phase cumsum must equal the global order")
  }

  test("epochPlan: full epochs repeat every doc, the partial epoch is the " +
    "md5-order token prefix of the remainder, totals realize the largest " +
    "budget under the epoch cap, and the plan is deterministic") {
    val rnd = new scala.util.Random(11)
    val docs = (0L until 200L).map { i =>
      // s0 is token-poor (needs upsampling), s1 token-rich
      val g = if (i % 4 == 0) "s0" else "s1"
      val words = 1 + rnd.nextInt(if (g == "s0") 10 else 40)
      (i, g, (0 until words).map(w => s"w$w").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val targets = Map("s0" -> 0.5, "s1" -> 0.5)
    val maxE = 3
    val got = Curation.epochPlan(docs, "source", "doc_id", "text", targets,
      maxEpochs = maxE, shards = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val totals = docs.groupBy("source")
      .agg(sum(graft.operators.TextOps.tokenCount(col("text")).cast("long")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = targets.map { case (g, p) => math.floor(maxE * totals(g) / p) }.min.toLong
    val nDocs = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    targets.keys.foreach { g =>
      val q = math.floor(targets(g) * n).toLong
      val e = q / totals(g)
      val rows = got.filter(_._1 == g)
      assert(e <= maxE)
      // epochs 1..e contain EVERY doc of the group
      (1L to e).foreach { ep =>
        assert(rows.count(_._4 == ep) == nDocs(g), s"$g epoch $ep incomplete")
      }
      // the partial epoch never overshoots the remainder, and total selected
      // tokens land within one doc of the quota
      val partialToks = rows.filter(_._4 == e + 1).map(_._3).sum
      assert(partialToks <= q - e * totals(g))
      val totalToks = rows.map(_._3).sum
      assert(totalToks <= q && q - totalToks < 400, // < one max-size doc
        s"$g: selected $totalToks of quota $q")
      assert(rows.forall(_._4 <= e + 1))
    }
    // the token-poor group is actually upsampled (≥ 2 full epochs)
    assert(got.filter(_._1 == "s0").map(_._4).max >= 2)
    // determinism under repartitioning
    val again = Curation.epochPlan(docs.repartition(13), "source", "doc_id",
      "text", targets, maxEpochs = maxE, shards = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSet == got.toSet)
  }

  private def strip(html: String): String =
    Seq((1L, html)).toDF("id", "t")
      .select(Curation.stripMarkup(col("t"))).as[String].head()

  test("stripMarkup: drops script/style/comment blocks (multi-line, nasty " +
    "JS with <, &&, quotes), strips tags, keeps text") {
    val html = "<html><head><title>T</title>" +
      "<style type=\"text/css\">\nbody { margin: 0; }\na > b { x: 1 }\n</style>" +
      "<script>\nfor (var i=0; i<10 && f(\"<p>\"); i++) { g('</di'+'v>'); }\n" +
      "</script></head><body>hello <b>world</b></body></html>"
    assert(strip(html) == "T hello world")
    // comments spanning lines, including markup inside the comment; block
    // removal is "" (no separator — same as script/style)
    assert(strip("a<!-- hidden\n<p>not text</p>\n-->b") == "ab")
    // SCRIPT/Style case-insensitive
    assert(strip("x<SCRIPT>evil()</sCrIpT >y<STYLE>s</Style>z") == "xyz")
  }

  test("stripMarkup: block-level closes and br/hr become newlines; inline " +
    "tags become spaces; </pre> breaks but </p-prefix names don't collide") {
    assert(strip("<h1>Title</h1><p>one</p><p>two</p>") == "Title\none\ntwo")
    assert(strip("a<br>b<br/>c<br />d<hr>e") == "a\nb\nc\nd\ne")
    assert(strip("<ul><li>x</li><li>y</li></ul>") == "x\ny")
    // </pre> is in the break list explicitly; tag stripping never merges words
    assert(strip("<pre>code</pre>next") == "code\nnext")
    assert(strip("a<div>b</div>c") == "a b\nc")
    assert(strip("bo<b>ld</b>") == "bo ld")
  }

  test("stripMarkup: entity decode — common set, single level (&amp;lt; " +
    "stays literal &lt;), unknown entities pass through, &amp; last") {
    assert(strip("1 &lt; 2 &amp;&amp; 3 &gt; 2") == "1 < 2 && 3 > 2")
    assert(strip("&quot;q&quot; &#34;d&#34; &apos;a&apos; &#39;n&#39;") ==
      "\"q\" \"d\" 'a' 'n'")
    assert(strip("a&nbsp;b") == "a b")
    assert(strip("&amp;lt;not-a-tag&gt;") == "&lt;not-a-tag>")
    assert(strip("&bogus; &copy;") == "&bogus; &copy;")
  }

  test("stripMarkup: numeric character references — decimal and hex decode " +
    "to code points; invalid (0, surrogates, >U+10FFFF, digit-run too long, " +
    "empty) pass through verbatim; &amp;#65; decodes exactly one level") {
    assert(strip("&#65;b &#x48;&#105; &#8217;q&#8217;") == "Ab Hi ’q’")
    assert(strip("&#x1F600;") == new String(Character.toChars(0x1F600)))
    assert(strip("&#0; &#xD800; &#xdfff; &#1114112; &#123456789; " +
      "&#x1234567; &#; &#x; &#65") ==
      "&#0; &#xD800; &#xdfff; &#1114112; &#123456789; &#x1234567; &#; &#x; &#65")
    assert(strip("&amp;#65;") == "&#65;")
    // boundary codes decode; decoded whitespace joins normalization
    // (&#9; = tab collapses, three &#10; newlines cap at a blank line)
    assert(strip("&#1; &#x10FFFF;") ==
      "\u0001 " + new String(Character.toChars(0x10FFFF)))
    assert(strip("a&#9;&#9;b&#10;&#10;&#10;c") == "a b\n\nc")
  }

  test("stripMarkup: whitespace normalization — horizontal runs collapse, " +
    "lines trim flush, blank runs cap at one, ends trimmed; lone < is text") {
    assert(strip("  <p>a   b\t\tc</p>\n\n\n\n<p>d</p>  ") == "a b c\n\nd")
    assert(strip("x < y") == "x < y")
    assert(strip("") == "")
    assert(strip("<p></p><div></div>") == "")
  }

  test("blocklist: word-boundary hits, longest-alternative wins, case fold, " +
    "filter keeps only clean rows, bad keywords rejected") {
    import spark.implicits._
    val kws = Seq("bad", "badword", "evil phrase")
    val docs = Seq(
      (1L, "a clean document"),
      (2L, "contains badword here"),          // long term, NOT "bad"
      (3L, "plain bad stuff"),                // short term
      (4L, "an EVIL Phrase and Bad stuff"),   // case-folded, two hits
      (5L, "embedded badwording is fine"),    // no boundary -> no hit
      (6L, "bad bad badword")                 // repeats count
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        Curation.keywordHits(col("text"), kws).as("n"),
        array_join(Curation.keywordMatches(col("text"), kws), ",").as("terms"))
      .as[(Long, Int, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (0, "") && got(5L) == (0, ""))
    assert(got(2L) == (1, "badword"))
    assert(got(3L) == (1, "bad"))
    assert(got(4L) == (2, "bad,evil phrase"))
    assert(got(6L) == (3, "bad,badword"))
    assert(Curation.filterBlocklist(docs, "text", kws)
      .select("doc_id").as[Long].collect().sorted.sameElements(Seq(1L, 5L)))
    // alternation is longest-first regardless of input order
    assert(Curation.keywordPattern(Seq("bad", "badword")) ==
      Curation.keywordPattern(Seq("badword", "bad")))
    intercept[IllegalArgumentException] {
      Curation.keywordPattern(Seq("Bad"))
    }
    intercept[IllegalArgumentException] {
      Curation.keywordPattern(Seq("a|b"))
    }
  }
}
