package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** Text-analysis operators: tokenization edge cases, shingles, quality score
  * bounds, language-ID heuristic, fingerprint stability. */
class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("tokens: whitespace runs collapse; blank → empty array") {
    val df = Seq("  a  b\tc ", "", "   ", "one").toDF("text")
    val got = df.select(TextOps.tokens(col("text"))).as[Seq[String]].collect()
    assert(got(0) == Seq("a", "b", "c"))
    assert(got(1).isEmpty && got(2).isEmpty)
    assert(got(3) == Seq("one"))
  }

  test("tokenCount matches scalar split") {
    val texts = Seq("a b c", "", "x", "a  b   c d")
    val got = texts.toDF("text").select(TextOps.tokenCount(col("text"))).as[Int].collect()
    assert(got.sameElements(Array(3, 0, 1, 4)))
  }

  test("tokenCountBpe matches a scalar JVM-regex count (letter runs, " +
    "single digits, single punct)") {
    val texts = Seq("hello world", "a1b2", "don't stop!", "", "  ", "42 + 42",
      "comma,separated,list")
    val got = texts.toDF("text").select(TextOps.tokenCountBpe(col("text")))
      .as[Int].collect()
    val p = java.util.regex.Pattern.compile(TextOps.bpeTokenPattern)
    texts.zip(got).foreach { case (t, n) =>
      var c = 0; val m = p.matcher(t); while (m.find()) c += 1
      assert(n == c, s"'$t'")
    }
    // sanity of the shape: digits and punct tokenize individually
    assert(got(1) == 4) // a,1,b,2
    assert(got(2) == 5) // don,',t,stop,!
  }

  test("tokenCountBpe counts a non-BMP glyph (emoji) as ONE token — Java " +
    "regex classes are code-point aware, matching the RE2 oracle") {
    // "hi 😀 ok 🚀🚀 x" — verified empirically: DuckDB regexp_extract_all
    // returns 6 for the same pattern (1 per emoji, not 1 per surrogate)
    val s = "hi " + new String(Character.toChars(0x1F600)) + " ok " +
      new String(Character.toChars(0x1F680)) * 2 + " x"
    val got = Seq(s).toDF("text").select(TextOps.tokenCountBpe(col("text")))
      .as[Int].head()
    assert(got == 6, s"expected 6 code-point tokens, got $got")
  }

  test("tokensUnicode: CJK code points tokenize individually where " +
    "whitespace split sees ~1 token") {
    // 日本語のテキストです (10 CJK code points, no spaces)
    val jp = "日本語のテキストです"
    // 한국어 텍스트 (3+3 Hangul syllables, one space)
    val ko = "한국어 텍스트"
    // mixed Latin + Han, Han Ext-B astral pair (U+20000 U+20001),
    // U+3000 ideographic space, NBSP-glued Latin
    val mixed = "hello 世界 world"
    val extB = new String(Character.toChars(0x20000)) +
      new String(Character.toChars(0x20001)) + " ext-b"
    val ideo = "漢字　カナ mixed ascii-run 123"
    val nbsp = "nbsp separated"
    val texts = Seq(jp, ko, mixed, extB, ideo, nbsp, "", "   ", "plain ascii")
    val df = texts.toDF("text")
    val uni = df.select(TextOps.tokenCountUnicode(col("text"))).as[Int].collect()
    val ws = df.select(TextOps.tokenCount(col("text"))).as[Int].collect()
    // empirically verified identical in DuckDB RE2 (same pattern string)
    assert(uni.sameElements(Array(10, 6, 4, 3, 7, 2, 0, 0, 2)), uni.mkString(","))
    assert(ws(0) == 1 && uni(0) == 10, "CJK doc: ws sees 1 token, unicode 10")
    // scalar JVM-regex parity on every fixture (same pattern the oracle runs)
    val p = java.util.regex.Pattern.compile(TextOps.unicodeTokenPattern)
    texts.zip(uni).foreach { case (t, n) =>
      var c = 0; val m = p.matcher(t); while (m.find()) c += 1
      assert(n == c, s"'$t'")
    }
  }

  test("tokenCounterFor wires the tokenizer option into token-budget " +
    "consumers: packSequences(unicode) packs a CJK doc by code points") {
    val jp = "日本語のテキストです" // 10 cp
    val docs = Seq((1L, jp), (2L, "three ascii tokens")).toDF("doc_id", "text")
    val uni = TextOps.packSequences(docs, "doc_id", "text", seqLen = 4,
      numShards = 1, tokenizer = "unicode")
      .select(col("doc_id"), col("n_tokens")).as[(Long, Long)].collect().toMap
    assert(uni(1L) == 10L && uni(2L) == 3L)
    val ws = TextOps.packSequences(docs, "doc_id", "text", seqLen = 4,
      numShards = 1)
      .select(col("doc_id"), col("n_tokens")).as[(Long, Long)].collect().toMap
    assert(ws(1L) == 1L, "whitespace default unchanged: CJK doc counts 1")
    intercept[IllegalArgumentException] { TextOps.tokenCounterFor("nope") }
  }

  test("shingles: n-grams as space-joined strings; short docs → empty") {
    val df = Seq("a b c d", "a b").toDF("text")
    val got = df.select(TextOps.shingles(TextOps.tokens(col("text")), 3))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("repetitionRatio: 0 for unique trigrams, →1 for looped phrases, 0 for short docs") {
    val docs = Seq(
      (1L, "a b c d e f g h"),                    // all trigrams unique → 0
      (2L, "x y z x y z x y z x y z"),            // looped phrase → high
      (3L, "one two"),                            // < 3 tokens → 0
      (4L, "")                                    // empty → 0
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
      graft.operators.TextOps.repetitionRatio(col("text"), 3).as("r"))
      .as[(Long, Double)].collect().toMap
    def scalar(t: String): Double = {
      val toks = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.size < 3) 0.0
      else {
        val sh = toks.sliding(3).map(_.mkString(" ")).toSeq
        1.0 - sh.distinct.size.toDouble / sh.size
      }
    }
    assert(got(1L) == 0.0)
    assert(math.abs(got(2L) - scalar("x y z x y z x y z x y z")) < 1e-12 && got(2L) > 0.5)
    assert(got(3L) == 0.0 && got(4L) == 0.0)
  }

  test("qualityScore in [0,1]; punctuation/digit-heavy text scores lower") {
    val clean = "the quick brown fox jumps over the lazy dog again and again"
    val noisy = "1234 5678 !!!! ???? ;;;; 9999 0000 ,,.."
    val got = Seq(clean, noisy).toDF("text")
      .select(TextOps.qualityScore(col("text"))).as[Double].collect()
    assert(got.forall(s => s >= 0.0 && s <= 1.0))
    assert(got(0) > got(1))
  }

  test("langId picks the language with most stopword hits; 'und' when none") {
    val df = Seq(
      "the cat and the dog of a house is it",
      "der hund und die katze ist ein tier",
      "el perro y la casa es un gato",
      "qwerty zzz xxx").toDF("text")
    val got = df.select(TextOps.langId(TextOps.tokens(col("text")))).as[String].collect()
    assert(got(0) == "en")
    assert(got(1) == "de")
    assert(got(2) == "es")
    assert(got(3) == "und")
  }

  test("fingerprint: stable under whitespace layout, changes with content") {
    val df = Seq(
      "alpha beta gamma delta epsilon",
      "alpha   beta\tgamma  delta epsilon",
      "alpha beta gamma delta zeta").toDF("text")
    val got = df.select(TextOps.fingerprint(col("text"))).as[Long].collect()
    assert(got(0) == got(1), "whitespace-invariant")
    assert(got(0) != got(2), "content-sensitive")
  }

  test("minhashSignature: equal sets → equal signatures; similarity ≈ matching fraction") {
    val df = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o p"),
      (3L, "q r s t u v w x y z a2 b2 c2 d2 e2 f2")).toDF("id", "text")
    val sig = df.select(col("id"),
      TextOps.minhashSignature(
        array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 2)), 64).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig(1L) == sig(2L))
    val matches = sig(1L).zip(sig(3L)).count { case (a, b) => a == b }
    assert(matches < 16, s"disjoint shingle sets should rarely collide ($matches/64)")
  }

  test("chunkTokens: consecutive fixed-size chunks, short last chunk, " +
    "empty docs skipped, join/split round-trip") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens, cs=4 -> 4,4,2
      (2L, "only three  tokens"),                     // one short chunk
      (3L, "   "),                                    // no chunks
      (4L, (1 to 8).map(i => s"w$i").mkString(" ")))  // exact multiple -> 4,4
      .toDF("doc_id", "text")
    val got = TextOps.chunkTokens(docs, "doc_id", "text", chunkSize = 4)
      .orderBy("doc_id", "chunk_idx")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq == Seq(
      (1L, 0, 4), (1L, 1, 4), (1L, 2, 2),
      (2L, 0, 3),
      (4L, 0, 4), (4L, 1, 4)))
    // chunk text round-trips: concatenating chunks re-tokenizes to the doc
    val doc1 = got.filter(_._1 == 1L).map(_._4).mkString(" ").split(" ").toSeq
    assert(doc1 == (1 to 10).map(i => s"t$i"))
    assert(got.find(t => t._1 == 2L).get._4 == "only three tokens")
  }

  test("packSequences: scalar parity per md5 shard (contiguous tiling, " +
    "straddle flag), partitioning invariance, window partitioned by shard") {
    val docs = (1L to 24L).map(i =>
      (i, (1L to (i % 5 + 1)).map(j => s"t$j").mkString(" "))) :+ (99L, "   ")
    val df = docs.toDF("doc_id", "text")
    val L = 7; val S = 3
    def run(parts: Int) =
      TextOps.packSequences(df.repartition(parts), "doc_id", "text", L, S)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5)))
        .sortBy(_._1)
    val got = run(1)
    // scalar replay of hashBucket + per-shard cumsum
    def shardOf(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 8), 16) % S).toInt
    }
    val expect = docs.filter(_._2.trim.nonEmpty)
      .map { case (id, text) => (id, shardOf(id), text.trim.split("\\s+").length.toLong) }
      .groupBy(_._2).toSeq.flatMap { case (_, members) =>
        var end = 0L
        members.sortBy(_._1).map { case (id, sh, n) =>
          end += n
          val start = end - n
          (id, sh, n, start / L, start % L, (end - 1) / L > start / L)
        }
      }.sortBy(_._1)
    assert(got.toSeq == expect)
    assert(got.length == 24, "blank doc contributes no placement")
    assert(run(7).toSeq == expect, "placement must not depend on partitioning")
    // straddle flag consistent with offset arithmetic
    got.foreach { case (_, _, n, _, off, straddles) =>
      assert(straddles == (off + n > L))
    }
    // the window is per-shard, never the unpartitioned single-task shape
    val plan = TextOps.packSequences(df, "doc_id", "text", L, S)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("windowspecdefinition(shard"),
      s"expected a shard-partitioned window in:\n$plan")
  }

  test("packSequences property (seeded): random corpora tile every shard " +
    "contiguously — each doc starts exactly where the previous one ended") {
    val rnd = new scala.util.Random(777)
    (0 until 2).foreach { _ =>
      val docs = (0 until 80).map { i =>
        (i.toLong * 1000 + rnd.nextInt(1000),
          (0 until rnd.nextInt(20)).map(j => s"w$j").mkString(" "))
      }.toDF("doc_id", "text")
      val L = 5 + rnd.nextInt(20)
      val got = TextOps.packSequences(docs, "doc_id", "text", L, 4)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      got.groupBy(_._2).values.foreach { members =>
        var expectStart = 0L
        members.sortBy(_._1).foreach { case (id, _, n, seqId, off) =>
          assert(seqId * L + off == expectStart,
            s"doc $id starts at ${seqId * L + off}, expected $expectStart (L=$L)")
          expectStart += n
        }
      }
    }
  }

  test("packCounts: packSequences equivalence on text, and packs chunker " +
    "output via a composite id") {
    val docs = (1L to 12L).map(i =>
      (i, (1L to (i % 7 + 3)).map(j => s"t$j").mkString(" "))).toDF("doc_id", "text")
    val viaText = TextOps.packSequences(docs, "doc_id", "text", 7, 2)
      .collect().map(_.toSeq).toSet
    val viaCounts = TextOps.packCounts(
      docs.select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", 7, 2)
      .collect().map(_.toSeq).toSet
    assert(viaText == viaCounts)
    // chunk → pack composition: chunks of ≤4 tokens packed into 8-token
    // sequences; every chunk fits, so seq_offset + n_tokens ≤ 8 unless the
    // chunk straddles
    val chunks = TextOps.chunkTokens(docs, "doc_id", "text", chunkSize = 4)
      .select(concat(col("doc_id"), lit("_"), col("chunk_idx")).as("chunk_id"),
        col("n_tokens"))
    val packed = TextOps.packCounts(chunks, "chunk_id", "n_tokens", 8, 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(4), r.getBoolean(5)))
    assert(packed.length == chunks.count())
    packed.foreach { case (id, n, off, straddles) =>
      assert(straddles == (off + n > 8), id)
    }
  }

  test("vocabulary: counts, min-count filter, dense ids ordered by " +
    "(occurrences desc, token asc), partitioning-invariant") {
    val docs = Seq(
      (1L, "b a a c"), (2L, "a b"), (3L, "c a"), (4L, "   "))
      .toDF("doc_id", "text")
    def run(parts: Int) = TextOps.vocabulary(docs.repartition(parts),
      "doc_id", "text", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      .sortBy(_._4)
    val got = run(1)
    // a: 4 occ / 3 docs; b: 2/2; c: 2/2 (b before c on the token tie-break)
    assert(got == Seq(("a", 4L, 3L, 0L), ("b", 2L, 2L, 1L), ("c", 2L, 2L, 2L)))
    assert(run(5) == got, "ids must not depend on partitioning")
  }

  test("tfidf matches the scalar ln(N/df) computation") {
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "c c c c")).toDF("doc_id", "text")
    val got = TextOps.tfidf(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val n = 3.0
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    // doc1 "a a b": tf(a)=2/3, df(a)=2 -> idf=ln(3/2)
    val (tfA, idfA, tiA) = got((1L, "a"))
    assert(close(tfA, 2.0 / 3) && close(idfA, math.log(n / 2)) && close(tiA, tfA * idfA))
    // doc3 "c c c c": tf=1, df(c)=2
    val (tfC, idfC, tiC) = got((3L, "c"))
    assert(close(tfC, 1.0) && close(idfC, math.log(n / 2)) && close(tiC, idfC))
    // b appears once in one doc: idf=ln(3)
    assert(close(got((1L, "b"))._2, math.log(3.0)))
    assert(got.size == 5)
  }

  test("tfidfWith releases the persisted term stage after materialization " +
    "(no cache accumulation across calls in a long-lived session)") {
    // distinct content from the scalar-parity test above — its fire-and-forget
    // tfidf() left an identical-plan stage cached, which CacheManager would
    // silently reuse here and mask the persist/release under test
    val docs = Seq((1L, "p p q"), (2L, "p r"), (3L, "r r r r")).toDF("doc_id", "text")
    // track persisted-RDD IDS, not counts: the ContextCleaner async-unpersists
    // rdds from earlier suites whose references were GC'd, so a count can
    // shrink concurrently and mask the +1 under test
    def cachedIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = cachedIds()
    var added = Set.empty[Int]
    val rows = TextOps.tfidfWith(docs, "doc_id", "text") { df =>
      val r = df.collect()
      // inside the callback the term stage IS cached (that's the point —
      // three consumers, one tokenize)
      added = cachedIds() -- before
      assert(added.nonEmpty, "term stage should be persisted during use")
      r
    }
    assert(rows.length == 5)
    // unpersist is async (blocking = false) — poll briefly for the release
    val deadline = System.nanoTime() + 10e9.toLong
    while ((cachedIds() & added).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert((cachedIds() & added).isEmpty,
      s"term stage still cached after release: ${cachedIds() & added}")
    // staged handle: release is explicit and idempotent
    val staged = TextOps.tfidfStaged(docs, "doc_id", "text")
    assert(staged.df.count() == 5)
    staged.release(); staged.release()
  }

  test("bigramLm/lmScore: hand-computed add-k cross-entropy incl. unseen " +
    "continuation and unseen prefix; single-token docs absent; release seam") {
    val train = Seq((1L, "a b a b c"), (2L, "a b")).toDF("doc_id", "text")
    val lm = TextOps.bigramLm(train, "text", k = 0.5)
    // bigrams: doc1 → "a b","b a","a b","b c"; doc2 → "a b"
    assert(lm.vocabSize == 3) // {a, b, c}
    assert(lm.bigrams.as[(String, Long)].collect().toMap ==
      Map("a b" -> 3L, "b a" -> 1L, "b c" -> 1L))
    assert(lm.prefixes.as[(String, Long)].collect().toMap ==
      Map("a" -> 3L, "b" -> 2L))
    val k = 0.5; val v = 3.0
    def lp(c12: Double, c1: Double) = math.log((c12 + k) / (c1 + k * v))
    val docs = Seq((10L, "a b d"), (11L, "z q"), (12L, "a")).toDF("doc_id", "text")
    val got = TextOps.lmScore(docs, "doc_id", "text", lm)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(10L, 11L)) // "a" has no bigrams
    // "a b" seen (c12=3, c1=3); "b d" unseen continuation of seen prefix b
    val ce10 = -(lp(3, 3) + lp(0, 2)) / 2
    assert(got(10L)._2 == 2 && math.abs(got(10L)._3 - ce10) < 1e-12)
    assert(math.abs(got(10L)._4 - math.exp(ce10)) < 1e-12)
    // "z q": unseen prefix → ln(1/V)
    assert(got(11L)._2 == 1 &&
      math.abs(got(11L)._3 - math.log(3.0)) < 1e-12)
    // release seam: the persisted bigram table is freed (async)
    assert(lm.bigrams.storageLevel.useMemory)
    lm.release(); lm.release() // idempotent
    val deadline = System.nanoTime() + 10e9.toLong
    while (lm.bigrams.storageLevel.useMemory && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(!lm.bigrams.storageLevel.useMemory, "bigram stage still cached")
  }

  test("lm_score: term-identical to the join-based lmScore (order-" +
    "noise only), NULL under 2 tokens, collectLm size guard") {
    val train = Seq((1L, "a b a b c d e f a c"), (2L, "a b c a d"))
      .toDF("doc_id", "text")
    val lm = TextOps.bigramLm(train, "text", k = 0.25)
    val bc = spark.sparkContext.broadcast(TextOps.collectLm(lm))
    val docs = Seq((10L, "a b d z q c"), (11L, "z q"), (12L, "a"), (13L, ""),
      (14L, "c d e f a b a b"))
      .toDF("doc_id", "text")
    val joinPath = TextOps.lmScore(docs, "doc_id", "text", lm)
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    val exprPath = docs.select(col("doc_id"),
        graft.functions.LmExpressions.lm_score(col("text"), bc).as("ce"))
      .as[(Long, Option[Double])].collect().toMap
    // same doc universe: join path omits bigram-less docs, expression NULLs them
    assert(exprPath(12L).isEmpty && exprPath(13L).isEmpty)
    assert(joinPath.keySet == Set(10L, 11L, 14L))
    joinPath.foreach { case (id, ce) =>
      assert(math.abs(exprPath(id).get - ce) < 1e-9, s"doc $id")
    }
    // the guard refuses to collect a model larger than maxEntries
    intercept[IllegalArgumentException] { TextOps.collectLm(lm, maxEntries = 2L) }
    lm.release()
  }

  test("stupidBackoffLm/sbScore: hand-computed backoff chain — trigram hit, " +
    "bigram hit, double backoff, unseen-word floor; single-token and empty docs") {
    val train = Seq((1L, "a b c a b d"), (2L, "a b c")).toDF("doc_id", "text")
    val lm = TextOps.stupidBackoffLm(train, "text")
    // counts: a:3 b:3 c:2 d:1, N=9; "a b":3 "b c":2 "c a":1 "b d":1;
    // "a b c":2 "b c a":1 "c a b":1 "a b d":1
    assert(lm.total == 9)
    assert(lm.unigrams.as[(String, Long)].collect().toMap ==
      Map("a" -> 3L, "b" -> 3L, "c" -> 2L, "d" -> 1L))
    val docs = Seq((10L, "a b c z b c"), (11L, "a"), (12L, " "))
      .toDF("doc_id", "text")
    val got = TextOps.sbScore(docs, "doc_id", "text", lm)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(10L, 11L))
    val a = 0.4
    val s = Seq(
      3.0 / 9,            // pos0 "a": unigram
      3.0 / 3,            // pos1 "b"|a: bigram "a b"=3 / c1(a)=3
      2.0 / 3,            // pos2 "c"|a b: trigram "a b c"=2 / c2("a b")=3
      a * (a * (1.0 / 9)),// pos3 "z": tri+bi unseen, unigram floor 1/N
      a * (a * (3.0 / 9)),// pos4 "b"|c z: tri+bi unseen, unigram b=3/9
      a * (2.0 / 3))      // pos5 "c"|z b: tri unseen, bigram "b c"=2/c1(b)=3
    val want = s.map(x => -math.log(x)).sum / 6
    assert(got(10L)._2 == 6 && math.abs(got(10L)._3 - want) < 1e-12)
    assert(got(11L)._2 == 1 &&
      math.abs(got(11L)._3 + math.log(3.0 / 9)) < 1e-12)
    lm.release(); lm.release() // idempotent
    // KenLM-style count pruning: minCount=2 drops every singleton bi/trigram
    // ("c a","b d","b c a","c a b","a b d") — scoring backs off through the
    // holes; unigrams and N are never pruned
    val pruned = TextOps.stupidBackoffLm(train, "text", minCount = 2)
    assert(pruned.trigrams.as[(String, Long)].collect().toMap ==
      Map("a b c" -> 2L))
    assert(pruned.bigrams.as[(String, Long)].collect().toMap ==
      Map("a b" -> 3L, "b c" -> 2L))
    assert(pruned.total == 9)
    val gotP = TextOps.sbScore(Seq((20L, "a b c a")).toDF("doc_id", "text"),
        "doc_id", "text", pruned)
      .as[(Long, Long, Double)].collect().head
    // pos3 "a"|b c: trigram "b c a" pruned -> α·bigram "c a" pruned ->
    // α²·uni(a); pos0-2 unchanged
    val sp = Seq(3.0 / 9, 1.0, 2.0 / 3, a * a * (3.0 / 9))
    assert(gotP._2 == 4 &&
      math.abs(gotP._3 - sp.map(x => -math.log(x)).sum / 4) < 1e-12)
    pruned.release()
  }

  test("nbLangId: learns distinctive char trigrams (held-out accuracy), " +
    "driver-side NB replay, short docs absent, tie-break, release seam") {
    val train = (
      (1 to 15).map(i => (s"aaa$i", "xx", "wombat wizard waffle wood")) ++
      (1 to 15).map(i => (s"bbb$i", "yy", "zebra zigzag zodiac zoom"))
    ).toDF("id", "lang", "text")
    val model = TextOps.nbLangModel(train, "lang", "text", n = 3, k = 1.0)
    val test = Seq((1L, "wizard wood"), (2L, "zoom zebra"), (3L, "ab"))
      .toDF("doc_id", "text")
    val got = TextOps.nbLangId(test, "doc_id", "text", model)
      .as[(Long, String, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L)) // "ab" has no trigram
    assert(got(1L)._2 == "xx" && got(2L)._2 == "yy")
    // driver-side NB replay of doc 1's score under both classes
    def tris(s: String) = s.trim.sliding(3).toSeq
    val cnts = train.collect().map(r => (r.getString(1), r.getString(2)))
      .flatMap { case (l, t) => tris(t).map(l -> _) }
      .groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val v = cnts.keys.map(_._2).toSet.size
    val nTris = cnts.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
    def score(doc: String, l: String): Double =
      tris(doc).map(tr => math.log(
        (cnts.getOrElse((l, tr), 0L) + 1.0) / (nTris(l) + 1.0 * v))).sum +
        math.log(15.0 / 30.0)
    val best = Seq("xx", "yy").map(l => l -> score("wizard wood", l))
      .maxBy { case (l, sc) => (sc, l) }
    assert(best._1 == "xx" &&
      math.abs(got(1L)._3 - best._2) < 1e-9)
    // partitioning invariance of the trained model + predictions
    val model13 = TextOps.nbLangModel(train.repartition(13), "lang", "text")
    val got13 = TextOps.nbLangId(test.repartition(7), "doc_id", "text", model13)
      .as[(Long, String, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(got13 == got.map { case (k, r) => k -> r._2 })
    model13.release()
    // broadcast twin: identical predictions, NULL for featureless docs,
    // size guard counted before collecting
    val bc = spark.sparkContext.broadcast(TextOps.collectNb(model))
    val exprPath = test.select(col("doc_id"),
        graft.functions.NbExpressions.nb_lang(col("text"), bc).as("p"))
      .as[(Long, Option[String])].collect().toMap
    assert(exprPath(1L).contains("xx") && exprPath(2L).contains("yy"))
    assert(exprPath(3L).isEmpty)
    intercept[IllegalArgumentException] { TextOps.collectNb(model, maxEntries = 2L) }
    model.release(); model.release() // idempotent
  }

  test("sb_score: term-identical to the join-based sbScore (order-" +
    "noise only) incl. under pruning; NULL for token-less docs; size guard") {
    val train = Seq((1L, "a b c a b d e f a b c"), (2L, "b c a d e"))
      .toDF("doc_id", "text")
    val docs = Seq((10L, "a b c z q"), (11L, "c a b d e f"), (12L, "z"),
      (13L, " ")).toDF("doc_id", "text")
    Seq(1L, 2L).foreach { minCount =>
      val lm = TextOps.stupidBackoffLm(train, "text", minCount = minCount)
      val bc = spark.sparkContext.broadcast(TextOps.collectSb(lm))
      val joinPath = TextOps.sbScore(docs, "doc_id", "text", lm)
        .select("doc_id", "sb_logscore").as[(Long, Double)].collect().toMap
      val exprPath = docs.select(col("doc_id"),
          graft.functions.LmExpressions.sb_score(col("text"), bc).as("s"))
        .as[(Long, Option[Double])].collect().toMap
      assert(joinPath.keySet == Set(10L, 11L, 12L))
      assert(exprPath(13L).isEmpty, "whitespace-only doc must score NULL")
      joinPath.foreach { case (id, sc) =>
        assert(math.abs(exprPath(id).get - sc) < 1e-9,
          s"doc $id at minCount=$minCount")
      }
      intercept[IllegalArgumentException] {
        TextOps.collectSb(lm, maxEntries = 3L)
      }
      lm.release()
    }
  }

  test("perplexityBuckets: exact rank terciles match a driver-side replay, " +
    "duplicate texts tie on id, custom bucket count, release seam") {
    val train = Seq((1L, "a b a b c a b"), (2L, "b c a")).toDF("doc_id", "text")
    val lm = TextOps.bigramLm(train, "text", k = 0.1)
    // 8 scored docs spanning seen / part-seen / unseen-prefix content; 20/21
    // are exact duplicates (identical CE → rank tie must break by doc_id);
    // 30 is bigram-less and must be absent
    val docs = Seq(
      (10L, "a b a b"), (11L, "a b c"), (12L, "b c a b"), (13L, "c a b z"),
      (14L, "z q y x"), (15L, "q q q"), (20L, "x y z"), (21L, "x y z"),
      (30L, "a")).toDF("doc_id", "text")
    val got = TextOps.perplexityBuckets(docs, "doc_id", "text", lm)
      .select("doc_id", "cross_entropy", "bucket_id", "bucket")
      .as[(Long, Double, Int, String)].collect()
    assert(got.map(_._1).toSet == Set(10L, 11L, 12L, 13L, 14L, 15L, 20L, 21L))
    // driver-side replay: sort by (round(ce, 6), id) — the operator's
    // FP-noise-proof rank key — bucket = min(floor(rank*3/n), 2)
    val n = got.length
    def key6(ce: Double) = BigDecimal(ce).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expected = got.sortBy(r => (key6(r._2), r._1)).zipWithIndex.map {
      case (r, rank) => r._1 -> math.min(rank * 3 / n, 2)
    }.toMap
    got.foreach { case (id, _, b, name) =>
      assert(b == expected(id), s"doc $id bucket")
      assert(name == Seq("head", "middle", "tail")(b), s"doc $id name")
    }
    // duplicates 20/21: identical CE, adjacent ranks in id order
    val ce = got.map(r => r._1 -> r._2).toMap
    assert(ce(20L) == ce(21L))
    // custom bucket count uses b<i> names and covers [0, buckets)
    val got4 = TextOps.perplexityBuckets(docs, "doc_id", "text", lm, buckets = 4)
      .select("bucket_id", "bucket").as[(Int, String)].collect()
    assert(got4.forall { case (b, name) => b >= 0 && b < 4 && name == s"b$b" })
    // scoped variant releases the scored stage (async unpersist)
    def cachedIds() = spark.sparkContext.getPersistentRDDs.keySet
    val before = cachedIds()
    TextOps.perplexityBucketsWith(docs, "doc_id", "text", lm) { b =>
      assert(b.count() == 8)
    }
    val deadline = System.nanoTime() + 10e9.toLong
    while ((cachedIds() -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert((cachedIds() -- before).isEmpty, "scored stage still cached")
    lm.release()
  }

  test("gopherQuality: every Table-A1 rule fires on its hand-built fragment " +
    "and the good document passes") {
    import spark.implicits._
    // 52 plain words with stopwords "the ... of ... and" — passes every rule
    val good = (1 to 49).map(i => s"word$i").mkString(" ") + " the of and"
    val docs = Seq(
      (1L, good),
      (2L, "too short but the and of"),                        // < 50 words
      (3L, (1 to 60).map(_ => "the").mkString(" ")),           // mean len 3 ok but…
      (4L, good + " " + (1 to 20).map(_ => "#").mkString(" ")), // symbol ratio
      (5L, good + "\n" + (1 to 30).map(i => s"- item$i").mkString("\n")), // bullets
      (6L, good + "\n" + (1 to 30).map(i => s"line$i...").mkString("\n")), // ellipses
      (7L, good + " " + (1 to 60).map(_ => "12345").mkString(" ")), // alpha frac
      (8L, (1 to 60).map(i => s"word$i").mkString(" ")),       // no stopwords
      (9L, ""))                                                 // empty
      .toDF("doc_id", "text")
    val g = docs.select(col("doc_id"), TextOps.gopherQuality(col("text")).as("g"))
      .select(col("doc_id"), col("g.*")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(g(1L).getBoolean(8), "good doc must pass")
    assert(!g(2L).getBoolean(8) && g(2L).getLong(1) < 50)
    // doc 3: length/mean in range but only ONE distinct stopword → fails
    assert(!g(3L).getBoolean(8) && g(3L).getLong(1) == 60 && g(3L).getInt(7) == 1)
    assert(!g(4L).getBoolean(8) && g(4L).getDouble(3) > 0.1, "symbol ratio rule")
    assert(!g(5L).getBoolean(8) && g(5L).getDouble(4) > 0.9, "bullet rule")
    assert(!g(6L).getBoolean(8) && g(6L).getDouble(5) > 0.3, "ellipsis rule")
    assert(!g(7L).getBoolean(8) && g(7L).getDouble(6) < 0.8, "alpha-word rule")
    assert(!g(8L).getBoolean(8) && g(8L).getInt(7) == 0, "stopword rule")
    assert(!g(9L).getBoolean(8) && g(9L).getLong(1) == 0 &&
      g(9L).getDouble(2) == 0.0 && g(9L).getDouble(3) == 0.0, "empty doc zeros")
    // hand-check the good doc's signals
    val r1 = g(1L)
    assert(r1.getLong(1) == 52)
    assert(r1.getInt(7) == 3) // the, of, and
    assert(r1.getDouble(6) == 1.0) // every word has a letter
    // custom thresholds flip the verdict deterministically
    val strict = docs.where(col("doc_id") === 1L)
      .select(TextOps.gopherQuality(col("text"),
        TextOps.GopherConfig(minWords = 100)).getField("pass"))
      .as[Boolean].head()
    assert(!strict)
  }
}
