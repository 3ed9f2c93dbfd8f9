package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DsirExpressions
import graft.operators.Dsir

/** DSIR importance resampling: hash parity (JVM MessageDigest vs the Spark
  * md5-prefix column idiom), model math against a driver-side replay,
  * join-vs-broadcast scoring parity, deterministic Gumbel-top-k selection,
  * and the release seam. */
class DsirSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(4242)
  private val rawVocab = Array("spark", "scan", "merge", "hash", "table",
    "row", "sort", "key", "agg", "window", "batch", "plan", "join", "shuffle")
  private val tgtVocab = Array("theorem", "proof", "lemma", "corollary",
    "axiom", "spark", "table", "plan") // partial overlap with raw
  private def doc(v: Array[String], len: Int): String =
    Seq.fill(len)(v(rnd.nextInt(v.length))).mkString(" ")
  // raw corpus: 80 raw-ish docs + 20 target-ish docs hiding inside it
  private lazy val raw = (
    (0 until 80).map(i => (i.toLong, doc(rawVocab, 20 + rnd.nextInt(10)))) ++
    (80 until 100).map(i => (i.toLong, doc(tgtVocab, 20 + rnd.nextInt(10))))
  ).toDF("doc_id", "text").cache()
  private lazy val target =
    (0 until 30).map(i => (i.toLong, doc(tgtVocab, 25))).toDF("doc_id", "text")

  test("bucketEval matches the Spark md5-prefix column idiom") {
    val strs = (rawVocab ++ tgtVocab ++ Seq("a b", "spark scan", "ü 東京"))
      .distinct.toSeq
    val viaColumn = strs.toDF("s")
      .select(col("s"), pmod(conv(substring(md5(col("s")), 1, 8), 16, 10)
        .cast("long"), lit(8192L)).cast("int").as("b"))
      .as[(String, Int)].collect().toMap
    strs.foreach { s =>
      assert(DsirExpressions.bucketEval(s, 8192) == viaColumn(s), s"ngram $s")
    }
  }

  test("dsirModel + dsirWeights match a driver-side replay of the estimator; " +
    "target-ish docs outweigh raw-ish docs; empty docs absent") {
    val buckets = 4096
    val alpha = 0.5
    val model = Dsir.dsirModel(raw, target, "text", buckets, alpha)
    // driver-side replay with an independent ngram expansion
    def ngrams(t: String): Seq[String] = {
      val toks = t.trim.split("\\s+").toSeq
      toks ++ toks.sliding(2).filter(_.length == 2).map(_.mkString(" "))
    }
    def counts(docs: Seq[String]): Map[Int, Long] =
      docs.flatMap(ngrams).groupBy(DsirExpressions.bucketEval(_, buckets))
        .map { case (b, g) => b -> g.size.toLong }
    val tc = counts(target.select("text").as[String].collect().toSeq)
    val rc = counts(raw.select("text").as[String].collect().toSeq)
    val (totT, totR) = (tc.values.sum, rc.values.sum)
    assert(model.targetTotal == totT && model.rawTotal == totR)
    // the totals follow the corpus, not the row position in the union of
    // the two totals: corpora of different sizes, in both roles, against
    // n-gram counts taken without bucketing (n unigrams + n-1 bigrams)
    def ngramTotal(df: org.apache.spark.sql.DataFrame): Long =
      df.select("text").as[String].collect()
        .map(_.trim.split("\\s+").length).map(n => 2L * n - 1).sum
    val small = target.where(col("doc_id") < 3)
    val (nRaw, nSmall) = (ngramTotal(raw), ngramTotal(small))
    assert(nSmall != nRaw)
    val fwd = Dsir.dsirModel(raw, small, "text", buckets, alpha)
    val rev = Dsir.dsirModel(small, raw, "text", buckets, alpha)
    assert(fwd.targetTotal == nSmall && fwd.rawTotal == nRaw)
    assert(rev.targetTotal == nRaw && rev.rawTotal == nSmall)
    fwd.release(); rev.release()
    def ratio(b: Int): Double =
      math.log((tc.getOrElse(b, 0L) + alpha) / (totT + alpha * buckets)) -
        math.log((rc.getOrElse(b, 0L) + alpha) / (totR + alpha * buckets))
    val withEmpty = raw.union(Seq((999L, " ")).toDF("doc_id", "text"))
    val got = Dsir.dsirWeights(withEmpty, "doc_id", "text", model)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(999L), "token-less doc must be absent")
    assert(got.size == 100)
    val texts = raw.as[(Long, String)].collect().toMap
    texts.foreach { case (id, t) =>
      val ngs = ngrams(t)
      val want = ngs.map(ng => ratio(DsirExpressions.bucketEval(ng, buckets))).sum
      assert(got(id)._2 == ngs.size, s"doc $id n_ngrams")
      assert(math.abs(got(id)._3 - want) < 1e-9, s"doc $id weight")
    }
    // the estimator must separate: every hidden target-ish doc outweighs
    // every raw-ish doc
    val minTgt = (80L until 100L).map(got(_)._3).min
    val maxRaw = (0L until 80L).map(got(_)._3).max
    assert(minTgt > maxRaw,
      s"no separation: min target-ish $minTgt <= max raw-ish $maxRaw")
    model.release(); model.release() // idempotent
  }

  test("dsir_score broadcast twin is term-identical to the join path") {
    val model = Dsir.dsirModel(raw, target, "text", buckets = 2048)
    val bc = spark.sparkContext.broadcast(Dsir.collectDsir(model))
    val joinPath = Dsir.dsirWeights(raw, "doc_id", "text", model)
      .select("doc_id", "log_weight").as[(Long, Double)].collect().toMap
    val exprPath = raw.select(col("doc_id"),
        DsirExpressions.dsir_score(col("text"), bc).as("w"))
      .as[(Long, Option[Double])].collect().toMap
    assert(exprPath(0L).isDefined)
    joinPath.foreach { case (id, w) =>
      assert(math.abs(exprPath(id).get - w) < 1e-9, s"doc $id")
    }
    // the size guard refuses an over-budget dense model
    intercept[IllegalArgumentException] { Dsir.collectDsir(model, maxBuckets = 4) }
    model.release()
  }

  test("dsirResample: deterministic Gumbel-top-k — replayed keys, exact " +
    "selection, seed changes the sample, partitioning does not") {
    val model = Dsir.dsirModel(raw, target, "text")
    val n = 25
    val sel = Dsir.dsirResample(raw, "doc_id", "text", model, n)
      .as[(Long, Long, Double, Double)].collect()
    assert(sel.length == n)
    // replay: key = log_weight + gumbel(md5(id:seed)) over ALL docs, top n
    val w = Dsir.dsirWeights(raw, "doc_id", "text", model)
      .select(col("doc_id"), col("log_weight"),
        pmod(conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":dsir"))), 1, 8), 16, 10).cast("long"), lit(1L << 32))
          .as("h"))
      .as[(Long, Double, Long)].collect()
    val keys = w.map { case (id, lw, h) =>
      val u = (h + 0.5) / 4294967296.0
      id -> (lw - math.log(-math.log(u)))
    }.toMap
    val expected = keys.toSeq.sortBy { case (id, k) => (-k, id) }.take(n)
    assert(sel.map(_._1).toSet == expected.map(_._1).toSet)
    sel.foreach { case (id, _, _, key) =>
      assert(math.abs(key - keys(id)) < 1e-9, s"doc $id key")
    }
    // selection leans target-ish: the 20 hidden target docs are 20% of the
    // corpus but must dominate the sample
    val tgtShare = sel.count(_._1 >= 80L).toDouble / n
    assert(tgtShare >= 0.6, s"target share $tgtShare")
    // different seed → different noise (keys move even where the strong
    // weight separation keeps membership stable); repartition → identical
    val sel2 = Dsir.dsirResample(raw, "doc_id", "text", model, n, seed = "s2")
      .as[(Long, Long, Double, Double)].collect()
    val k1 = sel.map(r => r._1 -> r._4).toMap
    assert(sel2.forall { case (id, _, _, k) => !k1.get(id).contains(k) })
    val sel3 = Dsir.dsirResample(raw.repartition(13), "doc_id", "text",
        model, n).as[(Long, Long, Double, Double)].collect()
    assert(sel3.map(_._1).sorted.sameElements(sel.map(_._1).sorted))
    model.release()
  }
}
