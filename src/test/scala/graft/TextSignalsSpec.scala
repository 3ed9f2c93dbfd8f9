package graft

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextExpressions
import graft.operators.TextOps

/** The one-pass `text_signals` scan against the `java.util.regex` count of
  * each pattern it replaces, on generated text whose alphabet holds every
  * character class the patterns tell apart: Java's line terminators
  * (`\r\n`, lone `\r`, U+0085/U+2028/U+2029), `\s`-only blanks (`\x0B`,
  * `\f`), U+00A0 (in neither class), dot runs, `…`, bullet glyphs, `#`,
  * empty lines, leading and trailing blanks and surrogate pairs. */
class TextSignalsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Each field's pattern, as `TextOps.gopherQuality` counted it by regex. */
  private val fieldPatterns: Seq[(String, String)] =
    TextExpressions.textSignalFields.zip(Seq("\\S+", "[ \\t\\n\\r]",
      TextOps.gopherSymbolPattern, "\n", TextOps.gopherBulletLinePattern,
      TextOps.gopherEllipsisLinePattern, TextOps.gopherAlphaWordPattern))

  private def regexCount(pattern: String, text: String): Int = {
    val m = Pattern.compile(pattern).matcher(text)
    var c = 0
    while (m.find()) c += 1
    c
  }

  private val pieces: Seq[String] = Seq(
    "\r\n", "\r", "\n", "\n\n", "\u000B", "\f", "\u0085", "\u2028",
    "\u2029", " ", "  ", "\t", "\u00A0", "\u3000",
    ".", "..", "...", "....", "\u2026", "#", "##",
    "-", "*", "\u2022", "\u2023", "\u25AA", "\u2013",
    "a", "Zq", "word", "the", "7", "_", "\u00E9", "\u65E5", "\u0301",
    "\uD840\uDC00", "\uD83D\uDE00", " -", "x...", "\u2026 ")

  private val texts: Gen[String] = for {
    lead <- Gen.oneOf("", " ", "\t ", "\n", "\r\n ")
    body <- Gen.choose(0, 40).flatMap(Gen.listOfN(_, Gen.oneOf(pieces)))
    trail <- Gen.oneOf("", " ", " \t", "\n", "\r", "\u00A0", "\u2028")
  } yield lead + body.mkString + trail

  private def checkProp(p: Prop, tests: Int): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(tests).withInitialSeed(11L), p)
    assert(res.passed, Pretty.pretty(res))
  }

  test("text_signals: every field equals the java.util.regex count of its " +
    "pattern on generated text") {
    checkProp(Prop.forAll(texts) { s =>
      // the regex sees what Spark's regexp functions see: the UTF-8 string
      // decoded back (a lone surrogate is already '?')
      val utf8 = UTF8String.fromString(s)
      val row = TextExpressions.textSignalsEval(utf8)
      Prop.all(fieldPatterns.zipWithIndex.map { case ((name, p), i) =>
        val want = regexCount(p, utf8.toString)
        (row.getInt(i) == want) :|
          s"$name: scan ${row.getInt(i)} != regex $want on ${s.map(c => f"\\u${c.toInt}%04x").mkString}"
      }: _*)
    }, tests = 5000)
  }

  test("text_signals: null text gives a null struct, empty text all zeros; " +
    "tokenCount is its n_tokens field") {
    val df = Seq[(Int, String)]((0, null), (1, ""), (2, " a\u000Bb \f"))
      .toDF("id", "text")
    val got = df.select(col("id"),
      TextExpressions.text_signals(col("text")).as("s"),
      TextOps.tokenCount(col("text")).as("n"))
      .orderBy("id").collect()
    assert(got(0).isNullAt(1) && got(0).isNullAt(2))
    assert(got(1).getStruct(1).toSeq == Seq.fill(7)(0) && got(1).getInt(2) == 0)
    // \x0B and \f split \S+ tokens but are word characters for [ \t\n\r]
    assert(got(2).getInt(2) == 2 && got(2).getStruct(1).getInt(1) == 2 &&
      got(2).getStruct(1).getInt(6) == 1)
  }

  /** `TextOps.gopherQuality` as it was built from one regex count per
    * signal: the reference for the whole-struct comparison. */
  private def regexGopherQuality(text: Column,
      cfg: TextOps.GopherConfig = TextOps.GopherConfig()): Column = {
    val nWords = regexp_count(text, lit("\\S+")).cast("long")
    val safeW = greatest(nWords, lit(1L)).cast("double")
    val meanLen = (length(text) - regexp_count(text, lit("[ \\t\\n\\r]")))
      .cast("double") / safeW
    val symbolRatio = regexp_count(text,
      lit(TextOps.gopherSymbolPattern)).cast("double") / safeW
    val nLines = (regexp_count(text, lit("\n")) + 1).cast("double")
    val bulletFrac = regexp_count(text,
      lit(TextOps.gopherBulletLinePattern)).cast("double") / greatest(nLines, lit(1.0))
    val ellipsisFrac = regexp_count(text,
      lit(TextOps.gopherEllipsisLinePattern)).cast("double") / greatest(nLines, lit(1.0))
    val alphaFrac = regexp_count(text,
      lit(TextOps.gopherAlphaWordPattern)).cast("double") / safeW
    val nStop = size(array_distinct(
      regexp_extract_all(lower(text), lit(TextOps.gopherStopwordPattern), lit(0))))
      .cast("int")
    val pass = nWords >= cfg.minWords && nWords <= cfg.maxWords &&
      meanLen >= cfg.minMeanWordLen && meanLen <= cfg.maxMeanWordLen &&
      symbolRatio <= cfg.maxSymbolWordRatio &&
      bulletFrac <= cfg.maxBulletLineFrac &&
      ellipsisFrac <= cfg.maxEllipsisLineFrac &&
      alphaFrac >= cfg.minAlphaWordFrac && nStop >= cfg.minStopwords
    struct(
      nWords.as("n_words"),
      when(nWords === 0, lit(0.0)).otherwise(meanLen).as("mean_word_len"),
      when(nWords === 0, lit(0.0)).otherwise(symbolRatio).as("symbol_word_ratio"),
      bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"),
      when(nWords === 0, lit(0.0)).otherwise(alphaFrac).as("alpha_word_frac"),
      nStop.as("n_stopwords"),
      pass.as("pass"))
  }

  test("gopherQuality over the scan equals the regex formulation, whole " +
    "struct, on generated text (codegen'd) plus null and empty text") {
    // a low word floor so generated documents also pass
    val cfg = TextOps.GopherConfig(minWords = 3)
    val gen = Gen.listOfN(600, texts)
      .map(_ :+ "" :+ (1 to 60).map(i => s"word$i the of").mkString(" "))
    val docs = gen.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(21L))
    val df = ((null: String) +: docs).zipWithIndex
      .map { case (t, i) => (i, t) }.toDF("id", "text")
    val out = df.select(col("id"),
      TextOps.gopherQuality(col("text"), cfg).as("scan"),
      regexGopherQuality(col("text"), cfg).as("regex"))
      .orderBy("id").collect()
    assert(out.length == docs.length + 1)
    out.foreach { r =>
      assert(r.get(1) == r.get(2), s"doc ${r.getInt(0)}: ${r.get(1)} != ${r.get(2)}")
    }
    assert(out.head.getStruct(1).isNullAt(0), "null text has no word count")
    assert(out.exists(r => r.getStruct(1).getAs[Any](7) == true),
      "some generated document must pass")
  }
}
