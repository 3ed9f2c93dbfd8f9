package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the hot dedup path. The same semantics are
 * expressible with built-in higher-order functions (transform/aggregate), but
 * Spark evaluates HOF lambdas interpretively per element — at 64 hashes ×
 * hundreds of shingles per document that dominated the dedup benchmarks.
 * These expressions do the inner loop in compiled Scala (one virtual call per
 * ROW instead of per element) and plug into codegen via a static bridge —
 * the "custom Expression beats UDF beats interpreted" preference order.
 */
object TextExpressions {

  /** xxhash64 of a UTF8String with an explicit seed (Spark's own kernel). */
  @inline private def hash(s: UTF8String, seed: Long): Long =
    XxHash64Function.hash(s, StringType, seed)

  // --- static bridges for codegen --------------------------------------------

  /** SimHash over token array: bit b = sign of Σ ±1 votes from token-hash bits. */
  def simhashEval(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hash(tokens.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** MinHash signature via the 2-universal trick: g_i(x) = h1(x) + i·h2(x).
    * Returns null-equivalent (caller wraps) for empty input. */
  def minhashEval(shingles: ArrayData, numHashes: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      val h1 = hash(s, 0xA5A5A5A5L)
      val h2 = hash(s, 0x5A5A5A5AL) | 1L
      var k = 0
      var g = h1
      while (k < numHashes) {
        if (g < sig(k)) sig(k) = g
        g += h2 // wrapping add == h1 + (k+1)*h2
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Whitespace-tokenize + emit word n-gram shingles in one compiled pass
    * (the transform/slice/concat_ws HOF formulation is interpreted per
    * element and dominated the dedup queries). Distinct-ness preserved in
    * input order, matching array_distinct(shingles(tokens(text), n)). */
  def shinglesEval(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val toks = text.toString.trim match {
      case "" => Array.empty[String]
      case t => t.split("\\s+")
    }
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Any](toks.length - n + 1)
    val seen = if (distinct) new java.util.HashSet[String]() else null
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      val s = sb.toString
      if (!distinct || seen.add(s)) out.add(UTF8String.fromString(s))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** The shingle set of [[shinglesEval]] with each shingle reduced to its
    * 64-bit xxhash (seed 42, Spark's own string kernel). Distinct-ness is
    * decided on the STRINGS (exactly [[shinglesEval]]'s set), so set
    * operations over the hashes — Jaccard, containment, Bloom membership —
    * equal the string-set results up to 64-bit collision odds
    * (≈ n²/2⁶⁵ per document pair, negligible at any real shingle count),
    * while the arrays are ~3× smaller than the strings they replace in
    * exchange/cache format (measured on the sf0.1 documents: 2.2 MB vs
    * 7.0 MB cached; parquet-at-rest roughly ties because word shingles
    * compress — the exchanges and the persisted stage's memory footprint
    * are where the bytes matter). */
  def shinglesHashedEval(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val strs = shinglesEval(text, n, distinct)
    val m = strs.numElements()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) { out(i) = hash(strs.getUTF8String(i), 42L); i += 1 }
    new GenericArrayData(out)
  }

  /** One-pass (hashed shingle set, MinHash signature) bundle: the signature
    * is [[minhashEval]] over the STRING shingles — bit-identical to the
    * separate word_shingles → minhash_signature pipeline, so LSH buckets and
    * candidate pairs do not move — while the verify/persist path gets the
    * hashed set from the same tokenization pass. Null when no shingles. */
  def minhashBundleEval(text: UTF8String, n: Int, distinct: Boolean,
                        numHashes: Int): Any = {
    val strs = shinglesEval(text, n, distinct)
    val m = strs.numElements()
    if (m == 0) return null
    val hashed = new Array[Long](m)
    var i = 0
    while (i < m) { hashed(i) = hash(strs.getUTF8String(i), 42L); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(hashed), minhashEval(strs, numHashes)))
  }

  /** Drop the tokens covered by any [start, start+len) range (token positions
    * from the SAME trim + `\s+` tokenizer as [[shinglesEval]], so positions
    * produced by `Dedup.repeatedSpans` line up exactly), rejoin survivors
    * with single spaces. Ranges may overlap or repeat (the same span often
    * matches several partner documents); out-of-bounds positions clamp. If
    * no token falls in any range the ORIGINAL text is returned verbatim
    * (inter-token whitespace preserved for untouched documents). */
  def dropTokenRangesEval(text: UTF8String, ranges: ArrayData): UTF8String = {
    val nr = ranges.numElements()
    if (nr == 0) return text
    val toks = text.toString.trim match {
      case "" => Array.empty[String]
      case t => t.split("\\s+")
    }
    if (toks.length == 0) return text
    val drop = new Array[Boolean](toks.length)
    var anyDropped = false
    var r = 0
    while (r < nr) {
      val row = ranges.getStruct(r, 2)
      val rawStart = row.getInt(0)
      val start = math.max(0, rawStart)
      val end = math.min(toks.length.toLong,
        rawStart.toLong + math.max(0, row.getInt(1))).toInt
      var p = start
      while (p < end) {
        if (!drop(p)) { drop(p) = true; anyDropped = true }
        p += 1
      }
      r += 1
    }
    if (!anyDropped) return text
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < toks.length) {
      if (!drop(i)) {
        if (sb.length > 0) sb.append(' ')
        sb.append(toks(i))
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Decode numeric HTML character references: `&#NNN;` (1–7 decimal
    * digits) and `&#xHH;`/`&#XHH;` (1–6 hex digits) → the code point's
    * UTF-8 character(s). Invalid references pass through VERBATIM — the
    * conservative choice matching the named-entity passes: malformed
    * (no digits / no `;` / too many digits), code 0, surrogates
    * U+D800–U+DFFF, and codes above U+10FFFF. Semantics are exactly the
    * regex tokenization `&#[0-9]{1,7};|&#[xX][0-9a-fA-F]{1,6};` with a
    * validity CASE — the DuckDB oracle replays it that way (chr() over
    * regexp_extract_all tokens), so the imperative scan here must stay
    * equivalent: a run of 8+ digits never matches (no shorter-prefix
    * fallback — the char after ≤7 digits must be `;`). */
  def decodeNumericEntitiesEval(text: UTF8String): UTF8String = {
    val s = text.toString
    if (s.indexOf("&#") < 0) return text
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      var consumed = false
      if (s.charAt(i) == '&' && i + 1 < n && s.charAt(i + 1) == '#') {
        var j = i + 2
        val hex = j < n && (s.charAt(j) == 'x' || s.charAt(j) == 'X')
        if (hex) j += 1
        val dStart = j
        val maxDigits = if (hex) 6 else 7
        var code = 0L
        var run = true
        while (run && j < n && j - dStart < maxDigits) {
          val c = s.charAt(j)
          val v =
            if (c >= '0' && c <= '9') c - '0'
            else if (hex && c >= 'a' && c <= 'f') c - 'a' + 10
            else if (hex && c >= 'A' && c <= 'F') c - 'A' + 10
            else -1
          if (v < 0) run = false
          else { code = code * (if (hex) 16 else 10) + v; j += 1 }
        }
        // well-formed: ≥1 digit then `;` (an (maxDigits+1)-th digit at j
        // means the bounded pattern cannot match — fall through verbatim)
        if (j > dStart && j < n && s.charAt(j) == ';' &&
            code >= 1 && code <= 0x10FFFF &&
            !(code >= 0xD800 && code <= 0xDFFF)) {
          sb.appendCodePoint(code.toInt)
          i = j + 1
          consumed = true
        }
      }
      if (!consumed) { sb.append(s.charAt(i)); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }

  /** Field names of [[textSignalsEval]]'s struct, in order. */
  val textSignalFields: Seq[String] = Seq("n_tokens", "n_ws_chars",
    "n_symbols", "n_newlines", "n_bullet_lines", "n_ellipsis_lines",
    "n_alpha_words")

  /** Whitespace-token and Gopher signal counts in ONE pass over the UTF-8
    * bytes (no decode, no match arrays). Each field equals the number of
    * `java.util.regex` `find()` matches of a pattern on the decoded text:
    *
    *  - `n_tokens`: `\S+` — runs outside `[ \t\n\x0B\f\r]` (Java's `\s`);
    *  - `n_ws_chars`: `[ \t\n\r]` (NOT `\x0B`/`\f`);
    *  - `n_symbols`: `\.\.\.|…|#` — a dot run of length L holds ⌊L/3⌋;
    *  - `n_newlines`: `\n`;
    *  - `n_bullet_lines`: `(?m)^[ \t]*[-*•‣▪]`;
    *  - `n_ellipsis_lines`: `(?m)(?:\.\.\.|…)[ \t]*$`;
    *  - `n_alpha_words`: `(?:^|[ \t\n\r])[^ \t\n\r]*[A-Za-z]` — runs outside
    *    `[ \t\n\r]` holding an ASCII letter.
    *
    * The multiline anchors follow Java's line terminators: `\n`, `\r`
    * (`\r\n` is one), U+0085, U+2028 and U+2029. `^` holds at the text
    * start and after a terminator; `$` holds before a terminator and at the
    * text end. Every byte ≥ 0x80 outside those code points and `…•‣▪`
    * belongs to a character none of the patterns names, so it only extends
    * a token or word run. TextSignalsSpec checks each field against its
    * pattern on generated text. */
  def textSignalsEval(text: UTF8String): InternalRow = {
    val n = text.numBytes()
    var tokens, ws, symbols, newlines, bullets, ellipses, alphaWords = 0
    var inToken = false      // inside a \S+ run
    var inWord = false       // inside a [^ \t\n\r]+ run
    var wordHasAlpha = false // that run already holds an ASCII letter
    var dots = 0             // length of the current dot run
    var lineStart = true     // only [ \t] since the last ^ position
    var ellipsisEnd = false  // only [ \t] since the last `...` or `…`
    var i = 0
    while (i < n) {
      val b = text.getByte(i) & 0xFF
      var terminator = false
      var bullet = false
      var ellipsis = false
      var len = 1
      if (b >= 0x80) {
        val b1 = if (i + 1 < n) text.getByte(i + 1) & 0xFF else -1
        val b2 = if (i + 2 < n) text.getByte(i + 2) & 0xFF else -1
        if (b == 0xC2 && b1 == 0x85) { terminator = true; len = 2 }
        else if (b == 0xE2 && b1 == 0x80) {
          if (b2 == 0xA6) { ellipsis = true; len = 3 }
          else if (b2 == 0xA2 || b2 == 0xA3) { bullet = true; len = 3 }
          else if (b2 == 0xA8 || b2 == 0xA9) { terminator = true; len = 3 }
        } else if (b == 0xE2 && b1 == 0x96 && b2 == 0xAA) { bullet = true; len = 3 }
      } else if (b == '\n' || b == '\r') terminator = true
      else if (b == '-' || b == '*') bullet = true
      val javaSpace = b == ' ' || b == '\t' || b == '\n' || b == '\r' ||
        b == 0x0B || b == 0x0C
      val blank = b == ' ' || b == '\t'
      val wordDelim = blank || b == '\n' || b == '\r'
      if (javaSpace) inToken = false
      else if (!inToken) { inToken = true; tokens += 1 }
      if (wordDelim) {
        ws += 1
        inWord = false
      } else {
        if (!inWord) { inWord = true; wordHasAlpha = false }
        if (!wordHasAlpha && ((b | 0x20) >= 'a' && (b | 0x20) <= 'z')) {
          wordHasAlpha = true
          alphaWords += 1
        }
      }
      if (b == '\n') newlines += 1
      if (b == '.') {
        dots += 1
        if (dots % 3 == 0) symbols += 1
        ellipsisEnd = dots >= 3
      } else {
        dots = 0
        if (b == '#' || ellipsis) symbols += 1
        // `$` before this terminator. `\r\n` needs no special case: the
        // `\r` clears ellipsisEnd, and the `^` it opens meets `\n`, which is
        // neither a blank nor a bullet
        if (terminator && ellipsisEnd) ellipses += 1
        if (ellipsis) ellipsisEnd = true
        else if (!blank) ellipsisEnd = false
      }
      if (lineStart && bullet) bullets += 1
      if (terminator) lineStart = true
      else if (!blank) lineStart = false
      i += len
    }
    if (ellipsisEnd) ellipses += 1
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](tokens, ws, symbols, newlines, bullets, ellipses, alphaWords))
  }

  // --- expressions ------------------------------------------------------------

  /** See [[textSignalsEval]]: the per-document counts behind
    * [[graft.operators.TextOps.tokenCount]] and
    * [[graft.operators.TextOps.gopherQuality]]. */
  case class TextSignals(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StructType(textSignalFields.map(
      StructField(_, IntegerType, nullable = false)))
    override def prettyName: String = "text_signals"
    override def nullSafeEval(text: Any): Any =
      TextExpressions.textSignalsEval(text.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = TextExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $cls.textSignalsEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): TextSignals =
      copy(child = c)
  }

  /** See [[decodeNumericEntitiesEval]] — the numeric-entity pass of
    * [[graft.operators.Curation.stripMarkup]] (ordered before the final
    * `&amp;` unescape so one-level decoding is preserved). */
  case class DecodeNumericEntities(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "decode_numeric_entities"
    override def nullSafeEval(text: Any): Any =
      TextExpressions.decodeNumericEntitiesEval(text.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = TextExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $cls.decodeNumericEntitiesEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): DecodeNumericEntities =
      copy(c)
  }

  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"
    override def nullSafeEval(tokens: Any): Any =
      TextExpressions.simhashEval(tokens.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = TextExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.simhashEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  }

  case class MinHashSignature(child: Expression, numHashes: Int)
      extends UnaryExpression {
    require(numHashes > 0 && numHashes <= 1024)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "minhash_signature"
    override def nullSafeEval(shingles: Any): Any =
      TextExpressions.minhashEval(shingles.asInstanceOf[ArrayData], numHashes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = TextExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |${ev.value} = $cls.minhashEval($c, $numHashes);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): MinHashSignature =
      copy(child = c)
  }

  /** Character n-grams over the TRIMMED text (spaces inside kept — word
    * boundaries carry language signal), iterated by Unicode CODE POINTS so
    * the semantics match SQL engines' character-based substr (UTF-16
    * char-unit slicing would split surrogate pairs and diverge). */
  def charShinglesEval(text: UTF8String, n: Int): ArrayData = {
    val cps = text.toString.trim.codePoints().toArray
    if (cps.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cps.length - n + 1)
    var i = 0
    while (i <= cps.length - n) {
      out(i) = UTF8String.fromString(new String(cps, i, n))
      i += 1
    }
    new GenericArrayData(out)
  }

  case class CharShingles(child: Expression, n: Int)
      extends UnaryExpression {
    require(n > 0)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "char_shingles"
    override def nullSafeEval(text: Any): Any =
      TextExpressions.charShinglesEval(text.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = TextExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $cls.charShinglesEval($c, $n);")
    }
    override protected def withNewChildInternal(c: Expression): CharShingles =
      copy(child = c)
  }

  /** (pos, token, previous token, token two back) for every token of `text`
    * — the n-gram scoring context table, packed in ONE compiled pass (the
    * HOF transform/element_at formulation evaluates an interpreted lambda
    * per token; per-token loops belong here). w1/w2 are null at the
    * document head. */
  def tokenContextsEval(text: UTF8String): ArrayData = {
    val toks = text.toString.trim match {
      case "" => Array.empty[String]
      case t => t.split("\\s+")
    }
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i, UTF8String.fromString(toks(i)),
          if (i >= 1) UTF8String.fromString(toks(i - 1)) else null,
          if (i >= 2) UTF8String.fromString(toks(i - 2)) else null))
      i += 1
    }
    new GenericArrayData(out)
  }

  case class TokenContexts(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("w", StringType, nullable = false),
      StructField("w1", StringType, nullable = true),
      StructField("w2", StringType, nullable = true))), containsNull = false)
    override def prettyName: String = "token_contexts"
    override def nullSafeEval(text: Any): Any =
      TextExpressions.tokenContextsEval(text.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = TextExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $cls.tokenContextsEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): TokenContexts =
      copy(child = c)
  }

  case class WordShingles(child: Expression, n: Int, distinct: Boolean)
      extends UnaryExpression {
    require(n > 0)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_shingles"
    override def nullSafeEval(text: Any): Any =
      TextExpressions.shinglesEval(text.asInstanceOf[UTF8String], n, distinct)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = TextExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $cls.shinglesEval($c, $n, $distinct);")
    }
    override protected def withNewChildInternal(c: Expression): WordShingles =
      copy(child = c)
  }

  case class WordShinglesHashed(child: Expression, n: Int, distinct: Boolean)
      extends UnaryExpression {
    require(n > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "word_shingles_hashed"
    override def nullSafeEval(text: Any): Any =
      TextExpressions.shinglesHashedEval(text.asInstanceOf[UTF8String], n, distinct)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = TextExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $cls.shinglesHashedEval($c, $n, $distinct);")
    }
    override protected def withNewChildInternal(c: Expression): WordShinglesHashed =
      copy(child = c)
  }

  case class MinHashBundle(child: Expression, n: Int, distinct: Boolean,
                           numHashes: Int) extends UnaryExpression {
    require(n > 0 && numHashes > 0 && numHashes <= 1024)
    override def dataType: DataType = StructType(Seq(
      StructField("sh", ArrayType(LongType, containsNull = false)),
      StructField("sig", ArrayType(LongType, containsNull = false))))
    override def nullable: Boolean = true
    override def prettyName: String = "minhash_bundle"
    override def nullSafeEval(text: Any): Any =
      TextExpressions.minhashBundleEval(
        text.asInstanceOf[UTF8String], n, distinct, numHashes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = TextExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |${ev.value} = (org.apache.spark.sql.catalyst.InternalRow)
           |  $cls.minhashBundleEval($c, $n, $distinct, $numHashes);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): MinHashBundle =
      copy(child = c)
  }

  /** text × array<struct<start:int,len:int>> → text with ranged tokens cut.
    * Null text or null ranges → null (callers coalesce to the original
    * column for the no-cuts side of a left join). */
  case class DropTokenRanges(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "drop_token_ranges"
    override def nullSafeEval(text: Any, ranges: Any): Any =
      TextExpressions.dropTokenRangesEval(
        text.asInstanceOf[UTF8String], ranges.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = TextExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, (t, rs) =>
        s"${ev.value} = $cls.dropTokenRangesEval($t, $rs);")
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DropTokenRanges =
      copy(left = newLeft, right = newRight)
  }

  // --- Column API --------------------------------------------------------------

  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens)))
  def minhash_signature(shingles: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(shingles), numHashes))
  def token_contexts(text: Column): Column =
    GraftBridge.column(TokenContexts(GraftBridge.expression(text)))
  def char_shingles(text: Column, n: Int): Column =
    GraftBridge.column(CharShingles(GraftBridge.expression(text), n))
  def word_shingles(text: Column, n: Int, distinct: Boolean = false): Column =
    GraftBridge.column(WordShingles(GraftBridge.expression(text), n, distinct))
  def word_shingles_hashed(text: Column, n: Int, distinct: Boolean = false): Column =
    GraftBridge.column(WordShinglesHashed(GraftBridge.expression(text), n, distinct))
  def minhash_bundle(text: Column, n: Int, distinct: Boolean, numHashes: Int): Column =
    GraftBridge.column(MinHashBundle(GraftBridge.expression(text), n, distinct, numHashes))
  def drop_token_ranges(text: Column, ranges: Column): Column =
    GraftBridge.column(DropTokenRanges(
      GraftBridge.expression(text), GraftBridge.expression(ranges)))
  def decode_numeric_entities(text: Column): Column =
    GraftBridge.column(DecodeNumericEntities(GraftBridge.expression(text)))
  def text_signals(text: Column): Column =
    GraftBridge.column(TextSignals(GraftBridge.expression(text)))
}
