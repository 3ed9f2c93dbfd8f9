package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a training-data pipeline over the `documents`
 * table: tokenization, token counting, quality scoring, language-ID heuristic,
 * document fingerprinting, SimHash, MinHash signatures, shingling.
 *
 * Everything here is built from `org.apache.spark.sql.functions._` (incl.
 * higher-order array functions) — fully codegen'd, no UDFs, so Catalyst can
 * push/prune/fuse around them. All per-document work is row-local: no shuffle
 * until an explicit dedup/join operator groups by a derived key.
 */
object TextOps {


  /** The INPUT's partition scale (at least 2), for sizing a derived
    * table: groupBy materializes at spark.sql.shuffle.partitions, so a
    * small cached model/stage table otherwise costs a full-width task wave
    * on every one of its scans (measured: the fixed per-task cost of those
    * waves dominated the LM queries). coalesce is exchange-free and the
    * count inherits the corpus partitioning — corpus-scale models stay
    * wide (scale-adaptive, guide §2). */
  private[graft] def inputScaleParts(input: org.apache.spark.sql.DataFrame): Int =
    math.max(2, input.rdd.getNumPartitions)

  /** Whitespace tokenization; empty/blank text → empty array (not [""]). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Token COUNT: the number of `\S+` runs, which equals size([[tokens]])
    * on every input (blank → 0, and split-with-trim yields exactly one
    * token per non-space run). It is the `n_tokens` field of the native
    * `text_signals` scan ([[graft.functions.TextExpressions.textSignalsEval]]):
    * one pass over the UTF-8 bytes, no decode, no per-token string and no
    * match array — Spark 4.1 would plan `regexp_count` as
    * `size(regexp_extract_all(…))`. Counting feeds every token-budget
    * consumer (gopher, quality score, mix reports, rebalance, packing);
    * the DuckDB oracles replay it as `regexp_count(text, '\S+')`. */
  def tokenCount(text: Column): Column =
    graft.functions.TextExpressions.text_signals(text).getField("n_tokens")

  /** CJK single-codepoint ranges (Han incl. Ext-A/B + compatibility, Hiragana,
    * Katakana incl. phonetic extensions, Hangul syllables) as explicit
    * `\x{…}` ranges — the RE2∩Java subset: BOTH engines treat a class range
    * as code points (a surrogate pair is one match), verified by the non-BMP
    * Ext-B case in TextOpsSpec. Script names (`\p{Han}` / `\p{IsHan}`) are
    * deliberately avoided: the spelling differs between RE2 and Java and the
    * underlying Unicode tables drift across versions, which would break
    * DuckDB oracle replay. */
  private val cjkRanges: String =
    "\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}\\x{F900}-\\x{FAFF}" + // Han
      "\\x{3040}-\\x{30FF}\\x{31F0}-\\x{31FF}" +                  // Kana
      "\\x{AC00}-\\x{D7AF}" +                                     // Hangul
      "\\x{20000}-\\x{2A6DF}"                                     // Han Ext-B
  /** Whitespace for [[unicodeTokenPattern]]: ASCII ws + NBSP + U+3000
    * ideographic space (the space CJK text actually uses). */
  private val unicodeWs: String = " \\t\\n\\r\\x{00A0}\\x{3000}"

  /** Code-point-class token pattern for whitespace-free scripts: a token is
    * ONE Han/Kana/Hangul code point OR a run of non-space non-CJK characters.
    * Whitespace `split` counts a CJK document as ~1 token, silently corrupting
    * every token-budget consumer (rebalance, epoch plans, packing, mix
    * reports) for those sources; per-codepoint counting is the standard
    * fallback (≈ chars-per-token 1 for CJK). The pattern is replayable
    * verbatim by DuckDB's RE2 (q_token_count_unicode oracle). */
  val unicodeTokenPattern: String =
    s"[$cjkRanges]|[^$unicodeWs$cjkRanges]+"

  /** Unicode-aware tokenization per [[unicodeTokenPattern]]: whitespace-
    * delimited runs for spaced scripts, one token per code point for
    * Han/Kana/Hangul. Identical to [[tokens]] on ASCII text (modulo NBSP /
    * U+3000 also separating). */
  def tokensUnicode(text: Column): Column =
    regexp_extract_all(text, lit(unicodeTokenPattern), lit(0))

  def tokenCountUnicode(text: Column): Column =
    regexp_count(text, lit(unicodeTokenPattern))

  /** Resolve a tokenizer OPTION name to a token-count column — the knob the
    * token-budget consumers ([[Curation.rebalanceMixTokens]],
    * [[Curation.epochPlan]], [[Curation.mixReport]], [[packSequences]])
    * expose. "whitespace" (default, backward-compatible), "unicode"
    * (CJK-safe, [[tokenCountUnicode]]), "bpe" (subword estimate,
    * [[tokenCountBpe]]). */
  def tokenCounterFor(tokenizer: String): Column => Column = tokenizer match {
    case "whitespace" => tokenCount
    case "unicode"    => tokenCountUnicode
    case "bpe"        => tokenCountBpe
    case other => throw new IllegalArgumentException(
      s"unknown tokenizer '$other' (expected whitespace|unicode|bpe)")
  }

  /** BPE-ish subword-token estimate: counts letter runs, single digits, and
    * single non-alphanumeric glyphs (the GPT-2 pre-tokenizer's coarse shape —
    * digits and punctuation tokenize individually, words as runs). Pure-ASCII
    * character classes so Java regex and the DuckDB (RE2) oracle agree —
    * including outside the BMP: java.util.regex matches CODE POINTS (a
    * surrogate pair is one `[^…]` match, same as RE2's one-codepoint match),
    * verified by the non-BMP case in TextOpsSpec. */
  val bpeTokenPattern: String = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]"
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit(bpeTokenPattern))

  /** Learned-BPE tokenization — the model-ingestible complement of the
    * [[tokenCountBpe]] ESTIMATE: apply a merge table learned by
    * [[graft.ml.Bpe.learn]] via the native broadcast-model `bpe_encode`
    * expression. Returns array<string> of subword tokens in document order. */
  def bpeTokenize(text: Column,
                  model: org.apache.spark.broadcast.Broadcast[graft.ml.Bpe.BpeModel]): Column =
    graft.functions.BpeExpressions.bpe_encode(text, model)

  /** Learned-BPE tokenization to TOKEN IDS (`model.vocab` positions,
    * `<unk>`=0) — the array<int> a training pipeline actually feeds a model. */
  def bpeTokenizeIds(text: Column,
                     model: org.apache.spark.broadcast.Broadcast[graft.ml.Bpe.BpeModel]): Column =
    graft.functions.BpeExpressions.bpe_encode_ids(text, model)

  /** Unigram-LM (SentencePiece-style) tokenization — the other production
    * tokenizer family ([[graft.ml.Unigram.learn]] learns the model; T5/LLaMA
    * corpora are unigram-tokenized): Viterbi max-probability segmentation via
    * the native broadcast-model `unigram_encode` expression. */
  def unigramTokenize(text: Column,
                      model: org.apache.spark.broadcast.Broadcast[
                        graft.ml.Unigram.UnigramModel]): Column =
    graft.functions.UnigramExpressions.unigram_encode(text, model)

  /** Unigram-LM tokenization to PIECE IDS (`model.vocab` positions,
    * `<unk>`=0 for out-of-vocabulary single code points). */
  def unigramTokenizeIds(text: Column,
                         model: org.apache.spark.broadcast.Broadcast[
                           graft.ml.Unigram.UnigramModel]): Column =
    graft.functions.UnigramExpressions.unigram_encode_ids(text, model)

  /** Word n-gram shingles as space-joined strings; < n tokens → empty array. */
  /** Interpreted-HOF shingling over an ARBITRARY token-array column — for
    * composition with pre-tokenized inputs. Hot paths over raw text must use
    * the native codegen'd `TextExpressions.word_shingles` instead (CLAUDE.md:
    * per-shingle lambdas are interpreted per element). */
  def shingles(tokenArr: Column, n: Int): Column =
    when(size(tokenArr) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(tokenArr) - n),
        i => concat_ws(" ", slice(tokenArr, i + 1, lit(n)))))

  /**
   * Heuristic quality score in [0,1]: shrinks with extreme length, high
   * punctuation density and high digit density; grows with mean token length
   * plausibility. Deterministic closed form so the DuckDB oracle can replicate
   * it exactly (same operations, same constants).
   * score = clamp(0, 1, 0.5 + 0.5*min(ntok,200)/200 - punct_ratio - digit_ratio)
   */
  /** Within-document repetition ratio — the Gopher/C4-style quality signal:
    * fraction of word n-grams that are repeats of an earlier n-gram in the
    * same document (0 = no repetition, →1 = the document is one phrase
    * looped). Row-local (no shuffle); n-gram extraction is the native
    * word_shingles expression. */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val sh = graft.functions.TextExpressions.word_shingles(text, n)
    when(size(sh) <= lit(0), lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(sh)).cast("double") / size(sh).cast("double"))
  }

  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    // regexp_count = the former length-minus-replaced arithmetic (each match
    // is exactly one removed character) without allocating the two stripped
    // copies of the document
    val punct = regexp_count(text, lit("[.,!?;:]")).cast("double") / greatest(len, lit(1.0))
    val digit = regexp_count(text, lit("[0-9]")).cast("double") / greatest(len, lit(1.0))
    val ntok = tokenCount(text).cast("double")
    val raw = lit(0.5) + lit(0.5) * least(ntok, lit(200.0)) / lit(200.0) - punct - digit
    greatest(lit(0.0), least(lit(1.0), raw))
  }

  // ------------------------------------------------ Gopher quality rules
  // Rae et al. 2021 (arXiv:2112.11446, Table A1) — the standard web-corpus
  // document filter set, adopted by RefinedWeb/Dolma. Every signal is
  // row-local and defined by a pattern in the RE2 ∩ Java subset, so the
  // DuckDB oracle replays the rules byte-for-byte (q_gopher_quality); the
  // engine counts all but the stopwords in one native scan (text_signals).

  /** Symbols Gopher counts against the word count: `#`, the three-dot and
    * the single-glyph ellipsis (non-overlapping matches; `...` first so a
    * literal three-dot run is one symbol, not three). */
  val gopherSymbolPattern: String = "\\.\\.\\.|\u2026|#"

  /** Lines starting with a bullet glyph (multiline anchors work the same in
    * Java regex and RE2; horizontal-space class so `^` can't eat a newline). */
  val gopherBulletLinePattern: String = "(?m)^[ \\t]*[-*\u2022\u2023\u25aa]"

  /** Lines ending with an ellipsis. */
  val gopherEllipsisLinePattern: String = "(?m)(?:\\.\\.\\.|\u2026)[ \\t]*$"

  /** Words containing at least one alphabetic character: each match consumes
    * one whitespace-delimited word up to its last letter — a word can match
    * at most once (the remainder has no delimiter to start a new match). */
  val gopherAlphaWordPattern: String =
    "(?:^|[ \\t\\n\\r])[^ \\t\\n\\r]*[A-Za-z]"

  /** Gopher's required-stopword set: a document must contain ≥ 2 of these. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** All required stopwords as ONE alternation — the n_stopwords signal is
    * a single extract-all + distinct-count pass instead of |stopwords| full
    * `rlike` scans (a word ABSENT from the document costs a full scan per
    * rlike; the combined pass costs one). */
  val gopherStopwordPattern: String =
    "(?i)\\b(?:" + gopherStopwords.mkString("|") + ")\\b"

  /** Thresholds from arXiv:2112.11446 Table A1 (defaults = the paper's). */
  final case class GopherConfig(
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolWordRatio: Double = 0.1, maxBulletLineFrac: Double = 0.9,
      maxEllipsisLineFrac: Double = 0.3, minAlphaWordFrac: Double = 0.8,
      minStopwords: Int = 2)

  /**
   * Gopher repetition-free quality rules as a struct column:
   * (n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
   * ellipsis_line_frac, alpha_word_frac, n_stopwords, pass). `pass` is the
   * conjunction of all rules at `cfg` thresholds. Mean word length is
   * non-whitespace chars / words (identical to the per-word mean under
   * whitespace tokenization, without a per-token interpreted lambda —
   * CLAUDE.md's HOF cost rule). Zero-word documents fail `pass` and report
   * zero ratios (no division by zero). Row-local, codegen'd, no shuffle —
   * composes with any scan at 100 TB. Two passes over each text: the
   * `text_signals` scan (its struct is referenced once per field and
   * evaluated once, by codegen's subexpression elimination) and the
   * stopword extract. Pass a column reference, not an expression: `text`
   * is referenced three times, and an expression passed in is copied (and
   * evaluated) at each reference.
   */
  def gopherQuality(text: Column, cfg: GopherConfig = GopherConfig()): Column = {
    // the stopwords stay a regex pass: the scan has no proven twin of
    // Java's `\b` and Spark's `lower` on non-ASCII text
    val sig = graft.functions.TextExpressions.text_signals(text)
    val nWords = sig.getField("n_tokens").cast("long")
    val safeW = greatest(nWords, lit(1L)).cast("double")
    val meanLen = (length(text) - sig.getField("n_ws_chars"))
      .cast("double") / safeW
    val symbolRatio = sig.getField("n_symbols").cast("double") / safeW
    val nLines = (sig.getField("n_newlines") + 1).cast("double")
    val bulletFrac = sig.getField("n_bullet_lines").cast("double") /
      greatest(nLines, lit(1.0))
    val ellipsisFrac = sig.getField("n_ellipsis_lines").cast("double") /
      greatest(nLines, lit(1.0))
    val alphaFrac = sig.getField("n_alpha_words").cast("double") / safeW
    val nStop = size(array_distinct(
      regexp_extract_all(lower(text), lit(gopherStopwordPattern), lit(0))))
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

  /** Per-language stopword sets for the n-gram/stopword language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une", "pas"),
    "es" -> Seq("el", "la", "de", "y", "es", "un", "una", "no"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /**
   * Language-ID: count distinct-stopword hits per language over the token set,
   * pick the argmax (ties broken by language code descending via struct
   * ordering — deterministic). Rows with zero hits for every language get
   * "und" (undetermined).
   */
  def langId(tokenArr: Column): Column = {
    val distinctToks = array_distinct(tokenArr)
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(array_intersect(distinctToks, array(words.map(lit): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /**
   * Document fingerprint: rolling 64-bit hash folded over the word 3-gram
   * shingle hashes in order (acc = rotl(acc, 5) ⊕ xxhash64(shingle) — bitwise,
   * ANSI-safe). Stable under whitespace layout (tokenization normalizes it),
   * sensitive to any content or ordering change. Empty docs → xxhash64(text).
   */
  def fingerprint(text: Column, n: Int = 3): Column = {
    val sh = graft.functions.TextExpressions.word_shingles(text, n)
    val rotl5 = (acc: Column) =>
      shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59))
    when(size(sh) === 0, xxhash64(text))
      .otherwise(aggregate(sh, lit(0L),
        (acc, s) => rotl5(acc).bitwiseXOR(xxhash64(s))))
  }

  /**
   * 64-bit SimHash over token unigrams: bit b of the result is 1 iff
   * Σ_tokens (bit b of hash(token) ? +1 : −1) > 0. Native Catalyst expression
   * (graft.functions.TextExpressions.SimHash64) — the HOF formulation was
   * interpreted per element and dominated dedup benchmarks.
   */
  def simhash64(tokenArr: Column): Column =
    graft.functions.TextExpressions.simhash64(tokenArr)

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * MinHash signature of length numHashes (native Catalyst expression,
   * 2-universal g_i = h1 + i·h2 family). Empty shingle set → null signature
   * (caller filters).
   */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    graft.functions.TextExpressions.minhash_signature(shingleArr, numHashes)

  /**
   * Corpus vocabulary: per-token occurrence and document counts, min-count
   * filtered, with a DENSE global token id ordered by (occurrences desc,
   * token asc). The id ranking deliberately avoids an unpartitioned Window
   * (single-task global sort — the WindowExec trap): `orderBy` range-
   * partitions the (already aggregated, corpus≪) vocab across tasks and
   * `zipWithIndex` assigns contiguous ids with one extra size-scan job —
   * the standard distributed global-rank shape.
   * Returns (token, n_occurrences, n_docs, token_id).
   */
  def vocabulary(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, minCount: Long = 1L): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val counts = df
      .select(col(idCol).as("__doc"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("__doc")).as("n_docs"))
      .where(col("n_occurrences") >= minCount)
    val sorted = counts.orderBy(col("n_occurrences").desc, col("token"))
    val schema = sorted.schema.add("token_id", org.apache.spark.sql.types.LongType,
      nullable = false)
    spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      }, schema)
  }

  /**
   * TF-IDF document-term weights: tf = term count / document token count,
   * idf = ln(N / df_t) (plain convention — df_t ≥ 1 for every emitted term,
   * so no smoothing is needed), tfidf = tf · idf. Two aggregates (per-doc
   * term counts; per-term document frequency) + one broadcast-size join of
   * corpus constants — the term-count aggregate carries (token, doc) pairs,
   * never document text. Returns (idCol, token, tf, idf, tfidf) for every
   * (document, distinct term) pair.
   */
  /** A corpus-scale lazy result (`df`) built over a persisted intermediate
    * stage, with an explicit release seam: call [[release]] once `df` has been
    * materialized (written / collected). Idempotent. The result must stay a
    * LAZY plan over the cache (it is corpus-scale — the eager-checkpoint
    * doctrine of Dedup.withPersistedStage assumes a small result), so the
    * cache cannot be self-releasing; the caller owns the materialization
    * point and therefore the release point. */
  final class StagedResult(val df: org.apache.spark.sql.DataFrame,
                           stage: org.apache.spark.sql.DataFrame) {
    def release(): Unit = { stage.unpersist(blocking = false); () }
  }

  /** [[tfidf]] with the persisted term stage exposed for lifecycle control —
    * use this (or [[tfidfWith]]) in long-lived sessions so repeated calls
    * don't accumulate corpus-scale caches (`spark.catalog.clearCache` is a
    * sledgehammer: it would also drop a concurrent operator's stage). */
  def tfidfStaged(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): StagedResult = {
    // The expensive tokenize+explode+aggregate stage feeds THREE consumers
    // (doc count, per-term document frequency, final join), so it is
    // persisted. The doc count is a scalar — the one eager job here — and is
    // derived from terms (every surviving doc has ≥1 term row), so the
    // tokenize runs exactly once.
    val terms = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) > 0)
      .select(col(idCol), size(col("__toks")).as("__len"),
        explode(col("__toks")).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("__tc"), first(col("__len")).as("__len"))
      .coalesce(inputScaleParts(df))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = terms.select(count_distinct(col(idCol))).head().getLong(0)
    val docFreq = terms.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    val out = terms.join(docFreq, Seq("token"))
      .select(col(idCol), col("token"),
        (col("__tc").cast("double") / col("__len")).as("tf"),
        log(lit(nDocs.toDouble) / col("__df")).as("idf"))
      .withColumn("tfidf", col("tf") * col("idf"))
    new StagedResult(out, terms)
  }

  /** Run `use` over the TF-IDF result and release the persisted term stage
    * when it returns — the bounded-lifecycle shape: `use` must materialize
    * what it needs (write/collect) before returning. */
  def tfidfWith[T](df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String)(use: org.apache.spark.sql.DataFrame => T): T = {
    val staged = tfidfStaged(df, idCol, textCol)
    try use(staged.df) finally staged.release()
  }

  /** Fire-and-forget convenience over [[tfidfStaged]]: the persisted term
    * stage is left cached (LRU-evicted under memory pressure). Fine for
    * short-lived driver sessions; long-lived sessions should use
    * [[tfidfStaged]]/[[tfidfWith]] and release after materializing. */
  def tfidf(df: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String): org.apache.spark.sql.DataFrame =
    tfidfStaged(df, idCol, textCol).df

  // ------------------------------------------------------------ LM scoring

  /** Add-k-smoothed bigram language model learned from a reference corpus —
    * the model behind [[lmScore]]'s CCNet-shaped perplexity quality filter
    * (Wenzek et al. 2019, arXiv:1911.00359: perplexity under a small LM
    * trained on trusted text ranks web documents for curation; CCNet uses a
    * 5-gram KenLM — the add-k bigram here keeps every number exactly
    * replayable by the DuckDB oracle while preserving the pipeline shape).
    *
    * `bigrams` holds (bg = "w1 w2", c12); `prefixes` (w1, c1 = Σ_w2 c12);
    * `vocabSize` = |distinct train tokens|. The bigram table is PERSISTED —
    * it feeds the prefix re-aggregate and the scoring join — with the same
    * release contract as [[tfidfStaged]]: call [[BigramLm#release]] once the
    * scored output is materialized.
    *
    * Scale shape: training is one row-local native-shingle scan feeding a
    * (bg)-keyed aggregate (the shuffle carries token pairs, never text) plus
    * one token-distinct scan for V; `prefixes` re-aggregates the (≪ corpus)
    * bigram table. The model stays a pair of DataFrames, not driver state —
    * a 10⁹-row bigram table never lands on the driver; AQE broadcasts the
    * tables at score time when they are small. */
  final case class BigramLm(bigrams: org.apache.spark.sql.DataFrame,
                            prefixes: org.apache.spark.sql.DataFrame,
                            vocabSize: Long, k: Double) {
    def release(): Unit = { bigrams.unpersist(blocking = false); () }
  }

  def bigramLm(train: org.apache.spark.sql.DataFrame, textCol: String,
               k: Double = 0.1): BigramLm = {
    require(k > 0, s"add-k smoothing constant must be positive, got $k")
    val bg = train
      .select(explode(graft.functions.TextExpressions.word_shingles(
        col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .coalesce(inputScaleParts(train))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // tokens are whitespace-free by construction, so the bigram's first
    // token is recoverable row-locally — no second key column in the shuffle
    val prefixes = bg
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    val v = train.select(explode(tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok"))).head().getLong(0)
    BigramLm(bg, prefixes, v, k)
  }

  /** Per-document cross-entropy under a [[BigramLm]] — low = fluent /
    * in-domain, high = noise (the CCNet curation signal). Per adjacent-token
    * bigram: logp = ln((c12 + k)/(c1 + k·V)) when the prefix w1 is in-model
    * (c12 = 0 for an unseen continuation), else ln(1/V). Documents with < 2
    * tokens have no bigrams and are absent from the output. Returns
    * (idCol, n_bigrams, cross_entropy = −Σlogp/n, perplexity = e^ce).
    * Scale shape: one row-local shingle scan, two model joins keyed on
    * (bg)/(w1), one per-id aggregate — shuffles carry token pairs and ids,
    * never document text. */
  def lmScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
              textCol: String, model: BigramLm): org.apache.spark.sql.DataFrame = {
    require(model.vocabSize > 0, "lmScore: empty language model (vocabSize = 0)")
    val v = model.vocabSize.toDouble
    val pairs = docs
      .select(col(idCol), explode(graft.functions.TextExpressions.word_shingles(
        col(textCol), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val logp = when(col("c1").isNull, log(lit(1.0) / v))
      .otherwise(log((coalesce(col("c12"), lit(0L)).cast("double") + model.k) /
        (col("c1").cast("double") + model.k * v)))
    pairs
      .join(model.bigrams, Seq("bg"), "left")
      .join(model.prefixes, Seq("w1"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(logp).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        (-col("__s") / col("n_bigrams")).as("cross_entropy"))
      .withColumn("perplexity", exp(col("cross_entropy")))
  }

  /** Collect a [[BigramLm]] into the broadcastable driver-state form the
    * native `lm_score` expression reads — the low-latency / streaming path
    * for models that FIT (a curation LM is pruned by construction; CCNet's
    * own KenLMs are single-digit GB). `maxEntries` is the explicit guard
    * against collecting a corpus-scale model onto the driver: above it,
    * stay on the join-based [[lmScore]]. Counted BEFORE collecting. */
  def collectLm(model: BigramLm,
                maxEntries: Long = 20000000L): graft.functions.LmExpressions.LocalLm = {
    val n = model.bigrams.count()
    require(n <= maxEntries,
      s"collectLm: bigram table has $n entries (> $maxEntries) — " +
        "use the join-based lmScore for models this large")
    val c12 = new java.util.HashMap[String, java.lang.Long](
      math.min(n, (1L << 28) - 1).toInt * 2)
    model.bigrams.collect().foreach { r =>
      c12.put(r.getString(0), java.lang.Long.valueOf(r.getLong(1)))
    }
    val c1 = new java.util.HashMap[String, java.lang.Long]()
    model.prefixes.collect().foreach { r =>
      c1.put(r.getString(0), java.lang.Long.valueOf(r.getLong(1)))
    }
    graft.functions.LmExpressions.LocalLm(c12, c1, model.vocabSize, model.k)
  }

  /**
   * CCNet-style perplexity BUCKETS (Wenzek et al. 2019, arXiv:1911.00359
   * §4.3: corpora split into head / middle / tail by LM-perplexity
   * quantile; training mixes then sample by bucket). Cutoffs are EXACT
   * rank quantiles under the total order (round(cross_entropy, 6), id) —
   * order statistics, not interpolated percentiles, so bucket membership
   * is a pure function of the data and replays exactly in any engine (an
   * interpolated cutoff is FP-fragile at bucket borders; the 6-dp rounding
   * of the rank key absorbs FP merge-order noise so equal-content docs tie
   * deterministically on id). Rank uses the
   * [[vocabulary]] machinery: range-partitioned global sort + zipWithIndex
   * — distributed, never a single-task Window. The scored stage is
   * persisted (it feeds the count and the sort); release via the returned
   * [[StagedResult]] after materializing.
   *
   * Returns (idCol, n_bigrams, cross_entropy, bucket_id ∈ [0, buckets),
   * bucket — "head"/"middle"/"tail" for buckets = 3, else "b<i>").
   * Documents with < 2 tokens have no score and are absent ([[lmScore]]'s
   * contract).
   */
  def perplexityBucketsStaged(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, model: BigramLm,
      buckets: Int = 3): StagedResult = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val spark = docs.sparkSession
    val scored = lmScore(docs, idCol, textCol, model)
      .select(col(idCol), col("n_bigrams"), col("cross_entropy"))
      .coalesce(inputScaleParts(docs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = scored.count()
    // Rank key is cross_entropy ROUNDED to 6 decimals (the same precision
    // the oracle layer already proves cross-engine), tie-broken by id: the
    // raw per-doc sum merges partials in partition-fetch order, so two
    // equal-content docs can differ by ~1e-16 run-to-run — ranking raw
    // values would make bucket membership nondeterministic exactly where
    // the tie-break should decide. 1e-6 quantization is far below any
    // linguistic CE difference and far above FP merge noise.
    val sorted = scored.orderBy(round(col("cross_entropy"), 6), col(idCol))
    val schema = sorted.schema.add("__rank",
      org.apache.spark.sql.types.LongType, nullable = false)
    val ranked = spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      }, schema)
    val names: Column =
      if (buckets == 3)
        when(col("bucket_id") === 0, "head")
          .when(col("bucket_id") === 1, "middle").otherwise("tail")
      else concat(lit("b"), col("bucket_id").cast("string"))
    val out = ranked
      .withColumn("bucket_id",
        least(floor(col("__rank") * buckets / math.max(1L, n)),
          lit((buckets - 1).toLong)).cast("int"))
      .withColumn("bucket", names)
      .drop("__rank")
    new StagedResult(out, scored)
  }

  /** Fire-and-forget convenience over [[perplexityBucketsStaged]] (the
    * tfidf caveat: long-lived sessions should release the stage). */
  def perplexityBuckets(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, model: BigramLm, buckets: Int = 3)
      : org.apache.spark.sql.DataFrame =
    perplexityBucketsStaged(docs, idCol, textCol, model, buckets).df

  /** Scoped variant: `use` must MATERIALIZE its result (write / collect /
    * eager checkpoint) — the stage is released when it returns. */
  def perplexityBucketsWith[T](docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, model: BigramLm, buckets: Int = 3)(
      use: org.apache.spark.sql.DataFrame => T): T = {
    val staged = perplexityBucketsStaged(docs, idCol, textCol, model, buckets)
    try use(staged.df) finally staged.release()
  }

  /**
   * Stupid Backoff trigram model (Brants et al. 2007, "Large Language
   * Models in Machine Translation" — the smoothing DESIGNED for distributed
   * web-scale LMs: no normalization pass, so counts shard trivially and the
   * model stays count tables). Score of a token given its context backs off
   * with factor α: S(w|w₋₂w₋₁) = c₃/c₂(prefix) when the trigram is seen,
   * else α·S(w|w₋₁); S(w|w₋₁) = c₂/c₁(prev) when the bigram is seen, else
   * α·S(w); S(w) = c₁/N, flooring at 1/N for unseen words.
   *
   * Three row-local shingle scans of the training corpus feed three keyed
   * count aggregates (shuffles carry n-grams, never documents); `total` is
   * one scalar off the unigram table. All three tables are PERSISTED — the
   * scoring join reads each — with the [[BigramLm]] release contract.
   */
  final case class SbLm(trigrams: org.apache.spark.sql.DataFrame,
                        bigrams: org.apache.spark.sql.DataFrame,
                        unigrams: org.apache.spark.sql.DataFrame,
                        total: Long, alpha: Double) {
    def release(): Unit = {
      trigrams.unpersist(blocking = false)
      bigrams.unpersist(blocking = false)
      unigrams.unpersist(blocking = false)
      ()
    }
  }

  /** `minCount` is KenLM-style count pruning (Brants et al. §3 prune their
    * web-scale tables the same way): higher-order entries below the floor
    * are dropped and scoring backs off through them — the knob that turns a
    * 10⁹-row trigram table into a shippable model. The UNIGRAM table and
    * `total` are never pruned (they are the backstop distribution; pruning
    * them would change every backed-off score, not just drop rare context).
    */
  def stupidBackoffLm(train: org.apache.spark.sql.DataFrame, textCol: String,
                      alpha: Double = 0.4, minCount: Long = 1L): SbLm = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def grams(n: Int, key: String, cnt: String, prune: Boolean) = {
      val counts = train
        .select(explode(graft.functions.TextExpressions.word_shingles(
          col(textCol), n)).as(key))
        .groupBy(key).agg(count(lit(1)).as(cnt))
      (if (prune && minCount > 1) counts.where(col(cnt) >= minCount)
       else counts).coalesce(inputScaleParts(train)).persist(MEMORY_AND_DISK)
    }
    val uni = grams(1, "w", "c1", prune = false)
    val bg = grams(2, "bgk", "c2", prune = true)
    val tg = grams(3, "tgk", "c3", prune = true)
    val total = uni.agg(coalesce(sum("c1"), lit(0L))).head.getLong(0)
    SbLm(tg, bg, uni, total, alpha)
  }

  /**
   * Per-document mean negative log Stupid Backoff score — the trigram twin
   * of [[lmScore]]'s quality signal (lower = more fluent under the training
   * distribution; not a true perplexity since SB scores are unnormalized —
   * Brants et al. use them comparatively, exactly the curation use).
   * Position 0 scores as a unigram, position 1 as a bigram-with-backoff,
   * positions ≥ 2 as trigram-with-backoff. Documents with no tokens are
   * absent.
   *
   * Scale shape: context keys are assembled ROW-LOCALLY from the token
   * array by the native compiled `token_contexts` expression (one pass per
   * document — no interpreted per-token lambda, no Window, no self-join),
   * then one explode feeds five model joins keyed on n-gram strings and a
   * per-id aggregate: shuffles carry n-grams and ids, never document text.
   * Returns (idCol, n_tokens, sb_logscore).
   */
  def sbScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
              textCol: String, model: SbLm): org.apache.spark.sql.DataFrame = {
    require(model.total > 0, "sbScore: empty language model (total = 0)")
    val n = model.total.toDouble
    val a = model.alpha
    val pos = docs
      .select(col(idCol), explode(
        graft.functions.TextExpressions.token_contexts(col(textCol))).as("p"))
      .select(col(idCol), col("p.pos").as("pos"), col("p.w").as("w"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
      .withColumn("bgk", concat_ws(" ", col("w1"), col("w")))
      .withColumn("tgk", concat_ws(" ", col("w2"), col("w1"), col("w")))
      .withColumn("pgk", concat_ws(" ", col("w2"), col("w1")))
    // Five joins against the CACHED model tables, deliberately: folding the
    // denominator lookups into derived ratio tables (tried this round) made
    // the planner lose the cached tables' accurate size statistics — the
    // derived join results' estimates blew past the broadcast threshold and
    // the whole per-token occurrence table was exchanged for a shuffle join
    // (measured: an 8 MB map-side write AQE could only repair after the
    // fact). Joins against the persisted tables broadcast cleanly at model
    // scale and degrade to shuffle joins at 10⁹ rows unchanged.
    val joined = pos
      .join(model.unigrams, Seq("w"), "left")
      .join(model.unigrams.withColumnRenamed("w", "w1")
        .withColumnRenamed("c1", "c1p"), Seq("w1"), "left")
      .join(model.bigrams, Seq("bgk"), "left")
      .join(model.bigrams.withColumnRenamed("bgk", "pgk")
        .withColumnRenamed("c2", "c2p"), Seq("pgk"), "left")
      .join(model.trigrams, Seq("tgk"), "left")
    val sUni = when(col("c1").isNull, lit(1.0) / n)
      .otherwise(col("c1").cast("double") / n)
    val sBig = when(col("c2").isNotNull,
      col("c2").cast("double") / col("c1p").cast("double"))
      .otherwise(lit(a) * sUni)
    val sTri = when(col("c3").isNotNull,
      col("c3").cast("double") / col("c2p").cast("double"))
      .otherwise(lit(a) * sBig)
    val s = when(col("pos") === 0, sUni)
      .when(col("pos") === 1, sBig).otherwise(sTri)
    joined.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(-log(s)).as("__s"))
      .select(col(idCol), col("n_tokens"),
        (col("__s") / col("n_tokens")).as("sb_logscore"))
  }

  /**
   * Trained Naive Bayes language identifier over character n-grams — the
   * fastText/CCNet-shaped REPLACEMENT for heuristic langid when labeled
   * text exists (Joulin et al. 2016 use char n-gram features exactly so;
   * multinomial NB is its closed-form count-based cousin, and every number
   * here replays in SQL). Model = per-(lang, trigram) counts + per-lang
   * totals + doc priors, all DataFrames with the [[BigramLm]] release
   * contract; training is one explode + two keyed aggregates (shuffles
   * carry character n-grams, never documents).
   */
  final case class NbLang(counts: org.apache.spark.sql.DataFrame,
                          classes: org.apache.spark.sql.DataFrame,
                          totalDocs: Long, vocabSize: Long,
                          k: Double, n: Int) {
    def release(): Unit = {
      counts.unpersist(blocking = false)
      classes.unpersist(blocking = false)
      ()
    }
  }

  def nbLangModel(train: org.apache.spark.sql.DataFrame, langCol: String,
                  textCol: String, n: Int = 3, k: Double = 1.0): NbLang = {
    require(n > 0 && k > 0)
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = train.sparkSession
    val counts = train.select(col(langCol).as("lang"),
        explode(graft.functions.TextExpressions.char_shingles(
          col(textCol), n)).as("tri"))
      .groupBy("lang", "tri").agg(count(lit(1)).as("cnt"))
      .coalesce(inputScaleParts(train))
      .persist(MEMORY_AND_DISK)
    // TWO training scans total (the floor for count + doc-count tables; the
    // former shape paid a third for a separate train.count()): per-lang doc
    // counts collect to a |langs|-row local relation — the same bounded
    // driver state the class broadcast already assumes — so totalDocs is a
    // local sum and the classes join never re-scans the corpus at score time.
    val dc = train.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("n_docs")).collect()
    val totalDocs = dc.map(_.getLong(1)).sum
    val docCounts = spark.createDataFrame(
      java.util.Arrays.asList(dc: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val classes = counts.groupBy("lang").agg(sum("cnt").as("n_tris"))
      .join(docCounts, Seq("lang"))
      .coalesce(2)
      .persist(MEMORY_AND_DISK)
    // materializes the persisted count table in the same job
    val v = counts.agg(count_distinct(col("tri"))).head().getLong(0)
    NbLang(counts, classes, totalDocs, v, k, n)
  }

  /**
   * Predict the language of every document under an [[NbLang]] model:
   * argmax over classes of log prior + Σ log P̂(trigram | lang) with add-k
   * smoothing. Scale shape: one explode to (id, trigram) occurrence rows,
   * ONE equi-join against the model's per-trigram class-log-prob VECTOR
   * table (built from the count model — still a DataFrame join: a 10⁹-row
   * count table plans a shuffle join unchanged), one per-doc vec_sum
   * partial-combined aggregate, and a row-local argmax — documents never
   * shuffle and no stage is |langs|× the occurrence count (a 10⁴-class
   * taxonomy would want a different join shape — the array is |langs| wide).
   * Documents shorter than n characters are absent (no features). Ties
   * break to the lexicographically first language. Returns
   * (idCol, lang = predicted class, score = log posterior up to the
   * constant evidence term).
   */
  def nbLangId(docs: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, model: NbLang): org.apache.spark.sql.DataFrame = {
    require(model.vocabSize > 0, "nbLangId: empty model")
    val spark = docs.sparkSession
    val kV = model.k * model.vocabSize
    // Vectorized-by-class formulation: one row per MODEL trigram carrying the
    // per-class smoothed log-likelihood array (classes in sorted-lang order),
    // so scoring is explode → ONE equi-join on the trigram → ONE per-doc
    // vec_sum aggregate → row-local argmax. The former shape cross-joined
    // every trigram occurrence with the |langs|-row class table (|langs|× the
    // exchange and aggregate volume) and ranked (id, lang) rows with a
    // second shuffle; here the exchange carries one |langs|-length array per
    // doc per map partition and the argmax never leaves the row. Per-element
    // arithmetic is IDENTICAL (log((cnt+k)/(n_tris+kV)), unseen → cnt=0,
    // prior = log(n_docs/total)); only summation order moves (≈1e-15, same
    // class of noise as shuffle-order partial sums). The class list is
    // bounded driver state by the operator's contract (the class table is
    // already collected for the broadcast prior; a 10⁴-class taxonomy would
    // want a different join shape — unchanged from the previous note).
    // Ties break to the lexicographically first language: the scores array
    // is in sorted-lang order and array_position returns the FIRST index of
    // the max.
    val langInfo = model.classes.select("lang", "n_tris", "n_docs").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val L = langInfo.length
    require(L > 0, "nbLangId: model has no classes")
    val langsLit = array(langInfo.map(i => lit(i._1)): _*)
    val priorsLit = array(langInfo.map(i =>
      lit(math.log(i._3 / model.totalDocs.toDouble))): _*)
    val defaultsLit = array(langInfo.map(i =>
      lit(math.log(model.k / (i._2 + kV)))): _*)
    val idxDf = broadcast(spark.createDataFrame(
      langInfo.zipWithIndex.map { case ((l, nTris, _), i) =>
        (l, i, nTris + kV) }.toSeq).toDF("lang", "__idx", "__denom"))
    val triVec = model.counts
      .join(idxDf, Seq("lang"))
      .groupBy("tri")
      .agg(map_from_entries(collect_list(struct(col("__idx"),
        log((col("cnt") + model.k) / col("__denom"))))).as("__m"))
      .select(col("tri"), transform(sequence(lit(0), lit(L - 1)),
        i => coalesce(element_at(col("__m"), i),
          element_at(defaultsLit, i + 1))).as("__lp"))
    val tris = docs.select(col(idCol),
      explode(graft.functions.TextExpressions.char_shingles(
        col(textCol), model.n)).as("tri"))
    val summed = tris
      .join(triVec, Seq("tri"), "left")
      .select(col(idCol), coalesce(col("__lp"), defaultsLit).as("__lp"))
      .groupBy(col(idCol))
      .agg(graft.functions.VecAggregates.vec_sum(col("__lp")).as("__ll"))
    summed
      .select(col(idCol),
        zip_with(col("__ll"), priorsLit, (a, b) => a + b).as("__sc"))
      .withColumn("__best",
        array_position(col("__sc"), array_max(col("__sc"))).cast("int"))
      .select(col(idCol),
        element_at(langsLit, col("__best")).as("lang"),
        element_at(col("__sc"), col("__best")).as("score"))
  }

  /** Collect an [[NbLang]] into the broadcastable driver-state form the
    * native `nb_lang` expression reads — the streaming / low-latency twin
    * of [[nbLangId]] (langid models are tiny by construction; the guard is
    * the [[collectLm]] contract, counted BEFORE collecting). Labels are
    * sorted so the expression's strict-> argmax reproduces the join path's
    * lexicographic tie-break. */
  def collectNb(model: NbLang,
                maxEntries: Long = 20000000L): graft.functions.NbExpressions.LocalNb = {
    val n = model.counts.count()
    require(n <= maxEntries,
      s"collectNb: count table has $n entries (> $maxEntries) — " +
        "use the join-based nbLangId for models this large")
    val classes = model.classes.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1) // (lang, n_tris, n_docs)
    val idx = classes.map(_._1).zipWithIndex.toMap
    val counts = Array.fill(classes.length)(
      new java.util.HashMap[String, java.lang.Long]())
    model.counts.collect().foreach { r =>
      counts(idx(r.getString(0)))
        .put(r.getString(1), java.lang.Long.valueOf(r.getLong(2)))
    }
    graft.functions.NbExpressions.LocalNb(
      classes.map(_._1),
      classes.map(c => math.log(c._3 / model.totalDocs.toDouble)),
      counts,
      classes.map(c => c._2 + model.k * model.vocabSize),
      model.k, model.n)
  }

  /** Collect an [[SbLm]] into the broadcastable driver-state form the
    * native `sb_score` expression reads — the low-latency / streaming twin
    * (the [[collectLm]] contract: `maxEntries` guards against collecting a
    * corpus-scale model, counted BEFORE collecting; count pruning at fit
    * time is what makes a web-scale model fit). Denominator lookups are
    * safe under pruning: a surviving n-gram's prefix always counts at least
    * as much, so it survives the same floor. */
  def collectSb(model: SbLm,
                maxEntries: Long = 20000000L): graft.functions.LmExpressions.LocalSb = {
    val n = model.trigrams.count() + model.bigrams.count() +
      model.unigrams.count()
    require(n <= maxEntries,
      s"collectSb: model has $n entries (> $maxEntries) — use the " +
        "join-based sbScore, or prune harder with minCount")
    def toMap(df: org.apache.spark.sql.DataFrame) = {
      val m = new java.util.HashMap[String, java.lang.Long]()
      df.collect().foreach(r =>
        m.put(r.getString(0), java.lang.Long.valueOf(r.getLong(1))))
      m
    }
    graft.functions.LmExpressions.LocalSb(toMap(model.trigrams),
      toMap(model.bigrams), toMap(model.unigrams), model.total, model.alpha)
  }

  /**
   * Context-window chunking: split each document into consecutive
   * `chunkSize`-token chunks (last chunk may be shorter) — the doc-local
   * step that turns a raw corpus into model-ingestible sequences. Row-local
   * (explode only multiplies rows by ≤ n_tokens/chunkSize), so it
   * distributes perfectly and composes with dedup/split/sampling on
   * (idCol, chunk_idx). The per-chunk lambda runs once per CHUNK, not per
   * token (slice/array_join inside are native) — the interpreted-HOF cost
   * ceiling that rules out per-token lambdas does not bite at 1/chunkSize
   * density. Empty/whitespace-only docs yield no chunks.
   * Returns (idCol, chunk_idx, n_tokens, chunk_text).
   */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, chunkSize: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) > 0)
      .select(col(idCol), size(col("__toks")).as("__n"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("__toks")) - 1) / chunkSize).cast("int")),
          i => array_join(slice(col("__toks"), i * chunkSize + 1, lit(chunkSize)), " "))))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        least(lit(chunkSize), col("__n") - col("pos") * chunkSize)
          .cast("int").as("n_tokens"),
        col("col").as("chunk_text"))
  }

  /**
   * Example packing (GPT-style concat-and-split): within each deterministic
   * output shard, lay the shard's tokenized documents end-to-end (ordered by
   * id) and cut fixed `seqLen`-token training sequences; a document may
   * straddle a cut. The step AFTER [[chunkTokens]] — chunking bounds one
   * document, packing fills sequences from many (a mean-doc ≪ seqLen corpus
   * otherwise wastes most of every sequence as padding).
   *
   * Scale shape: the shard is the parallelism unit — assignment is the same
   * deterministic md5 arithmetic as [[Curation.hashBucket]] (a pure function
   * of the id: reproducible by any auditing engine, never `rand()` or
   * partitioning-dependent), so the one Window here PARTITIONS BY shard — a
   * real pipeline packs into O(10⁴) shards, each an independent bounded
   * sort, never the unpartitioned-Window single-task trap. The shuffle
   * carries (id, n_tokens) pairs only — document text never enters the
   * exchange; callers join the placement back to payload by id at write
   * time. Integer division rides SQL `div` (no double rounding at
   * corpus-scale cumulative counts).
   *
   * Returns (idCol, shard, n_tokens, seq_id, seq_offset, straddles):
   * `seq_id` = which sequence of the shard the document STARTS in,
   * `seq_offset` = its token offset there, `straddles` = whether it crosses
   * into the following sequence(s).
   */
  def packSequences(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, seqLen: Int,
                    numShards: Int,
                    tokenizer: String = "whitespace"): org.apache.spark.sql.DataFrame =
    packCounts(
      df.select(col(idCol),
        tokenCounterFor(tokenizer)(col(textCol)).cast("long").as("n_tokens")),
      idCol, "n_tokens", seqLen, numShards)

  /** [[packSequences]] over a PRE-TOKENIZED length column — pack anything
    * with a token count: [[chunkTokens]] output (use a composite id),
    * `size(bpeTokenizeIds(...))` lengths, externally tokenized corpora.
    * Same contract: deterministic md5 shard from the id, per-shard window
    * cumsum, zero-length rows dropped. */
  def packCounts(df: org.apache.spark.sql.DataFrame, idCol: String,
                 nTokensCol: String, seqLen: Int,
                 numShards: Int): org.apache.spark.sql.DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.select(col(idCol), col(nTokensCol).cast("long").as("__n"))
      .where(col("__n") > 0)
      .withColumn("shard", Curation.hashBucket(col(idCol), numShards).cast("int"))
      .withColumn("__end", sum(col("__n")).over(w))
      .select(col(idCol), col("shard"), col("__n").as(nTokensCol),
        expr(s"(__end - __n) div ${seqLen}").as("seq_id"),
        ((col("__end") - col("__n")) % seqLen).as("seq_offset"),
        expr(s"((__end - 1) div ${seqLen}) > ((__end - __n) div ${seqLen})")
          .as("straddles"))
  }
}
