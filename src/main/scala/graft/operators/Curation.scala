package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus-curation operators a large-scale training-data pipeline needs
 * around dedup/similarity: deterministic dataset splits, per-group
 * down-sampling, PII redaction and text normalization. All per-row work is
 * built from `org.apache.spark.sql.functions._` (codegen'd, no UDFs); the
 * only shuffle in the family is the sampler's bounded-heap aggregate.
 *
 * Determinism is the design constraint throughout: a 100 TB corpus is
 * re-curated many times (new filters, new dedup thresholds), and the
 * train/val/test membership of a document must never move between runs or
 * depend on partitioning — so every "random" choice here is a pure function
 * of the row's id (md5-derived), never of `rand()`, task order, or row order.
 */
object Curation {

  /** 32-bit bucket in [0, buckets) derived from the md5 of the id rendered as
    * a string — md5 (not xxhash64) because the oracle side (DuckDB, or any
    * other engine auditing the split) must reproduce the exact assignment;
    * md5 is the lingua-franca hash. Row-local, codegen'd, no shuffle. */
  def hashBucket(id: Column, buckets: Int): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  /**
   * Deterministic train/val/test split assignment: percentile = md5-bucket in
   * [0,100); rows map to "train" below trainPct, "val" below trainPct+valPct,
   * else "test". Exactly reproducible from the id alone — adding, dropping or
   * re-partitioning other rows never moves a document across splits (the
   * property `rand(seed)`-based splits lose the moment the corpus changes).
   */
  def splitAssign(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percents ($trainPct, $valPct)")
    val pct = hashBucket(id, 100)
    when(pct < trainPct, lit("train"))
      .when(pct < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /**
   * Leakage-safe GROUP-AWARE split: every member of a duplicate / near-dup
   * group lands in the SAME split, so a near-copy of a training document can
   * never leak into val/test (the per-id [[splitAssign]] cannot guarantee
   * that — two near-identical docs have independent md5 buckets). The split
   * key is the group representative (`group_id` = min member id, the
   * [[Dedup.connectedComponents]] contract) when the row belongs to a group,
   * else the row's own id; assignment is then the same deterministic
   * md5-percentile arithmetic as [[splitAssign]]. One left join against the
   * (id → group_id) table — at corpus scale the group table is the small
   * dedup output, and membership remains a pure function of content-derived
   * ids: re-partitioning or corpus growth never moves a document.
   * `groups`: (id, group_id) as produced by the dedup operators.
   */
  def splitByGroup(df: DataFrame, idCol: String, groups: DataFrame,
                   trainPct: Int = 80, valPct: Int = 10): DataFrame =
    df.join(groups.select(col("id").as(idCol), col("group_id")), Seq(idCol), "left")
      .withColumn("split",
        splitAssign(coalesce(col("group_id"), col(idCol)), trainPct, valPct))
      .drop("group_id")

  /** Email-address pattern shared by Java regex and RE2 (no lookaround, no
    * backreferences) so an external engine can replay the redaction. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** URL pattern: scheme + non-space run. Deliberately greedy-simple — a
    * curation redactor errs toward over-masking. */
  val urlPattern: String = "https?://[^ \\t\\n\\r]+"

  /** Phone pattern: separator-delimited 3-3-4 shapes with optional +1/1 and
    * parenthesized area code. The leading `\b` rides the digit branch only
    * (there is no word boundary between a space and `(`); separators are
    * REQUIRED between groups so arbitrary 10-digit ids are not masked.
    * RE2-compatible (no lookaround). */
  val phonePattern: String =
    "(?:\\+1[-. ]|\\b1[-. ])?(?:\\(\\d{3}\\)[-. ]?|\\b\\d{3}[-. ])\\d{3}[-. ]\\d{4}\\b"

  /** IPv4 pattern: dotted quad. Version strings like `1.2.3.4` are masked
    * too — the over-masking bias, as with URLs. */
  val ipPattern: String = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /**
   * PII-style redaction for training corpora: masks emails, then URLs, then
   * phone numbers, then IPv4 addresses with typed placeholder tokens. Order
   * matters — an email inside a URL query string is masked by the email pass
   * first, then the surrounding URL collapses around the placeholder; an IP
   * inside a URL is gone before the IP pass. Row-local; pure regexp_replace
   * so the scan stays in whole-stage codegen.
   */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, emailPattern, "<EMAIL>"),
          urlPattern, "<URL>"),
        phonePattern, "<PHONE>"),
      ipPattern, "<IP>")

  // ------------------------------------------------- HTML/markup stripping
  // A real crawl corpus arrives as HTML; these are the text-extraction
  // passes upstream of removeBoilerplateLines (which handles repeated
  // LINES, not markup). Deliberately regex-composed — every pass is plain
  // `regexp_replace`, shared between Java regex and RE2 (no lookaround, no
  // backreferences), so any auditing engine replays the extraction
  // byte-for-byte and the scan stays in whole-stage codegen.

  /** `<script …>…</script>` blocks, case-insensitive, dot-matches-newline,
    * non-greedy (an UNCLOSED script tag is left for [[tagPattern]], leaking
    * its code as text — the standard regex-extractor limitation, preferred
    * over a greedy match that would swallow the document). */
  val scriptBlockPattern: String = "(?is)<script\\b.*?</script\\s*>"

  /** `<style …>…</style>` blocks — same contract as [[scriptBlockPattern]]. */
  val styleBlockPattern: String = "(?is)<style\\b.*?</style\\s*>"

  /** HTML comments `<!-- … -->`, spanning lines. */
  val htmlCommentPattern: String = "(?s)<!--.*?-->"

  /** Tags that imply a LINE BREAK in rendered text: `<br>`/`<hr>` (any
    * self-closing spelling) and the CLOSE of block-level containers. These
    * become `\n` so paragraph structure survives tag stripping (`</p\s*>`
    * cannot catch `</pre>` — the name list is exact, not prefix). */
  val blockBreakPattern: String =
    "(?i)<(?:br|hr)\\s*/?\\s*>|(?i)</(?:p|div|h[1-6]|li|ul|ol|tr|table|" +
      "blockquote|pre|section|article|header|footer)\\s*>"

  /** Every remaining tag → one space (a separator, never a word-gluer:
    * `a<div>b` must not become `ab`). A lone `<` with no `>` is text. */
  val tagPattern: String = "(?s)<[^>]*>"

  /** Ordered entity decodes, three stages:
    *   1. [[entityReplacementsPre]] — the common NAMED set as literal
    *      replaces (out-of-set names like `&copy;` pass through as text,
    *      the conservative choice);
    *   2. the general NUMERIC decode (`&#NNN;` / `&#xHH;` → code point) via
    *      [[graft.functions.TextExpressions.DecodeNumericEntities]] — real
    *      crawl HTML is full of `&#8217;`-style references a fixed literal
    *      list can't cover; the DuckDB oracle replays it with chr() over
    *      the same bounded-digits tokenization;
    *   3. [[ampReplacement]] `&amp;` LAST, so double-escaped entities
    *      decode exactly one level (`&amp;lt;` → literal `&lt;`,
    *      `&amp;#65;` → literal `&#65;` — the correct single-pass
    *      unescape: stages 1–2 never see the `&#`/`&lt` hidden behind
    *      `&amp;`, and nothing runs after stage 3). */
  val entityReplacementsPre: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&apos;" -> "'")

  /** Final one-level `&amp;` unescape — see [[entityReplacementsPre]]. */
  val ampReplacement: (String, String) = "&amp;" -> "&"

  /** Horizontal-whitespace runs (everything but `\n`) → one space. */
  val hspacePattern: String = "[ \\t\\x0B\\f\\r]+"

  /** Spaces hugging a newline (post-[[hspacePattern]]: at most one each
    * side) — trimmed so line content is flush. */
  val nlTrimPattern: String = " ?\\n ?"

  /** Runs of 3+ newlines → a single blank line (paragraph break kept). */
  val blankRunPattern: String = "\\n{3,}"

  /** Leading/trailing whitespace (only spaces/newlines survive the passes
    * above; `$`-before-final-newline semantics differ between engines, but
    * `\n` in the class makes both consume to the true end). */
  val edgeTrimPattern: String = "^[ \\n]+|[ \\n]+$"

  /**
   * Row-local HTML/markup text extraction: drop script/style/comment
   * blocks, convert line-breaking tags to `\n`, strip remaining tags to a
   * space, decode entities (named set → numeric references → `&amp;` last),
   * then normalize whitespace (horizontal runs → one space, spaces trimmed
   * around newlines, blank-line runs capped at one, ends trimmed). All
   * passes codegen'd and shuffle-free; every pass is replayed verbatim by
   * the DuckDB oracle (q_strip_html) — the regex passes as the identical
   * `regexp_replace` chain, the numeric decode as chr() over the same
   * bounded tokenization.
   */
  def stripMarkup(text: Column): Column = {
    val noBlocks = regexp_replace(regexp_replace(regexp_replace(text,
      scriptBlockPattern, ""), styleBlockPattern, ""), htmlCommentPattern, "")
    val broken = regexp_replace(noBlocks, blockBreakPattern, "\n")
    val untagged = regexp_replace(broken, tagPattern, " ")
    val named = entityReplacementsPre.foldLeft(untagged) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    }
    val numeric =
      graft.functions.TextExpressions.decode_numeric_entities(named)
    val decoded = regexp_replace(numeric, ampReplacement._1, ampReplacement._2)
    val ws1 = regexp_replace(decoded, hspacePattern, " ")
    val ws2 = regexp_replace(ws1, nlTrimPattern, "\n")
    val ws3 = regexp_replace(ws2, blankRunPattern, "\n\n")
    regexp_replace(ws3, edgeTrimPattern, "")
  }

  /**
   * Canonical text normalization before exact/near dedup: lowercase, collapse
   * every whitespace run to one space, trim. Makes exact-dedup catch
   * layout-only duplicates (same words, different wrapping) that byte
   * equality misses. Composed from lower/regexp_replace/trim — portable to
   * any SQL engine for auditing.
   */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "[ \\t\\n\\r]+", " "))

  /**
   * C4-style blocklist screening (Raffel et al. 2020 §2.2: pages containing
   * any word from a bad-words blocklist are dropped). One compiled
   * row-local `regexp_extract_all` pass over the lowercased text counts
   * word-boundary matches of ANY term — stays in whole-stage codegen, no
   * per-keyword passes, streaming-safe.
   *
   * Keywords are restricted to `[a-z0-9 ]` (the shape real blocklists
   * have) so the generated alternation is valid in both Java regex and
   * RE2, and the oracle replays it verbatim. Terms are sorted LONGEST
   * FIRST inside the alternation: Java's NFA takes the first alternative
   * that matches while RE2 takes the longest — ordering by length makes
   * first = longest, so both engines pick the same match (e.g. keywords
   * {"bad", "badword"} over "badword" must count the long term once, not
   * fail the boundary on "bad").
   */
  def keywordPattern(keywords: Seq[String]): String = {
    require(keywords.nonEmpty, "empty keyword list")
    keywords.foreach(k => require(k.matches("[a-z0-9 ]+") && k.trim == k,
      s"keyword '$k' must be trimmed lowercase [a-z0-9 ] text"))
    "\\b(?:" + keywords.sortBy(k => (-k.length, k)).mkString("|") + ")\\b"
  }

  /** Number of non-overlapping blocklist matches in `text`. */
  def keywordHits(text: Column, keywords: Seq[String]): Column =
    size(regexp_extract_all(lower(text), lit(keywordPattern(keywords)), lit(0)))

  /** Sorted distinct blocklist terms present in `text` (audit column). */
  def keywordMatches(text: Column, keywords: Seq[String]): Column =
    array_sort(array_distinct(
      regexp_extract_all(lower(text), lit(keywordPattern(keywords)), lit(0))))

  /** Rows whose `textCol` contains NO blocklist term — the C4 drop rule. */
  def filterBlocklist(df: DataFrame, textCol: String,
                      keywords: Seq[String]): DataFrame =
    df.where(keywordHits(col(textCol), keywords) === 0)

  /**
   * Deterministic k-per-group down-sample (e.g. cap every `source` domain at
   * k documents so one crawl host can't dominate the training mix). Rank
   * within the group by (md5-derived sample key asc, id asc) via the
   * bounded-heap aggregate — each map task keeps ≤ k candidates per group
   * before the shuffle, so sampling a 100 TB corpus shuffles
   * O(groups · partitions · k) ids, never the corpus. No Window, no
   * per-group global sort.
   *
   * Returns the sampled ID LIST — (groupCols, idCol, rank), NOT the payload
   * rows (ids-only output is what keeps the shuffle id-sized; same contract
   * as the dedup keep-set ops). Use [[samplePerGroupRows]] to materialize
   * the surviving rows with all their columns.
   */
  def samplePerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
                     k: Int): DataFrame = {
    val keyed = df.withColumn("__sample_key",
      hashBucket(col(idCol), Int.MaxValue).cast("double"))
    Similarity.topKPerGroup(keyed, groupCols, "__sample_key", idCol, k,
        ascending = true)
      .drop("__sample_key")
  }

  /** [[samplePerGroup]] materialized: the input rows (full payload) whose id
    * survived the per-group cap — one left-semi join against the id list. */
  def samplePerGroupRows(df: DataFrame, groupCols: Seq[String], idCol: String,
                         k: Int): DataFrame =
    df.join(samplePerGroup(df, groupCols, idCol, k).select(idCol),
      Seq(idCol), "left_semi")

  /**
   * Corpus composition (mix) report: per-group document / token / character
   * counts and share of corpus — the numbers a data-mixing decision
   * (Pile / Dolma-style source weighting) starts from. One corpus aggregate;
   * the totals come from re-aggregating the (group-domain-sized) per-group
   * table, which is persisted so the corpus is scanned once.
   * Returns groupCols + (n_docs, n_tokens, n_chars, doc_share, token_share).
   */
  def mixReport(df: DataFrame, groupCols: Seq[String],
                textCol: String, tokenizer: String = "whitespace"): DataFrame = {
    val g = groupCols.map(col)
    val per = df.groupBy(g: _*).agg(
      count(lit(1)).as("n_docs"),
      sum(TextOps.tokenCounterFor(tokenizer)(col(textCol)).cast("long"))
        .as("n_tokens"),
      sum(length(col(textCol)).cast("long")).as("n_chars"))
    Dedup.withPersistedStage(per) { p =>
      val tot = p.agg(sum("n_docs").as("__td"), sum("n_tokens").as("__tt"))
      p.crossJoin(broadcast(tot))
        .select(g ++ Seq(col("n_docs"), col("n_tokens"), col("n_chars"),
          (col("n_docs").cast("double") / col("__td")).as("doc_share"),
          (col("n_tokens").cast("double") / col("__tt")).as("token_share")): _*)
    }
  }

  /**
   * Deterministic rebalance to a TARGET MIX (Pile/Dolma-style source
   * weighting): keep the largest total N every targeted group can supply —
   * N = min_g floor(n_g / p_g) — then select exactly k_g = floor(p_g · N)
   * documents per group, ordered by the same md5 sample key as
   * [[samplePerGroup]] (a pure function of the id: membership is
   * reproducible by any auditing engine and survives re-partitioning).
   * Groups absent from `targets` (or with p_g = 0) are dropped; a targeted
   * group missing from the corpus makes the mix infeasible at any size —
   * the result is empty rather than silently off-mix.
   *
   * Scale shape: one per-group count aggregate whose result is collected —
   * the group domain is mix-policy-sized (sources, languages), bounded by
   * `targets` itself, never O(corpus) — then the bounded-heap top-k with
   * k = max k_g and a broadcast (group → k_g) rank filter: map tasks
   * forward ≤ max k_g ids per group before the shuffle; no Window, no
   * document text in any exchange. Returns (groupCol, idCol, rank ≤ k_g).
   */
  def rebalanceMix(df: DataFrame, groupCol: String, idCol: String,
                   targets: Map[String, Double]): DataFrame = {
    val pos = targets.filter(_._2 > 0)
    require(pos.nonEmpty, "rebalanceMix: no positive target proportions")
    require(pos.values.forall(p => !p.isNaN && !p.isInfinite),
      "rebalanceMix: non-finite target proportion")
    require(pos.values.sum <= 1.0 + 1e-9,
      s"rebalanceMix: target proportions sum to ${pos.values.sum} > 1")
    val counts = df.where(col(groupCol).isin(pos.keys.toSeq: _*))
      .groupBy(col(groupCol)).count()
      .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    val n = pos.keys.map(g => math.floor(counts.getOrElse(g, 0L) / pos(g)))
      .min.toLong
    val ks = pos.map { case (g, p) => g -> math.floor(p * n).toLong }
      .filter(_._2 > 0)
    val spark = df.sparkSession
    import spark.implicits._
    if (ks.isEmpty)
      // derive the empty result from df itself so the schema (group/id
      // column TYPES) is identical to the populated path's for any idCol
      return df.select(col(groupCol), col(idCol))
        .withColumn("rank", lit(1).cast("int")).limit(0)
    val kMax = ks.values.max.toInt
    val keyed = df.where(col(groupCol).isin(ks.keys.toSeq: _*))
      .withColumn("__sample_key",
        hashBucket(col(idCol), Int.MaxValue).cast("double"))
    val kDf = broadcast(ks.toSeq.toDF(groupCol, "__k"))
    Similarity.topKPerGroup(keyed, Seq(groupCol), "__sample_key", idCol, kMax,
        ascending = true)
      .join(kDf, Seq(groupCol))
      .where(col("rank") <= col("__k"))
      .select(col(groupCol), col(idCol), col("rank"))
  }

  /**
   * Deterministic rebalance to a target mix by TOKEN budget — the unit
   * Pile/Dolma weighting actually uses (a source's contribution to training
   * is its token mass, not its document count; [[rebalanceMix]] is the
   * doc-count variant). Per targeted group g the quota is
   * q_g = floor(p_g · N) tokens with N = min_g floor(tokens_g / p_g) — the
   * largest total budget every group can supply; documents are taken in the
   * deterministic md5-key order until the quota is filled (a doc is kept
   * iff its CUMULATIVE token count stays ≤ q_g, so the selection never
   * overshoots and membership is a pure function of ids + token counts —
   * reproducible under re-partitioning and corpus growth, the same contract
   * as every other curation op).
   *
   * Scale shape: token counting is row-local; the per-group totals come
   * from one aggregate whose result is collected (group domain is
   * mix-policy-sized, bounded by `targets`). The cumulative sum is
   * TWO-PHASE so a popular source never serializes into one Window task:
   * docs hash into `shards` md5 sub-shards per group, shard subtotals
   * (|groups|·shards rows — tiny) window into per-shard offsets, and the
   * within-shard cumsum Window partitions by (group, shard) — bounded
   * parallel partitions carrying (group, id, n_tokens) only, never text.
   * The global selection order is (shard, md5-key, id): still a pure
   * function of the id. Returns (groupCol, idCol, n_tokens, cum_tokens)
   * with cum_tokens ≤ quota.
   */
  def rebalanceMixTokens(df: DataFrame, groupCol: String, idCol: String,
                         textCol: String, targets: Map[String, Double],
                         shards: Int = 64,
                         tokenizer: String = "whitespace"): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val pos = targets.filter(_._2 > 0)
    require(pos.nonEmpty, "rebalanceMixTokens: no positive target proportions")
    require(pos.values.forall(p => !p.isNaN && !p.isInfinite),
      "rebalanceMixTokens: non-finite target proportion")
    require(pos.values.sum <= 1.0 + 1e-9,
      s"rebalanceMixTokens: target proportions sum to ${pos.values.sum} > 1")
    val base = df.where(col(groupCol).isin(pos.keys.toSeq: _*))
      .select(col(groupCol), col(idCol),
        TextOps.tokenCounterFor(tokenizer)(col(textCol)).cast("long")
          .as("n_tokens"),
        hashBucket(col(idCol), shards).as("__shard"),
        hashBucket(col(idCol), Int.MaxValue).as("__key"))
    val totals = base.groupBy(col(groupCol)).agg(sum("n_tokens").as("__t"))
      .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    val n = pos.keys.map(g => math.floor(totals.getOrElse(g, 0L) / pos(g)))
      .min.toLong
    val qs = pos.map { case (g, p) => g -> math.floor(p * n).toLong }
      .filter(_._2 > 0)
    val spark = df.sparkSession
    import spark.implicits._
    if (qs.isEmpty)
      return base.select(col(groupCol), col(idCol), col("n_tokens"))
        .withColumn("cum_tokens", lit(0L)).limit(0)
    val qDf = broadcast(qs.toSeq.toDF(groupCol, "__q"))
    withCumTokens(base, groupCol, idCol)
      .join(qDf, Seq(groupCol))
      .where(col("cum_tokens") <= col("__q"))
      .select(col(groupCol), col(idCol), col("n_tokens"), col("cum_tokens"))
  }

  /** The two-phase sharded cumulative token sum shared by
    * [[rebalanceMixTokens]] and [[epochPlan]]: expects (groupCol, idCol,
    * n_tokens, __shard, __key) rows, appends `cum_tokens` = running sum in
    * (shard, key, id) order per group. Shard subtotals (|groups|·shards
    * rows) window into per-shard offsets; the per-doc Window partitions by
    * (group, shard) — bounded, parallel. */
  private def withCumTokens(base: DataFrame, groupCol: String,
                            idCol: String): DataFrame = {
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__shard"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col(groupCol), col("__shard"))
      .agg(sum("n_tokens").as("__st"))
      .withColumn("__offset", coalesce(sum(col("__st")).over(wOff), lit(0L)))
      .select(col(groupCol), col("__shard"), col("__offset"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__shard"))
      .orderBy(col("__key"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    base
      .withColumn("__within", sum(col("n_tokens")).over(wCum))
      .join(broadcast(offsets), Seq(groupCol, "__shard"))
      .withColumn("cum_tokens", col("__offset") + col("__within"))
  }

  /**
   * Deterministic UPSAMPLING plan to a target mix (the complement of
   * [[rebalanceMixTokens]]'s downsample): when a target share exceeds what
   * a group can supply in one pass, Pile/Dolma repeat the group for
   * multiple EPOCHS. With per-group token mass T_g, target p_g and an
   * `maxEpochs` repetition cap E, the plan realizes the largest total
   * budget every group can supply within the cap —
   * N = min_g floor(E · T_g / p_g), quota q_g = floor(p_g · N) — as
   * e_g = floor(q_g / T_g) FULL epochs of group g plus a partial epoch:
   * the deterministic (md5-shard, md5-key, id)-order prefix whose
   * cumulative tokens fit the remainder q_g − e_g·T_g.
   *
   * Returns one row per (doc, epoch): (groupCol, idCol, n_tokens, epoch)
   * with epoch ∈ [1, e_g] for full epochs and e_g + 1 for the partial
   * prefix — the materialized sampling plan a training run replays
   * verbatim. Determinism contract as everywhere in this family:
   * membership and epoch counts are pure functions of ids, token counts
   * and the policy. Scale shape: the full-epoch side is a row-local
   * explode of a ≤ E element sequence against a broadcast (group → e_g)
   * table; the partial side reuses the two-phase sharded cumsum; shuffles
   * carry (group, id, n_tokens) only.
   */
  def epochPlan(df: DataFrame, groupCol: String, idCol: String,
                textCol: String, targets: Map[String, Double],
                maxEpochs: Int = 4, shards: Int = 64,
                tokenizer: String = "whitespace"): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    require(shards > 0, s"shards must be positive, got $shards")
    val pos = targets.filter(_._2 > 0)
    require(pos.nonEmpty, "epochPlan: no positive target proportions")
    require(pos.values.forall(p => !p.isNaN && !p.isInfinite),
      "epochPlan: non-finite target proportion")
    require(pos.values.sum <= 1.0 + 1e-9,
      s"epochPlan: target proportions sum to ${pos.values.sum} > 1")
    val base = df.where(col(groupCol).isin(pos.keys.toSeq: _*))
      .select(col(groupCol), col(idCol),
        TextOps.tokenCounterFor(tokenizer)(col(textCol)).cast("long")
          .as("n_tokens"),
        hashBucket(col(idCol), shards).as("__shard"),
        hashBucket(col(idCol), Int.MaxValue).as("__key"))
    val totals = base.groupBy(col(groupCol)).agg(sum("n_tokens").as("__t"))
      .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    val n = pos.keys
      .map(g => math.floor(maxEpochs.toDouble * totals.getOrElse(g, 0L) / pos(g)))
      .min.toLong
    // per group: quota, full epochs, remainder tokens for the partial epoch
    val plan = pos.keys.toSeq.map { g =>
      val q = math.floor(pos(g) * n).toLong
      val t = totals.getOrElse(g, 0L)
      val e = if (t == 0L) 0L else q / t
      (g, e, q - e * t)
    }.filter { case (_, e, rem) => e > 0 || rem > 0 }
    val spark = df.sparkSession
    import spark.implicits._
    if (plan.isEmpty)
      return base.select(col(groupCol), col(idCol), col("n_tokens"))
        .withColumn("epoch", lit(1L)).limit(0)
    val planDf = broadcast(plan.toDF(groupCol, "__e", "__rem"))
    val joined = base.join(planDf, Seq(groupCol))
    val fullEpochs = joined
      .select(col(groupCol), col(idCol), col("n_tokens"),
        explode(when(col("__e") >= 1, sequence(lit(1L), col("__e")))
          .otherwise(array().cast("array<long>"))).as("epoch"))
    val partial = withCumTokens(joined, groupCol, idCol)
      .where(col("cum_tokens") <= col("__rem"))
      .select(col(groupCol), col(idCol), col("n_tokens"),
        (col("__e") + 1L).as("epoch"))
    fullEpochs.unionByName(partial)
  }

  /**
   * C4/RefinedWeb-style boilerplate LINE removal: delete every line whose
   * exact content recurs in ≥ `minDocs` DISTINCT documents (nav menus,
   * cookie banners, copyright footers — C4 [Raffel et al. 2020,
   * arXiv:1910.10683 §2.2] drops any three-sentence span occurring more than
   * once; RefinedWeb [Penedo et al. 2023, arXiv:2306.01116] removes repeated
   * lines). Blank / whitespace-only lines are structural, not boilerplate —
   * they are never counted and never removed, so paragraph breaks survive.
   *
   * Scale shape — document text never enters an exchange:
   *  1. row-local split + per-line dual content fingerprint
   *     (xxhash64, sha2-256 — the [[Dedup.exactGroups]] collision argument);
   *     the shuffle carries (fingerprint, doc id) pairs;
   *  2. the hot-line set is an aggregate on the fingerprints
   *     (count_distinct(doc) ≥ minDocs) — corpus-frequency-sized, tiny;
   *  3. per-doc REMOVAL SETS (line indexes) come back as ids-only rows,
   *     aggregated to one int array per affected doc;
   *  4. reconstruction joins the removal set to the original row and drops
   *     the listed indexes with a row-local indexed `filter` — the lambda
   *     runs once per LINE (chunk-density, like [[TextOps.chunkTokens]]'s
   *     per-chunk lambda), not per character or token.
   * Untouched documents reconstruct byte-identically (split + join on the
   * same delimiter is the identity when nothing is dropped).
   *
   * Returns every input row as (idCol, clean_text, n_dropped_lines).
   */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .where(length(trim(col("line"))) > 0)
      .select(col(idCol), col("line_no"),
        xxhash64(col("line")).as("__h64"), sha2(col("line"), 256).as("__hsha"))
    val hot = lines.groupBy(col("__h64"), col("__hsha"))
      .agg(count_distinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select("__h64", "__hsha")
    val drops = lines.join(hot, Seq("__h64", "__hsha"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("line_no"))).as("__drop"))
    df.join(drops, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__drop").isNull, col(textCol)).otherwise(
          array_join(filter(split(col(textCol), "\n"),
            (_, i) => !array_contains(col("__drop"), i)), "\n")).as("clean_text"),
        coalesce(size(col("__drop")), lit(0)).cast("int").as("n_dropped_lines"))
  }

  /**
   * Corpus-wide exact PARAGRAPH dedup with keep-first (the Dolma/RefinedWeb
   * paragraph-level stage): every repeated occurrence of a text unit
   * (delimiter-split; `"\n"` = lines, `"\n\n"` = blank-line paragraphs) is
   * dropped EXCEPT the globally first — lowest (doc id, position), which
   * makes the keep policy deterministic and partitioning-independent.
   * Distinct from [[removeBoilerplateLines]] (which removes ALL occurrences
   * of corpus-hot lines, keeper included) and from [[cutRepeatedSpans]]
   * (token k-gram spans, not unit-aligned): this is the cheap exact pass a
   * pipeline runs BEFORE fuzzy span/doc dedup.
   *
   * Scale shape: the shuffles carry (fingerprint, id, pos) rows only —
   * text never rides an exchange; the keeper per fingerprint is ONE
   * min(struct(id, pos)) aggregate (map-side partial, so a viral paragraph
   * duplicated across millions of docs combines before the shuffle, no hot
   * key); per-doc removal sets come back as one int array per affected doc
   * and reconstruction is a row-local indexed `filter` over the same split
   * (the lambda runs once per UNIT). Dual (xxhash64, sha256) fingerprints
   * make a collision-caused wrong drop astronomically unlikely.
   * Whitespace-only units are never fingerprinted (document structure is
   * preserved); untouched documents pass through byte-identically.
   *
   * Returns every input row as (idCol, clean_text, n_dropped_paras).
   */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      delim: String = "\n\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(delim)
    val paras = df.select(col(idCol),
        posexplode(split(col(textCol), quoted)).as(Seq("para_no", "para")))
      .where(length(trim(col("para"))) > 0)
      .select(col(idCol), col("para_no"),
        xxhash64(col("para")).as("__h64"), sha2(col("para"), 256).as("__hsha"))
    val keep = paras.groupBy(col("__h64"), col("__hsha"))
      .agg(min(struct(col(idCol), col("para_no"))).as("__k"),
        count(lit(1)).as("__n"))
      .where(col("__n") > 1)
      .select(col("__h64"), col("__hsha"),
        col("__k").getField(idCol).as("__kid"),
        col("__k").getField("para_no").as("__kpos"))
    val drops = paras.join(keep, Seq("__h64", "__hsha"))
      .where(!(col(idCol) === col("__kid") && col("para_no") === col("__kpos")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("para_no"))).as("__drop"))
    df.join(drops, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__drop").isNull, col(textCol)).otherwise(
          array_join(filter(split(col(textCol), quoted),
            (_, i) => !array_contains(col("__drop"), i)), delim)).as("clean_text"),
        coalesce(size(col("__drop")), lit(0)).cast("int").as("n_dropped_paras"))
  }

  /** The distinct unit-fingerprint stage [[dedupParagraphs]] keys on,
    * exposed for persistence: (fp_key, __h64, __hsha) — one row per distinct
    * non-blank unit in `df`. `fp_key` is the [[graft.sink.SnapshotSink
    * .appendMissing]] resume key, so re-curation of a grown corpus appends
    * genuinely new units only. */
  def paragraphFingerprints(df: DataFrame, idCol: String, textCol: String,
                            delim: String = "\n\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(delim)
    df.select(explode(split(col(textCol), quoted)).as("para"))
      .where(length(trim(col("para"))) > 0)
      .select(xxhash64(col("para")).as("__h64"),
        sha2(col("para"), 256).as("__hsha"))
      .distinct()
      .select(concat_ws(":", col("__h64"), col("__hsha")).as("fp_key"),
        col("__h64"), col("__hsha"))
  }

  /** Persist [[paragraphFingerprints]] of `df` into a
    * [[graft.sink.SnapshotSink]] table (resume-safe). The delimiter is the
    * table's sink format: an append or a [[readParagraphFingerprints]] under
    * another delimiter is refused — unit boundaries ARE the dedup semantics. */
  def persistParagraphFingerprints(df: DataFrame, table: String, idCol: String,
                                   textCol: String,
                                   delim: String = "\n\n"): Unit = {
    graft.sink.SnapshotSink.appendMissing(
      paragraphFingerprints(df, idCol, textCol, delim), table, "fp_key",
      Seq.empty, format = fingerprintFormat(delim))
    ()
  }

  private def fingerprintFormat(delim: String): Map[String, String] =
    Map("op" -> "paragraph_fingerprints",
      "delim_hex" -> delim.getBytes("UTF-8").map("%02x".format(_)).mkString)

  /** Read a [[persistParagraphFingerprints]] table back for
    * [[dedupParagraphsIncremental]]; the sink refuses a table built with
    * another delimiter. */
  def readParagraphFingerprints(spark: org.apache.spark.sql.SparkSession,
                                table: String,
                                delim: String = "\n\n"): DataFrame =
    graft.sink.SnapshotSink.read(spark, table, fingerprintFormat(delim))

  /**
   * INCREMENTAL [[dedupParagraphs]] — keep-first exact unit dedup of a NEW
   * batch against a persisted fingerprint history: any unit whose
   * fingerprint is already in `seenFps` is dropped from every new document
   * (its keeper lives in the old corpus); units first seen in this batch
   * keep their batch-first occurrence. With ids ascending batch-over-batch,
   *   full(old ∪ new) restricted to new ids ≡ incremental(new, fps(old))
   * exactly (CurationSpec). Single-pass shape: the new batch's units are
   * exploded ONCE, disposition is one fingerprint left-join (old side is a
   * hash-only columnar scan — old text is never re-read, the point of the
   * incremental regime) plus one rank-within-fingerprint window that reuses
   * the join's hash partitioning; reconstruction is the same row-local
   * indexed filter as the batch operator.
   */
  def dedupParagraphsIncremental(newBatch: DataFrame, seenFps: DataFrame,
                                 idCol: String, textCol: String,
                                 delim: String = "\n\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(delim)
    val paras = newBatch.select(col(idCol),
        posexplode(split(col(textCol), quoted)).as(Seq("para_no", "para")))
      .where(length(trim(col("para"))) > 0)
      .select(col(idCol), col("para_no"),
        xxhash64(col("para")).as("__h64"), sha2(col("para"), 256).as("__hsha"))
    val hist = seenFps.select(col("__h64"), col("__hsha"))
      .withColumn("__seen", lit(true))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h64"), col("__hsha"))
      .orderBy(col(idCol), col("para_no"))
    val drops = paras.join(hist, Seq("__h64", "__hsha"), "left")
      .withColumn("__rn", row_number().over(w))
      .where(coalesce(col("__seen"), lit(false)) || col("__rn") > 1)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("para_no"))).as("__drop"))
    newBatch.join(drops, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__drop").isNull, col(textCol)).otherwise(
          array_join(filter(split(col(textCol), quoted),
            (_, i) => !array_contains(col("__drop"), i)), delim)).as("clean_text"),
        coalesce(size(col("__drop")), lit(0)).cast("int").as("n_dropped_paras"))
  }

  /**
   * Cut cross-document repeated spans, keeping ONE occurrence corpus-wide
   * (Lee et al. 2021, arXiv:2107.06499 §4: remove every repeat of a span,
   * leaving a single copy — span-level dedup, the complement of the
   * doc-level operators). Span discovery is [[Dedup.repeatedSpans]]
   * (positional k-grams → capped inverted index → diagonal islands); the
   * keep-one policy is deterministic and partitioning-independent: the
   * occurrence in the LOWEST doc id survives, every other occurrence is
   * cut. Since `repeatedSpans` emits (id_a < id_b), that is exactly "cut
   * the id_b side of every span row" — a doc's occurrence survives iff no
   * lower-id doc carries the same span.
   *
   * Scale shape: spans are ids+ints only (never text) through the whole
   * plan; per-doc cut ranges aggregate to one array<struct<int,int>> row
   * (bounded by the span count a doc participates in, itself bounded by
   * the `maxOccurrences` cap upstream); reconstruction is ONE left join of
   * that ids-sized side onto the corpus plus a row-local compiled
   * expression ([[graft.functions.TextExpressions.DropTokenRanges]]).
   * Overlapping ranges (the same boilerplate matched in many partner docs)
   * merge inside the expression, so double-counting is impossible.
   *
   * Returns every input row as (idCol, clean_text, n_cut_tokens) where
   * n_cut_tokens counts tokens actually removed (post-merge). Untouched
   * docs pass their text through verbatim. `minSpanTokens` (default: the
   * k-gram width, i.e. every detected span) raises the Lee-style cut
   * threshold — e.g. k=13 fingerprints with minSpanTokens=50.
   *
   * `withinDoc = true` additionally cuts a document's OWN internal repeats
   * ([[Dedup.withinDocRepeatedSpans]]'s semantics): for every maximal
   * (earlier, later) occurrence pair the LATER occurrence is cut, so
   * exactly the first copy survives (overlap-period repeats collapse
   * inside the range merge). Both discoveries come from ONE persisted
   * positional k-gram stage and ONE pair join
   * ([[Dedup.repeatedSpanCutSides]]) — the corpus is shingled once however
   * many span families are being cut, and the shuffles carry
   * fingerprints/ids only, never text.
   */
  def cutRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                       k: Int, minSpanTokens: Int = 0,
                       maxOccurrences: Int = 1000,
                       withinDoc: Boolean = false): DataFrame = {
    val minLen = math.max(k, minSpanTokens)
    val spans = Dedup.repeatedSpanCutSides(df, idCol, textCol, k,
        maxOccurrences, withinDoc)
      .where(col("span_tokens") >= minLen)
    val cuts = spans
      .select(col(idCol),
        struct(col("start_b").cast("int").as("start"),
          col("span_tokens").cast("int").as("len")).as("__r"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__r"))).as("__ranges"))
    val tokCount = (t: Column) =>
      when(length(trim(t)) === 0, lit(0))
        .otherwise(size(split(trim(t), "\\s+")))
    df.join(cuts, Seq(idCol), "left")
      .select(col(idCol), col(textCol).as("__orig"),
        coalesce(
          graft.functions.TextExpressions.drop_token_ranges(
            col(textCol), col("__ranges")),
          col(textCol)).as("clean_text"))
      .select(col(idCol), col("clean_text"),
        (tokCount(col("__orig")) - tokCount(col("clean_text")))
          .cast("int").as("n_cut_tokens"))
  }
}
