package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextExpressions.word_shingles

/**
 * DSIR-shaped data selection: hashed n-gram importance resampling
 * (Xie et al. 2023, arXiv:2302.03169). Given a small TARGET corpus (the
 * distribution you want more of — e.g. encyclopedia/book-quality text) and
 * a large RAW corpus, fit two hashed bag-of-n-grams multinomials and
 * select raw documents with probability ∝ their importance weight
 * p̂_target(doc)/p̂_raw(doc) — Gumbel-top-k makes the sampling exact,
 * deterministic and replayable.
 *
 * Spark shape (the 100 TB path):
 *  - Feature hashing collapses the unbounded n-gram vocabulary to a fixed
 *    `buckets`-sized table BEFORE any exchange: the corpus scans explode
 *    word uni+bigrams but project each down to `bucket = md5-hash % B` in
 *    the same stage, so the shuffle carries (bucket) longs with map-side
 *    partial counts — never n-gram text. The fitted model is ≤ B rows.
 *  - Scoring joins the BROADCAST ratio table and aggregates per doc with
 *    partial combine; the raw corpus is scanned once, text never shuffles.
 *  - Selection is `orderBy(key desc).limit(n)` = TakeOrderedAndProject —
 *    a distributed bounded top-k, no global sort materialization.
 *
 * The hash is the md5-prefix idiom ([[Curation.hashBucket]]) so every
 * stage — fit, score, Gumbel noise, selection — replays verbatim in the
 * DuckDB oracle (a faster non-cryptographic hash would be rows-only; the
 * paper's estimator is hash-agnostic). [[graft.functions.DsirExpressions]]
 * carries the fitted model as a broadcast double array for row-local
 * scoring — the streaming / low-latency twin, arithmetic-identical up to
 * summation order.
 */
object Dsir {

  /** First 8 hex chars of md5 as an unsigned 32-bit value — identical to
    * DuckDB's CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT). */
  private def md5u32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  private def bucketOf(ngram: Column, buckets: Int): Column =
    pmod(md5u32(ngram), lit(buckets.toLong)).cast("int")

  /** Word uni+bigram shingles (the paper's feature set), via the native
    * codegen'd shingle expression — tokenization is trim + split(\s+). */
  private def ngrams(text: Column): Column =
    concat(word_shingles(text, 1), word_shingles(text, 2))

  /** Fitted importance model. `ratios` is ≤ `buckets` rows of
    * (bucket, log_ratio) where log_ratio = log p̂_target(b) − log p̂_raw(b)
    * under add-α smoothing; buckets unseen in BOTH corpora fall back to
    * `defaultLogRatio` (same formula at count 0). Persisted — call
    * [[release]] when done (idempotent). */
  final case class DsirModel(ratios: DataFrame, defaultLogRatio: Double,
                             buckets: Int, alpha: Double,
                             targetTotal: Long, rawTotal: Long) {
    def release(): Unit = { ratios.unpersist(blocking = false); () }
  }

  /** Hashed n-gram occurrence counts: (bucket, cnt), ≤ `buckets` rows. */
  def bucketCounts(df: DataFrame, textCol: String, buckets: Int): DataFrame =
    df.select(explode(ngrams(col(textCol))).as("ng"))
      .select(bucketOf(col("ng"), buckets).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .coalesce(TextOps.inputScaleParts(df))

  /** Fit the target/raw multinomials and their per-bucket log ratio.
    * Two corpus scans (one per side); the two totals are single-row
    * collects off already-aggregated ≤ B-row tables. */
  def dsirModel(raw: DataFrame, target: DataFrame, textCol: String,
                buckets: Int = 8192, alpha: Double = 1.0): DsirModel = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val tc = bucketCounts(target, textCol, buckets)
      .withColumnRenamed("cnt", "ct").persist(StorageLevel.MEMORY_AND_DISK)
    val rc = bucketCounts(raw, textCol, buckets)
      .withColumnRenamed("cnt", "cr").persist(StorageLevel.MEMORY_AND_DISK)
    // ONE action for both totals (the two 1-row aggregates union and their
    // cached count stages materialize inside the same job) — the former
    // two head() calls paid two job barriers for two scalars. Each row
    // carries its side, so the totals never depend on union row order.
    def total(counts: DataFrame, cnt: String, side: String): DataFrame =
      counts.agg(coalesce(sum(cnt), lit(0L)).as("tot"))
        .select(lit(side).as("side"), col("tot"))
    val tots = total(tc, "ct", "target").unionByName(total(rc, "cr", "raw"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totT = tots("target")
    val totR = tots("raw")
    val denomT = totT + alpha * buckets
    val denomR = totR + alpha * buckets
    val ratios = tc.join(rc, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)) + alpha) / denomT)
          - log((coalesce(col("cr"), lit(0L)) + alpha) / denomR))
          .as("log_ratio"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    ratios.count() // materialize before releasing the count stages
    tc.unpersist(blocking = false)
    rc.unpersist(blocking = false)
    val default = math.log(alpha / denomT) - math.log(alpha / denomR)
    DsirModel(ratios, default, buckets, alpha, totT, totR)
  }

  /** Per-document log importance weight: (idCol, n_ngrams, log_weight)
    * where log_weight = Σ over n-gram occurrences of the bucket's
    * log_ratio. Documents with no tokens are absent (no features — the
    * lmScore contract). One corpus scan; model broadcast. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  model: DsirModel): DataFrame =
    docs.select(col(idCol), explode(ngrams(col(textCol))).as("ng"))
      .select(col(idCol), bucketOf(col("ng"), model.buckets).as("bucket"))
      .join(broadcast(model.ratios), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("log_ratio"), lit(model.defaultLogRatio)))
          .as("log_weight"))

  /** Select `n` documents WITHOUT replacement with probability ∝ exp(log
    * importance weight) via Gumbel-top-k (Vieira 2014): key = log_weight +
    * Gumbel(0,1) noise seeded from md5(id:seed) — a pure function of the
    * id, so the sample is deterministic, replayable, and stable under
    * repartitioning. Returns (idCol, n_ngrams, log_weight, gumbel_key) for
    * the selected set. */
  def dsirResample(docs: DataFrame, idCol: String, textCol: String,
                   model: DsirModel, n: Int,
                   seed: String = "dsir"): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val h = md5u32(concat(col(idCol).cast("string"), lit(":" + seed)))
    val u = (h + lit(0.5)) / lit(4294967296.0) // strictly inside (0, 1)
    dsirWeights(docs, idCol, textCol, model)
      .withColumn("gumbel_key", col("log_weight") + -log(-log(u)))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(n)
  }

  /** Driver-collected model for the broadcast row-local scoring twin
    * ([[graft.functions.DsirExpressions.dsir_score]]): a dense
    * buckets-sized double array (default-filled, observed buckets set).
    * Guarded — refuses silently huge models. */
  def collectDsir(model: DsirModel,
                  maxBuckets: Int = 1 << 24): Array[Double] = {
    require(model.buckets <= maxBuckets,
      s"model has ${model.buckets} buckets > maxBuckets $maxBuckets — " +
        "raise the cap explicitly or use the join-based dsirWeights")
    val arr = Array.fill(model.buckets)(model.defaultLogRatio)
    model.ratios.collect().foreach { r =>
      arr(r.getInt(0)) = r.getDouble(1)
    }
    arr
  }
}
