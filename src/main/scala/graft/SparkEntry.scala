package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Curation, Dedup, Dsir, Similarity, TextOps}
import graft.sources.Sources
import graft.temporal.Temporal

/**
 * Driver contract — one `queries` entry per implemented operator family
 * (SURVEY.md §2), with DuckDB-runnable `oracleSql` equivalents where the
 * semantics are SQL-expressible. Numeric outputs are normalized (DOUBLE /
 * BIGINT, decimal-cast sums, round(…, 6)) so the value-hash compare is
 * engine-independent; every query carries a deterministic total ORDER BY.
 */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Sources.parquet(spark, s"$dir/$name.parquet")

  /** The one input-spread rule: the partition count of table `name` is
    * [[sizeSpreadParts]]. At one partition the input is coalesced to a
    * single partition, whose `SinglePartition` output satisfies every
    * required distribution, so a scorer, Window or aggregate and the final
    * sort over it run as one stage with no exchange and no range-sampling
    * job. Above one partition `spread` applies the count. */
  private def spreadInput(spark: SparkSession, dir: String, name: String,
                          input: DataFrame)(
      spread: (DataFrame, Int) => DataFrame): DataFrame = {
    val parts = sizeSpreadParts(spark, dir, name)
    if (parts == 1) input.coalesce(1) else spread(input, parts)
  }

  /** A round-robin spread to `parts` partitions, or `input` itself when
    * its scan already reads that many files in that many splits (a
    * many-file table needs no shuffle to spread). Both counts are needed: a
    * single file split below its row-group size has more splits than
    * non-empty ones, and tiny files pack into one split. Neither count
    * starts a job. */
  private def roundRobin(input: DataFrame, parts: Int): DataFrame =
    if (math.min(input.inputFiles.length, input.rdd.getNumPartitions) >= parts) input
    else input.repartition(parts)

  /** Table `name`'s scan, coalesced to one partition when it fits one
    * ([[spreadInput]]) and left as it is above that — for the Window and
    * as-of queries, whose own exchanges cluster the scan. */
  private def scanSized(spark: SparkSession, dir: String, name: String): DataFrame =
    spreadInput(spark, dir, name, t(spark, dir, name))((scan, _) => scan)

  /** The documents table spread by range of `doc_id` over a size-derived
    * partition count ([[spreadInput]]), for the row-local queries
    * presented in `doc_id` order. documents is ONE small parquet file, so
    * without an explicit spread every row-local chain over it runs in a
    * SINGLE scan task (the CLAUDE.md single-file trap — at production scale
    * parallelism comes from file count). Spreading by range on the
    * presentation key lets the final `orderBy("doc_id")` take the spread's
    * RangePartitioning as its own: the sort plans no exchange, the range
    * sampling job reads only the scan, and the scorer runs once, in tasks
    * that AQE does not coalesce (REPARTITION_BY_NUM). A round-robin spread
    * leaves the sort its own range exchange, whose sampling job re-runs the
    * whole scorer chain. Each spread task also sorts, and every sort task
    * takes a full Tungsten page, so the count follows the table's size, not
    * the core count. A table that fits one partition is coalesced to one
    * instead: the scorer and the sort run as one stage with no exchange.
    * Queries whose spread feeds a shuffle first keep a round-robin spread
    * ([[docsSpreadSized]], `q_pack_sequences`). */
  private def docsSpread(spark: SparkSession, dir: String): DataFrame =
    spreadInput(spark, dir, "documents", t(spark, dir, "documents"))(
      (scan, parts) => scan.repartitionByRange(parts, col("doc_id")))

  /** Partition count derived from the table's on-disk size (guide §2:
    * scale-ADAPTIVE spread, never a constant tuned to the host): one
    * partition per ~128 KB of parquet, clamped to [1, defaultParallelism].
    * Rationale, measured this round: the per-document work of the dedup
    * family (shingle+hash ≈ 20 µs, minhash bundle ≈ 30 µs) is microscopic
    * next to Spark's per-task/per-stage fixed costs at full width — 32-way
    * spreads made every one of the family's ~8 exchanges pay 32 shuffle
    * writers × 32 bucket files plus a 32-task codegen-compile lock convoy
    * per stage, which dominated the dedup queries end-to-end. A size-derived
    * count keeps the spread proportional to the data (it GROWS to the full
    * width on a bigger corpus) instead of inheriting the core count. The
    * size comes from the path's Hadoop FileSystem, so `file:`, `hdfs:` and
    * `s3a:` tables are sized like plain local paths. A table under 256 KB
    * gets one partition, and [[spreadInput]] plans no exchange over it. */
  private def sizeSpreadParts(spark: SparkSession, dir: String,
                              name: String): Int = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val bytes = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(path).getLength
    math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (bytes / (128L * 1024)).toInt))
  }

  /** documents spread round-robin ([[spreadInput]], [[roundRobin]]) over
    * the size-derived count, for the queries whose spread feeds a shuffle
    * first (dedup, LM, vocabulary and n-gram aggregates) or explodes rows
    * before its sort (`q_chunk_tokens`, measured slower under a range
    * spread at sf0.1). A table that fits one partition is coalesced to
    * one; a scan that already has the count is not spread again. */
  private def docsSpreadSized(spark: SparkSession, dir: String): DataFrame =
    spreadInput(spark, dir, "documents", t(spark, dir, "documents"))(roundRobin)

  /** Deterministic IVFPQ model minted from the first 16 embeddings —
    * SHARED by q_embed_ivfpq and q_embed_rerank, whose DuckDB oracles both
    * hardcode this exact construction (8 centroids from the head, m=8
    * sub-blocks of length dim/8, k_s=16 codewords carved from the same 16
    * vectors); a drift between the two queries would silently desync one
    * oracle. Returns (head vectors, coarse centroids, PQ model). */
  private def mintIvfPq(emb: DataFrame)
      : (Array[Array[Double]], Array[Array[Double]], graft.kernels.Kernels.PqModel) = {
    val head = emb.where(col("vec_id") < 16).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val centroids = head.take(8)
    val dim = head(0).length
    val m = 8; val kS = 16; val subLen = dim / m
    val pq = graft.kernels.Kernels.PqModel(Array.tabulate(m)(j =>
      Array.tabulate(kS)(i =>
        java.util.Arrays.copyOfRange(head(i), j * subLen, (j + 1) * subLen))))
    (head, centroids, pq)
  }

  /** DuckDB replay of [[graft.operators.Curation.stripMarkup]]: the same
    * regexp_replace chain over `inner`, patterns interpolated from the SAME
    * Curation constants (RE2 ∩ Java regex by construction — no lookaround,
    * no backreferences), newline replacements as chr(10). */
  private def stripMarkupOracleExpr(inner: String): String = {
    def q(s: String) = s.replace("'", "''")
    val C = graft.operators.Curation
    var e = inner
    def rr(pat: String, repSql: String): Unit =
      e = s"regexp_replace($e, '${q(pat)}', $repSql, 'g')"
    rr(C.scriptBlockPattern, "''")
    rr(C.styleBlockPattern, "''")
    rr(C.htmlCommentPattern, "''")
    rr(C.blockBreakPattern, "chr(10)")
    rr(C.tagPattern, "' '")
    C.entityReplacementsPre.foreach { case (p, r) => rr(p, s"'${q(r)}'") }
    e = decodeNumericEntitiesOracleExpr(e)
    rr(C.ampReplacement._1, s"'${q(C.ampReplacement._2)}'")
    rr(C.hspacePattern, "' '")
    rr(C.nlTrimPattern, "chr(10)")
    rr(C.blankRunPattern, "chr(10) || chr(10)")
    rr(C.edgeTrimPattern, "''")
    e
  }

  /** DuckDB replay of
    * [[graft.functions.TextExpressions.DecodeNumericEntities]]: tokenize on
    * the SAME bounded entity alternation (`[^&]+|&` keeps non-entity text
    * verbatim and covers every position, so string_agg reassembles the
    * exact input where nothing decodes), chr() valid codes (1..0x10FFFF
    * minus surrogates), pass invalid tokens through unchanged. */
  private def decodeNumericEntitiesOracleExpr(e: String): String = {
    val hexV = "CAST(concat('0x', substr(p, 4, length(p)-4)) AS BIGINT)"
    val decV = "CAST(substr(p, 3, length(p)-3) AS BIGINT)"
    def valid(v: String) =
      s"$v BETWEEN 1 AND 1114111 AND NOT $v BETWEEN 55296 AND 57343"
    s"COALESCE(list_aggr(list_transform(regexp_extract_all($e, " +
      "'&#[0-9]{1,7};|&#[xX][0-9a-fA-F]{1,6};|[^&]+|&'), " +
      "p -> CASE " +
      s"WHEN regexp_matches(p, '^&#[xX]') THEN " +
      s"CASE WHEN ${valid(hexV)} THEN chr(CAST($hexV AS INT)) ELSE p END " +
      s"WHEN regexp_matches(p, '^&#') THEN " +
      s"CASE WHEN ${valid(decV)} THEN chr(CAST($decV AS INT)) ELSE p END " +
      "ELSE p END), 'string_agg', ''), '')"
  }

  /** Deterministic near-duplicate injection for the dedup operators: the
    * first `n` documents are re-emitted with doc_id+1000000 and one token
    * appended — same construction in the SQL oracle. */
  private def docsWithDupes(spark: SparkSession, dir: String, n: Int = 20,
                            maxDocs: Long = Long.MaxValue): DataFrame = {
    // the testdata documents table is ONE small parquet file → one scan
    // partition; spread the (CPU-heavy) shingle/signature work across cores
    // the way a many-file production table would be. Repartition ONCE after
    // the union: the former per-branch repartition gave every downstream
    // stage 2×cores partitions — at this row count the per-task fixed cost
    // dominates, and one exchange replaces two.
    val docs = t(spark, dir, "documents").where(col("doc_id") < maxDocs)
    val dupes = docs.where(col("doc_id") < n)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    spreadInput(spark, dir, "documents",
      docs.select("doc_id", "text").unionByName(dupes))(roundRobin)
  }

  /** Documents with deterministic INTERNAL repeats (every 7th doc's text is
    * self-concatenated) plus a few padded cross-doc clones — the fixture for
    * the within-document span operators. The clones of %7 docs carry internal
    * repeats of their own, so cross-doc and within-doc cut ranges overlap and
    * the range merge is exercised end-to-end. */
  private def docsWithSelfRepeats(spark: SparkSession, dir: String): DataFrame = {
    val base = spreadInput(spark, dir, "documents",
      t(spark, dir, "documents").where(col("doc_id") < 200))(roundRobin)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
    base.unionByName(base.where(col("doc_id") < 10)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(lit("pad1 pad2 "), col("text")).as("text")))
  }

  private def embWithDupes(spark: SparkSession, dir: String, n: Int = 10): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    emb.select("vec_id", "embedding").unionByName(
      emb.where(col("vec_id") < n)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
  }

  /** Flagship: end-to-end image feature pipeline on sf0.001-scale synthetic
    * image table (decode → extract → VLAD → PCA → PQ → as-of model join). */
  def entry(spark: SparkSession): DataFrame =
    queries("q_image_pipeline")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    relationalQueries ++ ImageQueries.queries

  private val relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------------------------------------------------- aggregation
    // TPC-H Q1 shape: wide scan → hash agg; decimal-cast sums for
    // engine-independent exactness (A1-family rollup diagnostics, SURVEY §2.6).
    "q_agg_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(20, 6))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(20, 6))).cast("double").as("sum_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(20, 6))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Two-phase skew-salted aggregation (SURVEY §4 shuffle plan): salt on a
    // hash of the row, partial agg per (key, salt), then final agg per key —
    // result identical to a plain groupBy, which is the oracle.
    "q_skew_salted_agg" -> ((s, dir) => {
      val salted = Temporal.withSalt(
        t(s, dir, "lineitem"), xxhash64(col("l_orderkey"), col("l_linenumber")), 32)
      salted
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(sum(col("l_quantity").cast(DecimalType(20, 6))).as("pq"),
          count(lit(1)).as("pn"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("pq")).cast("double").as("sum_qty"), sum(col("pn")).as("n"))
        .orderBy("l_returnflag")
    }),

    // --------------------------------------------------------------- joins
    // Broadcast-hash join chain + agg (J1–J3 family).
    "q_join_agg" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val nation = t(s, dir, "nation").select("n_nationkey", "n_name")
      t(s, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("o_totalprice").cast(DecimalType(20, 6))).cast("double")
          .as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    }),

    // Three-way join + grouped agg + ordered limit (TPC-H Q3 shape): the
    // classic multi-join plan — two shuffle joins feeding a partial/final
    // agg and a TakeOrderedAndProject.
    "q_shipping_priority" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") < lit("1998-06-01"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1998-06-01"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          col("o_orderdate").cast("timestamp").cast("long").as("order_epoch"),
          col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(20, 6))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(20)
    }),

    // Left-anti join — the reference's idempotent-resume mechanism (F2,
    // ds/AbstractSearchStructure.java:537–546).
    "q_anti_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"))
      t(s, dir, "orders")
        .join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey").orderBy("o_orderkey")
    }),

    "q_semi_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"))
      t(s, dir, "orders")
        .join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey").orderBy("o_orderkey")
    }),

    // Set difference (§2.8): resume = full input EXCEPT already-written keys
    // (the F2 pattern as a set op — plans as a distinct left-anti).
    "q_except" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"))
        .except(t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey")))
        .orderBy("o_orderkey")
    }),

    // Point-in-time as-of join (J4 / north rule): each event binds the latest
    // order of the same customer with o_orderdate <= ts; version side is
    // deduped to one row per (key, ts) so validity intervals are unique.
    "q_asof_join" -> ((s, dir) => {
      val versions = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      Temporal.asOfJoin(
        t(s, dir, "events").select("event_id", "user_id", "ts"),
        versions, leftTs = "ts", rightTs = "o_orderdate", keys = Seq("user_id"))
        .select(col("event_id"), col("o_orderkey"),
          col("asof_o_orderdate").cast("timestamp").cast("long").as("asof_epoch"))
        .orderBy("event_id")
    }),

    // As-of with a staleness bound (feature-eng "max staleness"): bind each
    // event to the user's latest PURCHASE no older than 1 hour; events whose
    // last purchase is staler drop out (inner join).
    // Forward as-of: each order binds the EARLIEST event of its customer
    // with ts >= o_orderdate (the "next observation after this point"
    // direction — mirror of the backward model binding).
    "q_asof_forward" -> ((s, dir) => {
      val evs = scanSized(s, dir, "events")
        .groupBy(col("user_id"), col("ts"))
        .agg(min(col("event_id")).as("event_id"))
      Temporal.asOfJoinForward(
        t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey").as("user_id"), col("o_orderdate")),
        evs, leftTs = "o_orderdate", rightTs = "ts", keys = Seq("user_id"))
        .select(col("o_orderkey"), col("event_id"),
          col("asof_ts").cast("timestamp").cast("long").as("next_epoch"))
        .orderBy("o_orderkey")
    }),

    "q_asof_tolerance" -> ((s, dir) => {
      val purchases = scanSized(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("purchase_ts"))
        .agg(max(col("event_id")).as("purchase_event"))
      Temporal.asOfJoin(
        scanSized(s, dir, "events").select("event_id", "user_id", "ts"),
        purchases, leftTs = "ts", rightTs = "purchase_ts", keys = Seq("user_id"),
        lookback = Some(expr("INTERVAL 1 HOUR")))
        .select(col("event_id"), col("purchase_event"),
          col("asof_purchase_ts").cast("timestamp").cast("long").as("asof_epoch"))
        .orderBy("event_id")
    }),

    // ------------------------------------------------------------- windows
    // Forward-fill (backfill) of a sparsely-observed value per entity.
    "q_backfill" -> ((s, dir) => {
      val ev = scanSized(s, dir, "events").withColumn("purchase_value",
        when(col("event_type") === "purchase", col("value")))
      Temporal.backfill(ev, Seq("user_id"), Seq("ts", "event_id"), Seq("purchase_value"))
        .select(col("event_id"),
          round(col("purchase_value_filled"), 6).as("last_purchase_value"))
        .orderBy("event_id")
    }),

    "q_lag_lead" -> ((s, dir) => {
      Temporal.lagLead(scanSized(s, dir, "events"), Seq("user_id"), Seq("ts", "event_id"),
        "value", Seq(1))
        .select(col("event_id"), round(col("value_lag1"), 6).as("value_lag1"),
          round(col("value_lead1"), 6).as("value_lead1"))
        .orderBy("event_id")
    }),

    // Sessionize: 30-minute inactivity gap starts a new session.
    "q_sessionize" -> ((s, dir) => {
      Temporal.sessionize(scanSized(s, dir, "events"), Seq("user_id"), "ts", 1800,
        tieBreakCols = Seq("event_id"))
        .select(col("event_id"), col("session_id_seq").cast("long").as("session_seq"))
        .orderBy("event_id")
    }),

    // Rolling window aggregate: 7-row trailing sum/avg per entity.
    "q_window_agg" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, 0)
      scanSized(s, dir, "events")
        .withColumn("rolling_sum", round(sum(col("value")).over(w), 6))
        .withColumn("rolling_n", count(lit(1)).over(w))
        .select("event_id", "rolling_sum", "rolling_n")
        .orderBy("event_id")
    }),

    // Calendar bucketing (§2.9 temporal scalars): date_trunc to day + hour
    // extraction; epochs via FLOOR so sub-second fractions round identically
    // in both engines (CLAUDE.md: DuckDB epoch-cast rounds, Spark floors).
    "q_time_buckets" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(
          date_trunc("day", col("ts")).cast("timestamp").cast("long").as("day_epoch"),
          hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
        .orderBy("day_epoch", "hr")
    }),

    // Edit distance (fuzzy-match primitive): each injected near-dup vs its
    // source — levenshtein on the 60-char prefix, computed identically in
    // both engines.
    "q_edit_distance" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dupes = docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("dup_id"),
          concat(col("text"), lit(" extra")).as("dup_text"),
          col("doc_id"))
      docs.join(dupes, "doc_id")
        .select(col("doc_id"), col("dup_id"),
          levenshtein(substring(col("text"), 1, 60),
            substring(col("dup_text"), 1, 60)).as("edit_dist"))
        .orderBy("doc_id")
    }),

    // Exact distinct counts (the cardinality surface; the HLL sketch variant
    // is engine-specific so the oracle pins the exact path).
    "q_count_distinct" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }),

    // Ranking windows (§2.9): rank/dense_rank over a value ordering (ties
    // share a rank — deterministic), ntile over a unique (ts, event_id)
    // ordering so tile assignment is deterministic.
    "q_rank_ntile" -> ((s, dir) => {
      val byVal = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      scanSized(s, dir, "events")
        .select(col("event_id"),
          rank().over(byVal).as("rk"),
          dense_rank().over(byVal).as("drk"),
          ntile(4).over(byTs).as("quartile"))
        .orderBy("event_id")
    }),

    // Running (cumulative) per-entity aggregates — unbounded-preceding frame,
    // the prefix-scan sibling of the q_window_agg sliding frame.
    "q_cumsum" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scanSized(s, dir, "events")
        .select(col("event_id"),
          round(sum(col("value")).over(w), 6).as("run_sum"),
          count(lit(1)).over(w).as("run_n"))
        .orderBy("event_id")
    }),

    // Exact continuous percentiles per group (sort-based `percentile`, not
    // the approximate sketch): quantity is integral so the linear
    // interpolation is exact in FP on both engines.
    "q_percentiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.75)).as("p75"))
        .orderBy("l_returnflag")
    }),

    // Distribution statistics (corr/stddev/variance) — single-pass co-moment
    // aggregates; outputs are O(1)-magnitude so round(…,6) absorbs engine
    // ulp differences.
    "q_stats" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_discount")), 6).as("var_disc"))
        .orderBy("l_returnflag")
    }),

    // ROLLUP hierarchy totals; grouping nulls folded to 'ALL' so the total
    // ORDER BY is engine-independent (Spark sorts NULLS FIRST, DuckDB LAST).
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(20, 6))).cast("double")
          .as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy("rf", "ls")
    }),

    // Pivot = conditional aggregation with a fixed value list (dynamic-pivot
    // needs a values scan first; a fixed list keeps the plan one pass).
    "q_pivot" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    }),

    // Fixed-width binned histogram — bucket arithmetic written identically
    // in both engines (no width_bucket: DuckDB lacks it).
    "q_histogram" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(floor(col("l_extendedprice") / 10000).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // Set intersection (§2.8 sibling of q_except) — plans as a distinct
    // left-semi join.
    "q_intersect" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"))
        .intersect(t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey")))
        .orderBy("o_orderkey")
    }),

    // --------------------------------------------------------------- top-k
    // Global top-k → TakeOrderedAndProject (T1 partial/final shape).
    "q_topk_global" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    }),

    // Offset+limit page (T7 skip, exm/FeatureExtraction.java:96–98): rows
    // 11–30 of the global ordering — plans as a single ordered-limit of
    // offset+limit rows, then a drop of the first `offset` on the driver.
    "q_topk_offset" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .offset(10).limit(20)
    }),

    // Per-group top-k via ranked window.
    "q_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      scanSized(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"),
          round(col("o_totalprice"), 6).as("price"))
        .orderBy("o_custkey", "rk")
    }),

    // First-value-per-key dedup (A10, mr/VisualReducer.java:18–25 — made
    // deterministic: earliest by (ts, event_id) instead of "first seen").
    "q_dedup_first" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id")
    }),

    // ------------------------------------------------------ text analysis
    "q_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Unicode (CJK-safe) token counting vs the whitespace count it corrects:
    // docs get deterministic whitespace-free tails (Japanese with U+3000
    // ideographic space, Korean, NBSP-glued Latin, Han Ext-B astral chars) so
    // the divergence is exercised both ways. The oracle replays the SAME
    // code-point-range pattern through DuckDB's RE2 (parity verified per
    // code-point class in TextOpsSpec).
    "q_token_count_unicode" -> ((s, dir) => {
      val m = pmod(col("doc_id"), lit(5))
      val tail = when(m === 0, lit(" 日本語のテキストです"))
        .when(m === 1, lit(" 漢字\u3000カナ mixed run"))
        .when(m === 2, lit(" 한국어 텍스트"))
        .when(m === 3, lit("\u00A0nbsp\u00A0run \uD840\uDC00\uD840\uDC01"))
        .otherwise(lit(""))
      // projected once, not copied into both counts
      docsSpread(s, dir)
        .select(col("doc_id"), concat(col("text"), tail).as("t"))
        .select(col("doc_id"),
          TextOps.tokenCount(col("t")).cast("long").as("n_tokens_ws"),
          TextOps.tokenCountUnicode(col("t")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Gopher document-quality rules (Rae et al. 2112.11446 Table A1 — the
    // standard web-corpus filter set). Docs are synthesized into the rule
    // regimes deterministically (length tripled/doubled by doc_id%3; bullet
    // lines / ellipsis endings / symbol runs / stopword tail by doc_id%4)
    // so every rule fires both ways. The oracle replays each signal from
    // the SAME pattern constants and the full pass conjunction.
    "q_gopher_quality" -> ((s, dir) => {
      val m3 = pmod(col("doc_id"), lit(3))
      val m4 = pmod(col("doc_id"), lit(4))
      val rep = when(m3 === 0, concat_ws(" ", col("text"), col("text"), col("text")))
        .when(m3 === 1, concat_ws(" ", col("text"), col("text")))
        .otherwise(col("text"))
      val tail = when(m4 === 0, lit("\n- bullet point\n- another\n* third"))
        .when(m4 === 1, lit("\nthis line trails off...\nand another one…"))
        .when(m4 === 2, lit(" ### ## # 123 456 789 ..."))
        .otherwise(lit(" the data have to be of use with care"))
      // the synthesized text is projected first: gopherQuality references
      // its input three times, and CollapseProject keeps a non-cheap
      // producer referenced more than once in its own projection
      docsSpread(s, dir)
        .select(col("doc_id"), concat(rep, tail).as("t"))
        .select(col("doc_id"), TextOps.gopherQuality(col("t")).as("g"))
        .select(col("doc_id"),
          col("g.n_words").as("n_words"),
          round(col("g.mean_word_len"), 6).as("mean_word_len"),
          round(col("g.symbol_word_ratio"), 6).as("symbol_word_ratio"),
          round(col("g.bullet_line_frac"), 6).as("bullet_line_frac"),
          round(col("g.ellipsis_line_frac"), 6).as("ellipsis_line_frac"),
          round(col("g.alpha_word_frac"), 6).as("alpha_word_frac"),
          col("g.n_stopwords").as("n_stopwords"),
          col("g.pass").as("pass"))
        .orderBy("doc_id")
    }),

    // BPE-ish subword-token estimate (letter runs + single digits + single
    // punctuation glyphs — the GPT-2 pre-tokenizer's coarse shape).
    "q_token_count_bpe" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCountBpe(col("text")).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // Tokenizer-health report per language: subword-per-word fertility and
    // chars-per-subword — the signals that make token budgets comparable
    // across languages (a high-fertility language burns budget faster than
    // its text share suggests). One partial-combined aggregate over the
    // corpus; both token patterns are published constants the oracle
    // replays verbatim.
    "q_tokenizer_fertility" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCountBpe(col("text")).cast("long")).as("__bpe"),
          sum(TextOps.tokenCountUnicode(col("text")).cast("long")).as("__w"),
          sum(length(col("text")).cast("long")).as("__c"))
        .select(col("lang"), col("n_docs"),
          col("__bpe").as("n_bpe_tokens"), col("__w").as("n_words"),
          round(col("__bpe").cast("double") / col("__w"), 6).as("fertility"),
          round(col("__c").cast("double") / col("__bpe"), 6).as("chars_per_token"))
        .orderBy("lang")
    }),

    "q_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), round(TextOps.qualityScore(col("text")), 6).as("quality"))
        .orderBy("doc_id")
    }),

    // Corpus n-gram frequency top-k (training-data corpus analysis): explode
    // 2-gram shingles → map-side partial count → final agg →
    // TakeOrderedAndProject. The shuffle carries (ngram, partial count), not
    // documents.
    // Within-document repetition ratio (Gopher/C4-style quality filter):
    // fraction of trigrams that repeat an earlier trigram in the same doc.
    "q_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TextOps.repetitionRatio(col("text"), 3), 6).as("rep_ratio"))
        .orderBy("doc_id")
    }),

    "q_ngram_topk" -> ((s, dir) => {
      // documents is ONE parquet file — without an explicit repartition the
      // whole tokenize+explode runs in a single task (CLAUDE.md trap)
      docsSpreadSized(s, dir)
        .select(explode(
          graft.functions.TextExpressions.word_shingles(col("text"), 2)).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram")).limit(20)
    }),

    // Language-ID heuristic (oracle replays the stopword-hit arithmetic in
    // SQL; TextOpsSpec covers the kernel).
    "q_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(TextOps.tokens(col("text"))).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // TRAINED langid: multinomial NB over char trigrams (the fastText-
    // shaped upgrade of the heuristic q_langid). The corpus text carries no
    // language signal by construction, so per-lang marker tokens are
    // synthesized per row (replayed verbatim by the oracle) — the model
    // must LEARN them; train (counts, totals, priors, V) and predict
    // (smoothed log-likelihood sum + prior + argmax) replay end-to-end.
    "q_langid_nb" -> ((s, dir) => {
      // the marker-docs projection feeds THREE passes (trigram counts,
      // per-lang doc counts, scoring) — persist it for the query's lifetime
      // (released after the eager checkpoint; computed fresh per invocation,
      // nothing survives the run) so train+score scan the parquet once
      val docs = docsSpreadSized(s, dir)
        .select(col("doc_id"), col("lang"), concat(col("text"),
          lit(" qx"), col("lang"), lit(" qx"), col("lang"),
          lit(" qx"), col("lang")).as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val model = TextOps.nbLangModel(docs, "lang", "text", n = 3, k = 1.0)
      try {
        TextOps.nbLangId(docs, "doc_id", "text", model)
          .select(col("doc_id"), col("lang").as("lang_pred"),
            round(col("score"), 6).as("score"))
          .orderBy("doc_id")
          .localCheckpoint(true)
      } finally { model.release(); docs.unpersist(blocking = false); () }
    }),

    // Rolling-hash document fingerprint (xxhash64 — no SQL oracle).
    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // Context-window chunking: each document → consecutive 64-token chunks
    // (doc-local explode; last chunk short). The step that turns a curated
    // corpus into model-ingestible sequences.
    "q_chunk_tokens" -> ((s, dir) => {
      // documents is ONE parquet file — explicit repartition or the whole
      // tokenize+chunk+explode runs in a single task (CLAUDE.md trap)
      TextOps.chunkTokens(
        docsSpreadSized(s, dir),
        "doc_id", "text", chunkSize = 64)
        .orderBy("doc_id", "chunk_idx")
    }),

    // Example packing (concat-and-split): per deterministic md5 shard, lay
    // tokenized docs end-to-end and cut fixed 256-token training sequences.
    // The Window partitions by shard (the parallelism unit) — never an
    // unpartitioned global Window; only (id, n_tokens) pairs shuffle.
    "q_pack_sequences" -> ((s, dir) => {
      // full-width round-robin spread (measured: the size-derived count
      // regressed this one — the shard Window re-partitions anyway and the
      // tokenization benefits from the wider first stage; a range spread on
      // doc_id adds the spread's sampling job and ran slower)
      TextOps.packSequences(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", seqLen = 256, numShards = 8)
        .orderBy("doc_id")
    }),

    // Corpus vocabulary with dense global token ids (occurrences desc, token
    // asc) — range-partitioned sort + zipWithIndex, NOT an unpartitioned
    // Window (single-task trap).
    "q_vocabulary" -> ((s, dir) => {
      TextOps.vocabulary(
        docsSpreadSized(s, dir),
        "doc_id", "text", minCount = 5L)
        .orderBy("token_id")
    }),

    // TF-IDF document-term weights on a bounded doc slice (plain ln(N/df)
    // convention; numerics rounded for the cross-engine hash).
    "q_tfidf" -> ((s, dir) => {
      TextOps.tfidf(t(s, dir, "documents").where(col("doc_id") < 100), "doc_id", "text")
        .select(col("doc_id"), col("token"),
          round(col("tf"), 6).as("tf"), round(col("idf"), 6).as("idf"),
          round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "token")
    }),

    // CCNet-shaped LM quality scoring (Wenzek et al. 2019): add-k bigram LM
    // trained ON the corpus itself, every document scored by its
    // cross-entropy under that LM (self-perplexity — outlier docs score
    // high). The oracle replays train AND score end-to-end in SQL: bigram
    // counts, prefix counts, vocab size, the smoothing arithmetic and the
    // per-doc aggregate. Perplexity (= e^ce, a monotone transform) is left
    // out of the hashed output to keep cross-engine transcendentals to the
    // ln/round pair already proven by q_tfidf.
    "q_lm_perplexity" -> ((s, dir) => {
      val docs = docsSpreadSized(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lm = TextOps.bigramLm(docs, "text", k = 0.1)
      try {
        TextOps.lmScore(docs, "doc_id", "text", lm)
          .select(col("doc_id"), col("n_bigrams"),
            round(col("cross_entropy"), 6).as("cross_entropy"))
          .orderBy("doc_id")
          .localCheckpoint(true)
      } finally { lm.release(); docs.unpersist(blocking = false); () }
    }),

    // Stupid Backoff trigram scoring (Brants et al. 2007 — the smoothing
    // designed for distributed web-scale LMs): count-table model, backoff
    // chain trigram → α·bigram → α²·unigram with a 1/N unseen floor. The
    // oracle replays train (three n-gram count tables) AND score (five
    // joins + the backoff CASE cascade) end-to-end.
    "q_sb_trigram" -> ((s, dir) => {
      val docs = docsSpreadSized(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lm = TextOps.stupidBackoffLm(docs, "text")
      try {
        TextOps.sbScore(docs, "doc_id", "text", lm)
          .select(col("doc_id"), col("n_tokens"),
            round(col("sb_logscore"), 6).as("sb_logscore"))
          .orderBy("doc_id")
          .localCheckpoint(true)
      } finally { lm.release(); docs.unpersist(blocking = false); () }
    }),

    // CCNet head/middle/tail perplexity buckets (Wenzek et al. §4.3):
    // EXACT rank terciles under (cross_entropy, doc_id) — order statistics,
    // not interpolated percentiles, so membership replays exactly; rank via
    // range-partitioned sort + zipWithIndex (never a global Window). The
    // oracle replays LM train + score + ROW_NUMBER ranking end-to-end.
    "q_perplexity_buckets" -> ((s, dir) => {
      val docs = docsSpreadSized(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lm = TextOps.bigramLm(docs, "text", k = 0.1)
      try {
        TextOps.perplexityBucketsWith(docs, "doc_id", "text", lm) { b =>
          b.select(col("doc_id"), col("n_bigrams"),
              round(col("cross_entropy"), 6).as("cross_entropy"),
              col("bucket_id"), col("bucket"))
            .orderBy("doc_id")
            .localCheckpoint(true)
        }
      } finally { lm.release(); docs.unpersist(blocking = false); () }
    }),

    // Learned BPE tokenization end-to-end: distributed word-count aggregate →
    // bounded driver-side merge learning (graft.ml.Bpe) → merges.txt-style
    // serialize/parse round trip (the artifact a pipeline reuses across jobs)
    // → native broadcast-model bpe_encode + bpe_encode_ids over every
    // document. Rows-only (a learned merge table has no DuckDB twin —
    // BpeSpec pins the learner against the hand-computed classic corpus and
    // the expression against the scalar apply); the head tokens AND head
    // token ids ride along so any learner/apply/persistence/vocab regression
    // changes visible rows.
    // Unigram-LM (SentencePiece, Kudo 2018) tokenization — the OTHER learned
    // tokenizer family (rows-only: learned piece vocabulary has no DuckDB
    // twin, the q_bpe_tokenize blocker; UnigramSpec is the correctness gate).
    // Learn → persistence round-trip → native Viterbi encode, like BPE.
    "q_unigram_tokenize" -> ((s, dir) => {
      val docs = docsSpread(s, dir)
      val learned = graft.ml.Unigram.learn(docs, "text", vocabSize = 600,
        maxWords = 20000, minCount = 2L)
      val model = graft.ml.Unigram.parseUnigramFile(
        graft.ml.Unigram.writeUnigramFile(learned).linesIterator)
      val bc = s.sparkContext.broadcast(model)
      docs.select(col("doc_id"),
          graft.functions.UnigramExpressions.unigram_encode(col("text"), bc)
            .as("__pieces"),
          graft.functions.UnigramExpressions.unigram_encode_ids(col("text"), bc)
            .as("__ids"))
        .select(col("doc_id"),
          size(col("__pieces")).cast("long").as("n_pieces"),
          array_join(slice(col("__pieces"), 1, 12), " ").as("head_pieces"),
          array_join(slice(col("__ids"), 1, 12).cast("array<string>"), " ")
            .as("head_piece_ids"))
        .orderBy("doc_id")
    }),

    "q_bpe_tokenize" -> ((s, dir) => {
      val docs = docsSpread(s, dir)
      val learned = graft.ml.Bpe.learn(docs, "text", numMerges = 200,
        maxWords = 20000, minCount = 2L)
      val model = graft.ml.Bpe.parseBpeFile(
        graft.ml.Bpe.writeBpeFile(learned).linesIterator)
      val bc = s.sparkContext.broadcast(model)
      docs.select(col("doc_id"),
          graft.functions.BpeExpressions.bpe_encode(col("text"), bc).as("__bpe"),
          graft.functions.BpeExpressions.bpe_encode_ids(col("text"), bc).as("__ids"))
        .select(col("doc_id"), size(col("__bpe")).cast("long").as("n_bpe_tokens"),
          array_join(slice(col("__bpe"), 1, 12), " ").as("head_tokens"),
          array_join(slice(col("__ids"), 1, 12).cast("array<string>"), " ")
            .as("head_token_ids"))
        .orderBy("doc_id")
    }),

    // Model-based quality classifier (the GPT-3 Wikipedia-vs-crawl filter
    // shape, arXiv:2005.14165 app. A): hashed uni+bigram features,
    // distributed full-batch logistic regression (one aggregate per
    // iteration, D-bounded collect), row-local broadcast scoring. Trained
    // here against each document's deterministic noise twin (reversed
    // text — different tokens, same length statistics). Rows-only: the
    // learned FP weight vector has no exact SQL twin (gradient sums are
    // partition-order FP accumulations) — ClassifierSpec is the gate; the
    // per-row `separated` flag makes a broken model flip visible rows.
    "q_quality_classifier" -> ((s, dir) => {
      val docs = docsSpread(s, dir)
      val train = docs.where(col("doc_id") < 300)
        .select(col("text"), lit(1.0).as("label"))
        .unionByName(docs.where(col("doc_id") < 300)
          .select(reverse(col("text")).as("text"), lit(0.0).as("label")))
      val model = graft.ml.Classifier.train(train, "text", "label",
        dims = 1024, iters = 12, lr = 12.0)
      docs.select(col("doc_id"),
          round(graft.ml.Classifier.scoreColumn(col("text"), model, s), 4)
            .as("quality"),
          round(graft.ml.Classifier.scoreColumn(reverse(col("text")), model, s), 4)
            .as("noise_score"))
        .withColumn("separated", col("quality") > col("noise_score"))
        .orderBy("doc_id")
    }),

    // BYTE-LEVEL learned BPE (GPT-2-style byte alphabet): words symbolize as
    // UTF-8 bytes via the fixed 256-symbol table, so the id stream NEVER
    // contains <unk> — emoji / rare scripts keep full fidelity (the
    // char-level model's documented information loss). n_unk rides in every
    // row and must be 0; rows-only like q_bpe_tokenize (learned state has no
    // SQL twin — BpeSpec pins byte symbolization, learner parity and the
    // <unk>-free guarantee).
    "q_bpe_tokenize_bytes" -> ((s, dir) => {
      val docs = docsSpread(s, dir)
      val learned = graft.ml.Bpe.learn(docs, "text", numMerges = 200,
        maxWords = 20000, minCount = 2L, byteLevel = true)
      val model = graft.ml.Bpe.parseBpeFile(
        graft.ml.Bpe.writeBpeFile(learned).linesIterator)
      val bc = s.sparkContext.broadcast(model)
      docs.select(col("doc_id"),
          graft.functions.BpeExpressions.bpe_encode_ids(col("text"), bc).as("__ids"))
        .select(col("doc_id"), size(col("__ids")).cast("long").as("n_bpe_tokens"),
          size(filter(col("__ids"), _ === 0)).cast("long").as("n_unk"),
          array_join(slice(col("__ids"), 1, 12).cast("array<string>"), " ")
            .as("head_token_ids"))
        .orderBy("doc_id")
    }),

    // Per-label mean embedding (class centroids / mean pooling) through the
    // native vec_mean TypedImperativeAggregate — one d-length buffer per
    // group per task crosses the exchange, not |rows|·d (dim, value) pairs.
    // Flattened to (label, dim, value) rows for a scalar-robust hash.
    // FP note: the partial-buffer merge order is partition-dependent, so the
    // pre-round mean carries ~1e-15 order noise vs DuckDB's AVG; round(…,6)
    // flips only if a true mean sits within that noise of a 0.5e-6 boundary
    // (~1e-9 per dim over ~100-row groups — accepted; a decimal-cast
    // normalization does not exist for element-wise array sums).
    "q_embed_label_centroid" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(graft.functions.VecAggregates.vec_mean(col("embedding")).as("mv"),
          count(lit(1)).as("n_vecs"))
        .select(col("label"), col("n_vecs"), posexplode(col("mv")))
        .select(col("label"), col("pos").cast("int").as("dim"),
          round(col("col"), 6).as("centroid"), col("n_vecs"))
        .orderBy("label", "dim")
    }),

    // ----------------------------------------------------- corpus curation
    // Deterministic train/val/test assignment — a pure function of the id
    // (md5 percentile), so membership survives re-partitioning, corpus growth
    // and re-runs; the oracle replays the identical arithmetic.
    "q_split_assign" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          Curation.splitAssign(col("doc_id")).as("split"))
        .orderBy("doc_id")
    }),

    // PII-style redaction: emails/URLs are synthesized per row (the corpus
    // has none) so the masking path is actually exercised, then masked with
    // typed placeholders. Row-local regexp_replace — stays in codegen.
    "q_redact" -> ((s, dir) => {
      docsSpread(s, dir)
        .select(col("doc_id"), Curation.redact(concat(
          col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@ex-a.co or see https://ex.co/d/"),
          col("doc_id").cast("string"), lit("?q=1 call (555) 867-53"),
          lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"),
          lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".7 end"))).as("clean_text"))
        .orderBy("doc_id")
    }),

    // HTML/markup text extraction (the step upstream of boilerplate-line
    // removal — a crawl corpus arrives as HTML, not prose). Documents are
    // wrapped row-locally in a synthesized page exercising every pass:
    // multi-line script (with <, &&, " inside JS), style, multi-line
    // comment, block/inline tags, br/hr breaks, the whole entity set incl.
    // the double-escape &amp;lt; case and an unknown &bogus;. The oracle
    // replays the IDENTICAL regexp_replace chain (patterns interpolated
    // from the same Curation constants; RE2 ∩ Java regex by construction),
    // so tag stripping, entity decode order and whitespace normalization
    // are all hash-checked.
    "q_strip_html" -> ((s, dir) => {
      val d = col("doc_id").cast("string")
      val html = concat(
        lit("<html><!-- doc "), d, lit("\nspans lines -->"),
        lit("<head><style type=\"text/css\">p { color: #abc; }\n.x { margin: 0 }</style>"),
        lit("<script>\nif (a<b && c>d) { alert(\"x&y\"); }\n</script></head>"),
        lit("<body><div class=\"main\"><h1>Doc "), d, lit("</h1><p>"),
        regexp_replace(substring(col("text"), 1, 500), " the ", " <b>the</b> "),
        lit("</p><br/><ul><li>one &amp; two</li><li>a&nbsp;b</li></ul><hr >"),
        lit("<p>&amp;lt;keep&gt; &quot;q&quot; &#39;s&#39; &bogus; 1 &lt; 2</p>"),
        lit("<p>&#65;pos &#8217;curly&#8217; &#x1F600; &#x48;&#105; " +
          "bad:&#0;&#xD800;&#1114112;&#123456789;&#x1234567;&#;&#x; " +
          "one-level:&amp;#65; tail</p>"),
        lit("</div></body></html>"))
      docsSpread(s, dir)
        .select(col("doc_id"), Curation.stripMarkup(html).as("clean_text"))
        .orderBy("doc_id")
    }),

    // C4/RefinedWeb boilerplate-line removal: multi-line docs are synthesized
    // (corpus text is single-line) — every doc gets a shared copyright footer
    // (hot → dropped), every third doc a newsletter banner (hot → dropped),
    // each doc one unique marker line (kept) and a blank line (structural —
    // never counted or removed). The oracle replays split / count / filter /
    // rejoin by line CONTENT; the Spark side groups by the dual
    // (xxhash64, sha2-256) fingerprint, so a fingerprint bug hash-fails.
    "q_remove_boilerplate" -> ((s, dir) => {
      val docs = docsSpreadSized(s, dir)
        .select(col("doc_id"), concat(
          col("text"), lit("\nuniq marker "), col("doc_id").cast("string"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("\nsubscribe to our newsletter")).otherwise(lit("")),
          lit("\n\n(c) example corp all rights reserved")).as("text"))
      Curation.removeBoilerplateLines(docs, "doc_id", "text", minDocs = 10L)
        .orderBy("doc_id")
    }),

    // Keep-first exact paragraph (line-unit) dedup: two identical injected
    // lines per doc, shared across every doc in the same mod-50 class — the
    // globally first occurrence (lowest doc_id, then position) survives,
    // every other copy is dropped, exercising BOTH within-doc and cross-doc
    // duplication plus the keeper's deterministic tie-break.
    "q_dedup_paragraphs" -> ((s, dir) => {
      val docs = docsSpreadSized(s, dir)
        .select(col("doc_id"), concat(
          col("text"),
          lit("\nshared quote "), pmod(col("doc_id"), lit(50)).cast("string"),
          lit("\nshared quote "), pmod(col("doc_id"), lit(50)).cast("string"))
          .as("text"))
      Curation.dedupParagraphs(docs, "doc_id", "text", delim = "\n")
        .orderBy("doc_id")
    }),

    // Canonical pre-dedup text normalization (lowercase, collapse whitespace).
    "q_normalize" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Curation.normalize(col("text")).as("norm_text"))
        .orderBy("doc_id")
    }),

    // C4 bad-words blocklist screening: terms are injected per row (the
    // corpus has none) so both the hit and the longest-alternative paths
    // are exercised ("badword" must match the long term, not fail the
    // boundary on "bad"); one compiled regexp_extract_all pass yields
    // count, audit terms and the keep flag. Oracle replays the identical
    // alternation (keywordPattern sorts longest-first precisely so Java's
    // first-match == RE2's longest-match).
    "q_blocklist" -> ((s, dir) => {
      val kws = Seq("badword", "bad", "evil phrase")
      val hits = regexp_extract_all(
        lower(col("text")), lit(Curation.keywordPattern(kws)), lit(0))
      t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          when(pmod(col("doc_id"), lit(5)) === 0, lit(" badword here"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit(" an evil phrase and bad stuff")).otherwise(lit("")))
          .as("text"))
        .select(col("doc_id"), size(hits).as("n_hits"),
          array_join(array_sort(array_distinct(hits)), ",").as("hit_terms"),
          when(size(hits) === 0, lit(1)).otherwise(lit(0)).as("kept"))
        .orderBy("doc_id")
    }),

    // Leakage-safe group-aware split: every member of a near-dup group (the
    // q_dedup_groups pair set) lands in ONE split — a near-copy of a training
    // doc can never land in test. Split key = group representative (min id),
    // else the row's own id; same md5-percentile arithmetic as
    // q_split_assign, replayed (groups + arithmetic) by the oracle.
    "q_split_by_group" -> ((s, dir) => {
      val docs = docsWithDupes(s, dir, maxDocs = 500L)
      val groups = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.6))
      Curation.splitByGroup(docs.select("doc_id"), "doc_id", groups)
        .select("doc_id", "split").orderBy("doc_id")
    }),

    // Deterministic k-per-source down-sample via the bounded-heap aggregate:
    // map-side heaps keep ≤ k ids per source before the shuffle — the
    // domain-capping shape for a 100 TB crawl mix (no Window, no corpus
    // bytes through the exchange).
    "q_sample_per_group" -> ((s, dir) => {
      Curation.samplePerGroup(t(s, dir, "documents"), Seq("source"), "doc_id", 5)
        .withColumnRenamed("rank", "rk")
        .orderBy("source", "rk")
    }),

    // Corpus composition report: per-(lang, source) doc/token/char counts
    // and share of corpus — the numbers a Pile/Dolma-style mixing decision
    // starts from. One corpus scan (per-group stage persisted for the
    // totals re-aggregate).
    "q_mix_report" -> ((s, dir) => {
      Curation.mixReport(t(s, dir, "documents"), Seq("lang", "source"), "text")
        .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          col("n_chars"),
          round(col("doc_share"), 6).as("doc_share"),
          round(col("token_share"), 6).as("token_share"))
        .orderBy("lang", "source")
    }),

    // Deterministic rebalance to a target source mix: N = min_g floor(n_g /
    // p_g), k_g = floor(p_g · N), members chosen by the md5 sample key (the
    // q_sample_per_group ordering) — the whole selection is a pure function
    // of ids + the target map, replayed end-to-end by the oracle.
    "q_rebalance_mix" -> ((s, dir) => {
      Curation.rebalanceMix(t(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.1))
        .withColumnRenamed("rank", "rk")
        .orderBy("source", "rk")
    }),

    // Target-mix rebalance by TOKEN budget (the unit Pile/Dolma weighting
    // actually uses): per-group token quotas q_g = floor(p_g·N),
    // N = min_g floor(tokens_g/p_g); docs taken in deterministic
    // (md5-shard, md5-key, id) order while the cumulative token count stays
    // ≤ q_g. The two-phase sharded cumsum must agree EXACTLY with the
    // oracle's single global window — the offsets join is hash-checked.
    "q_rebalance_tokens" -> ((s, dir) => {
      Curation.rebalanceMixTokens(t(s, dir, "documents"), "source", "doc_id",
        "text", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.1), shards = 8)
        .orderBy("source", "cum_tokens", "doc_id")
    }),

    // Upsampling EPOCH plan (Pile/Dolma repetition): full epochs per group
    // via a row-local sequence explode against the broadcast policy table,
    // plus the md5-order prefix filling the remainder tokens as a partial
    // epoch. The oracle replays quota arithmetic, generate_series epochs
    // AND the prefix cumsum — epoch counts and partial membership are all
    // hash-checked.
    "q_epoch_plan" -> ((s, dir) => {
      Curation.epochPlan(t(s, dir, "documents"), "source", "doc_id", "text",
        Map("src0" -> 0.6, "src1" -> 0.2, "src2" -> 0.2),
        maxEpochs = 3, shards = 8)
        .orderBy("source", "epoch", "doc_id")
    }),

    // DSIR importance resampling (Xie et al. 2023): fit hashed uni+bigram
    // multinomials on a target slice vs the whole corpus, weight every raw
    // doc by its log importance ratio, select n by deterministic
    // Gumbel-top-k. The oracle replays fit, scoring, noise and selection
    // end-to-end (the md5-prefix hash is the cross-engine seam — a faster
    // production hash would make this rows-only).
    "q_dsir_select" -> ((s, dir) => {
      // docs feed three passes (raw fit, target fit, scoring) — persisted
      // for the query's lifetime, released after the eager checkpoint
      val docs = docsSpreadSized(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val target = docs.where(col("source").isin("src0", "src1"))
      val model = Dsir.dsirModel(docs, target, "text",
        buckets = 8192, alpha = 1.0)
      try {
        Dsir.dsirResample(docs, "doc_id", "text", model, n = 120)
          .select(col("doc_id"), col("n_ngrams"),
            round(col("log_weight"), 6).as("log_weight"),
            round(col("gumbel_key"), 6).as("gumbel_key"))
          .orderBy("doc_id")
          .localCheckpoint(true)
      } finally { model.release(); docs.unpersist(blocking = false); () }
    }),

    // End-to-end curation COMPOSITION, oracle-checked as one program:
    // normalize → C4 blocklist → exact dedup (on the normalized text, so
    // layout-only copies collapse) → deterministic split. Exact copies and
    // blocklisted terms are planted; every stage's replay is individually
    // proven elsewhere — this query pins that they compose without seams
    // (ids, surviving text and split labels all hash-checked together).
    "q_curate_e2e" -> ((s, dir) => {
      val kws = Seq("badword", "evil phrase")
      val base = t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0, lit(" badword"))
            .otherwise(lit(""))).as("text"))
      val unioned = base.unionByName(
        base.where(col("doc_id") < 30)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val normalized = unioned.select(col("doc_id"),
        Curation.normalize(col("text")).as("text"))
      // the normalize+blocklist stage feeds BOTH exactDedup passes (the
      // fingerprint groupBy and the keep semi-join) — persist it for the
      // query's lifetime, released after the eager checkpoint, so the
      // normalization regex chain runs once
      val clean = Curation.filterBlocklist(normalized, "text", kws)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        Dedup.exactDedup(clean, "doc_id", "text")
          .select(col("doc_id"), Curation.splitAssign(col("doc_id")).as("split"),
            col("text"))
          .orderBy("doc_id")
          .localCheckpoint(true)
      } finally { clean.unpersist(blocking = false); () }
    }),

    // ------------------------------------------------------- deduplication
    "q_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val withExactCopies = docs.select("doc_id", "text").unionByName(
        docs.where(col("doc_id") < 20)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.exactGroups(withExactCopies, "doc_id", "text")
        .where(col("n_dups") > 1)
        .select("keep_id", "n_dups")
        .orderBy("keep_id")
    }),

    // Exact n-gram Jaccard near-dup pairs (inverted-index join). Exact
    // all-pairs verification is quadratic in shingle document-frequency, so
    // it runs on a bounded slice (doc_id < 500) — the LSH paths
    // (q_minhash_lsh / q_simhash) are the full-corpus scale route.
    "q_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(docsWithDupes(s, dir, maxDocs = 500L), "doc_id", "text",
        shingleN = 3, threshold = 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // Near-dup CLUSTERS: exact-Jaccard pairs (same pair set as
    // q_ngram_jaccard, hash-proven) → distributed connected components
    // (min-label propagation). group_id = min doc_id in the component; the
    // DuckDB oracle recomputes components with a recursive CTE.
    // Corpus-level rarity signal: per document, how many of its token
    // OCCURRENCES are corpus-rare (the token appears in ≤ 2 documents) —
    // a two-phase corpus statistic (DF aggregate → join back), unlike the
    // row-local text scores. Integer-valued, so the oracle is FP-robust.
    "q_rare_tokens" -> ((s, dir) => {
      // the tokenize+explode stage feeds BOTH the doc-frequency aggregate and
      // the occurrence-count join — persist it once (withPersistedStage rule)
      // so the corpus is tokenized a single time
      val tokStage = docsSpreadSized(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      Dedup.withPersistedStage(tokStage) { toks =>
        val df = toks.select("doc_id", "tok").distinct()
          .groupBy("tok").agg(count(lit(1)).as("doc_freq"))
        val rare = df.where(col("doc_freq") <= 2).select("tok")
        t(s, dir, "documents").select(col("doc_id"))
          .join(
            toks.join(rare, Seq("tok"), "left_semi")
              .groupBy("doc_id").agg(count(lit(1)).as("n_rare")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("n_rare"), lit(0L)).as("n_rare"))
      }.orderBy("doc_id")
    }),

    // Benchmark decontamination: drop training docs containing ≥80% of a
    // benchmark doc's trigrams (benchmark = first 15 docs re-badged, so
    // containment 1.0 — plus any organically near-identical corpus docs).
    "q_decontaminate" -> ((s, dir) => {
      val train = spreadInput(s, dir, "documents",
        t(s, dir, "documents").select("doc_id", "text"))(roundRobin)
      val bench = t(s, dir, "documents").where(col("doc_id") < 15)
        .select((col("doc_id") + 5000000).as("bench_id"),
          col("text").as("bench_text"))
      Dedup.decontaminate(train, bench, "doc_id", "bench_id",
        "text", "bench_text", shingleN = 3, threshold = 0.8)
        .select("doc_id").orderBy("doc_id")
    }),

    // Bloom-prefiltered decontamination — the 100 TB path: benchmark
    // shingles ride ONE broadcast Bloom filter; each training doc is tested
    // row-locally at the scan and only possible-hit docs (≥ ceil(θ·min
    // bench-shingle-count) probable shared shingles) enter the exact
    // containment join. Output is provably identical to the exact operator
    // (no Bloom false negatives; false positives die in the verify join),
    // so the oracle replays the EXACT arithmetic — a prefilter bug that
    // drops a contaminated doc hash-fails. Distinct bench slice/threshold
    // from q_decontaminate so the two queries can't mask each other.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val train = spreadInput(s, dir, "documents",
        t(s, dir, "documents").select("doc_id", "text"))(roundRobin)
      val bench = t(s, dir, "documents")
        .where(col("doc_id") >= 10 && col("doc_id") < 25)
        .select((col("doc_id") + 6000000).as("bench_id"),
          col("text").as("bench_text"))
      Dedup.decontaminateBloom(train, bench, "doc_id", "bench_id",
        "text", "bench_text", shingleN = 3, threshold = 0.7)
        .select("doc_id").orderBy("doc_id")
    }),

    "q_dedup_groups" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
        docsWithDupes(s, dir, maxDocs = 500L), "doc_id", "text",
        shingleN = 3, threshold = 0.6)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("group_id").cast("long").as("group_id"))
        .orderBy("doc_id")
    }),

    // Curation keep-set: drop non-representative members of every dup group
    // (exact-Jaccard pairs → components → left-anti). Never-paired docs stay.
    "q_dedup_keep" -> ((s, dir) => {
      val docs = docsWithDupes(s, dir, maxDocs = 500L)
      val groups = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.6))
      Dedup.keepRepresentatives(docs, "doc_id", groups)
        .select("doc_id").orderBy("doc_id")
    }),

    // Quality-aware keep policy: same duplicate groups, but the survivor is
    // the member with the MOST tokens (ties → lowest id) — the injected
    // " extra" copies are one token longer than their originals, so the
    // kept set must flip to the high-id copies exactly where q_dedup_keep
    // keeps the originals (the two queries differentially pin the policy).
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = docsWithDupes(s, dir, maxDocs = 500L)
      val groups = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.6))
      Dedup.keepBestRepresentatives(docs, "doc_id", groups,
        TextOps.tokenCount(col("text")))
        .select("doc_id").orderBy("doc_id")
    }),

    // Cross-document EXACT repeated spans (Lee et al. 2021 substring-dedup
    // unit): maximal ≥4-token spans shared verbatim between documents, with
    // 0-based token positions on both sides — the span-level signal
    // doc-level dedup misses. The oracle replays positional shingles, the
    // occurrence cap, the cross-doc match and the diagonal gaps-and-islands
    // coalescing by k-gram CONTENT (Spark matches on the dual
    // xxhash64/sha2 fingerprint — a collision or hashing bug hash-fails).
    "q_repeated_spans" -> ((s, dir) => {
      Dedup.repeatedSpans(docsWithDupes(s, dir, maxDocs = 300L),
        "doc_id", "text", k = 4)
        .orderBy("id_a", "id_b", "start_a", "start_b")
    }),

    // Span-level dedup CUT (Lee et al. 2021 §4: keep one occurrence of each
    // repeated span, remove the rest): ≥8-token spans found by
    // q_repeated_spans' machinery are cut from the higher-id document via
    // the native drop_token_ranges expression. The oracle replays span
    // discovery AND the cut (drop-position anti-join + ordered re-join), so
    // the keep-lowest-id policy, overlap merging and token arithmetic are
    // all hash-checked.
    "q_cut_spans" -> ((s, dir) => {
      Curation.cutRepeatedSpans(docsWithDupes(s, dir, maxDocs = 300L),
        "doc_id", "text", k = 4, minSpanTokens = 8)
        .orderBy("doc_id")
    }),

    // WITHIN-document exact repeated spans (the cross-doc operator's
    // complement — a scraped page repeating its own nav block): maximal
    // ≥4-token spans a document shares with ITSELF, one row per maximal
    // (earlier, later) occurrence pair. Same positional-fingerprint
    // machinery, self-matched per (id, diagonal).
    "q_within_doc_spans" -> ((s, dir) => {
      Dedup.withinDocRepeatedSpans(docsWithSelfRepeats(s, dir),
        "doc_id", "text", k = 4)
        .orderBy("id", "start_a", "start_b")
    }),

    // Combined span cut: cross-doc spans cut from the higher-id doc AND
    // each doc's own later internal occurrences cut (first copy kept) in
    // one pass — overlapping ranges from the two sources merge inside
    // drop_token_ranges. The oracle replays both discoveries and the cut.
    "q_cut_spans_within" -> ((s, dir) => {
      Curation.cutRepeatedSpans(docsWithSelfRepeats(s, dir),
        "doc_id", "text", k = 4, minSpanTokens = 8, withinDoc = true)
        .orderBy("doc_id")
    }),

    // MinHash+LSH near-dup pairs (xxhash64 signatures — rows-only check;
    // recall/precision asserted against exact Jaccard in ScalaTest).
    "q_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLshPairs(docsWithDupes(s, dir), "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // INCREMENTAL near-dup against a pre-signed corpus (rows-only: LSH
    // banding is the same SQL-irreducibility blocker as q_minhash_lsh): the
    // 20 injected clones arrive as the NEW batch against the already-signed
    // base corpus — the +1%-new-data re-curation event. Only the new batch
    // is shingled+minhashed; old docs contribute a pruned (id, sig) scan.
    // DedupSpec proves prev ∪ incremental ≡ full recompute bit-for-bit.
    "q_minhash_lsh_incremental" -> ((s, dir) => {
      val docs = docsSpreadSized(s, dir)
        .select("doc_id", "text")
      val newBatch = docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text"))
      // STORAGE-backed old side, as the operator is designed for: the
      // banding/cap/verify plan reads the old signatures ~5× with per-use
      // column pruning — feeding it the computed signature DataFrame would
      // re-shingle+re-minhash the whole old corpus per reference. Signing
      // the corpus to parquet is part of the measured query (computed fresh
      // from the inputs on every invocation; the directory is deleted at JVM
      // shutdown, since the returned DataFrame still reads it lazily).
      val sigDir = org.apache.spark.sql.GraftBridge.createTempDir("graft_incr_sigs")
        .toPath.resolve("sigs").toString
      Dedup.minhashSignatures(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64)
        .write.mode("overwrite").parquet(sigDir)
      val oldSigs = Sources.parquet(s, sigDir)
      Dedup.minhashLshPairsIncremental(newBatch, oldSigs, "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // CROSS-CORPUS fuzzy decontamination (Llama-style): benchmark side = 5
    // verbatim training docs + 3 lightly-edited ones, with eval ids
    // DELIBERATELY reusing doc ids — minhashLshPairsAcross keeps sides by
    // construction (left×right only, overlapping id spaces safe). Rows-only:
    // the MinHash signature is xxhash64-based (same blocker as
    // q_minhash_lsh); the cross-vs-full equivalence is proven in DedupSpec.
    "q_minhash_decontaminate" -> ((s, dir) => {
      val docs = docsSpreadSized(s, dir)
        .select("doc_id", "text")
      val bench = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("eval_id"), col("text").as("eval_text"))
        .unionByName(docs.where(col("doc_id") >= 5 && col("doc_id") < 8)
          .select(col("doc_id").as("eval_id"),
            concat(col("text"), lit(" extra trailing tokens")).as("eval_text")))
      Dedup.minhashLshPairsAcross(docs, bench, "doc_id", "eval_id",
        "text", "eval_text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    }),

    // SimHash near-dup pairs (rows-only; Hamming-banding recall in ScalaTest).
    "q_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(docsWithDupes(s, dir), "doc_id", "text",
        maxHamming = 3, chunks = 4)
        .orderBy("id_a", "id_b")
    }),

    // --------------------------------------------------- similarity search
    // Brute-force cosine top-k (exact baseline, T1 shape on embeddings).
    "q_embed_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 5), emb,
        "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // IVF ANN with nprobe = numLists (exact ⇒ must equal brute force — the
    // oracle); nprobe < numLists recall is asserted in ScalaTest. Coarse
    // centroids are the first 8 corpus vectors (deterministic).
    "q_embed_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val corpus = emb.withColumn("list_id",
        Similarity.withListId(emb, "embedding", centroids))
      Similarity.ivfTopK(emb.where(col("vec_id") < 5), corpus,
        "vec_id", "embedding", centroids, k = 10, nprobe = centroids.length)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // IVFADC over the embeddings table — the reference's flagship search
    // structure (coarse quantize → PQ-encode residuals → probed ADC scan,
    // ds/IVFPQ.java:100–117, 408–450) end-to-end on embeddings. Deterministic
    // models minted from the corpus head (centroids = first 8 vectors; PQ
    // sub-centroids = sub-blocks of the first 16). Oracle-checked: the DuckDB
    // SQL replays coarse argmin → residual (c−x) → per-sub-block encode → LUT
    // sums with list arithmetic; SimilaritySpec covers the scalar kernels.
    "q_embed_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (head, centroids, pq) = mintIvfPq(emb)
      // index build once (materialized — three searches scan it, the way a
      // snapshot-backed index is written once and probed many times)
      val enc = Similarity.ivfPqEncode(emb, "vec_id", "embedding", centroids, pq)
        .localCheckpoint(true)
      Similarity.ivfPqSearchMany(enc, "vec_id",
        (0 until 3).map(qi => (qi.toLong, head(qi))), centroids, pq,
        k = 10, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("list_id"),
          round(col("adc_dist"), 6).as("adc_dist"))
        .orderBy("query_id", "adc_dist", "neighbor_id")
    }),

    // Two-stage IVFADC+R: the same index, ADC widened to m=30 candidates,
    // exact squared-L2 re-rank against the full vectors, final k=10. The
    // oracle replays encode, probe, ADC candidate ranking AND the exact
    // re-rank end-to-end in SQL.
    "q_embed_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (head, centroids, pq) = mintIvfPq(emb)
      val enc = Similarity.ivfPqEncode(emb, "vec_id", "embedding", centroids, pq)
        .localCheckpoint(true)
      Similarity.ivfPqSearchRerank(enc, emb, "vec_id", "embedding",
        (0 until 3).map(qi => (qi.toLong, head(qi))), centroids, pq,
        k = 10, m = 30, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("list_id"),
          round(col("l2_dist"), 6).as("l2_dist"))
        .orderBy("query_id", "l2_dist", "neighbor_id")
    }),

    // Exact-vs-approx recall diagnostic (J5, exm/Example.java:155–182): the
    // per-query overlap of Linear vs IVF top-k — makes ANN quality a
    // hash-checked number (oracle recomputes both top-k sets and the overlap
    // in SQL; threshold additionally asserted in SimilaritySpec).
    "q_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val corpus = emb.withColumn("list_id",
        Similarity.withListId(emb, "embedding", centroids))
      val queries = emb.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 10)
      val approx = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding",
        centroids, k = 10, nprobe = 3)
      Similarity.recallAtK(exact, approx, k = 10).orderBy("query_id")
    }),

    // Matryoshka-style truncation/recall diagnostic (P18 truncate+renorm ×
    // J5 recall): exact top-k on full 64-dim vectors vs exact top-k on the
    // truncate_renorm(16) prefix — the dimension-vs-recall tradeoff number
    // a storage/latency decision starts from. The oracle replays the
    // truncation, BOTH rankings and the overlap end-to-end.
    "q_truncate_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id",
        "embedding", k = 10)
      val trunc = emb.select(col("vec_id"),
        graft.functions.VectorExpressions.truncate_renorm(col("embedding"), 16)
          .as("embedding"))
      val approx = Similarity.bruteForceTopK(trunc.where(col("vec_id") < 5),
        trunc, "vec_id", "embedding", k = 10)
      Similarity.recallAtK(exact, approx, k = 10).orderBy("query_id")
    }),

    // Radius (range) search — all corpus vectors with cosine ≥ τ per query;
    // threshold 0.25 sits ≥7e-4 from every corpus cosine at the gated SF, so
    // engine ulp differences cannot flip membership at the boundary.
    "q_embed_range" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.rangeSearch(emb.where(col("vec_id") < 3), emb,
        "vec_id", "embedding", minCosine = 0.25)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    }),

    // The same radius search expressed ENTIRELY as SQL text through the
    // registered function surface (GraftExtensions) — the driver-checked
    // proof that a SQL-only user gets the same engine: vec_cosine resolves
    // through the FunctionRegistry, plans codegen'd, results hash-equal.
    "q_sql_embed_range" -> ((s, dir) => {
      graft.functions.VectorExpressions.registerAll(s)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_emb")
      s.sql("""
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(vec_cosine(q.embedding, c.embedding), 6) AS cosine
        FROM graft_emb q JOIN graft_emb c
          ON q.vec_id < 3 AND q.vec_id <> c.vec_id
        WHERE vec_cosine(q.embedding, c.embedding) >= 0.25
        ORDER BY query_id, neighbor_id""")
    }),

    // The flagship top-k search expressed ENTIRELY as SQL text through the
    // registered function surface: vec_cosine scores, bounded_top_k ranks
    // (map-side heaps — the analyzer wraps the registered AggregateFunction).
    // Hash-equal to the q_embed_knn oracle ⇒ a SQL-only user gets the same
    // engine for the reference's core query shape.
    "q_sql_embed_knn" -> ((s, dir) => {
      graft.functions.VectorExpressions.registerAll(s)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_emb_knn")
      s.sql("""
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 vec_cosine(q.embedding, c.embedding) AS cos
          FROM graft_emb_knn q JOIN graft_emb_knn c
            ON q.vec_id < 5 AND q.vec_id <> c.vec_id
        ), tk AS (
          SELECT query_id, bounded_top_k(cos, neighbor_id, NULL, 10, false) AS tks
          FROM scored GROUP BY query_id
        )
        SELECT query_id, t.col.id AS neighbor_id,
               ROUND(t.col.score, 6) AS cosine, CAST(t.pos + 1 AS INT) AS rank
        FROM tk LATERAL VIEW POSEXPLODE(tks) t AS pos, col
        ORDER BY query_id, rank""")
    }),

    // Embedding near-dup pairs via hyperplane LSH + exact-cosine verify.
    // Injected exact duplicates hash identically ⇒ recall 1.0 for them, so
    // the SQL brute-force pairs (cosine ≥ 0.999) are a true oracle.
    "q_embed_neardup" -> ((s, dir) => {
      Similarity.embeddingNearDupPairs(embWithDupes(s, dir), "vec_id", "embedding",
        dim = 64, threshold = 0.999)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // SemDeDup-shaped near-dup: k-means-cluster candidate generation (coarse
    // centroids = first 8 corpus vectors, deterministic) + exact-cosine
    // verify within clusters. FULLY oracle-checked — the SQL replays the
    // squared-L2 argmin assignment (tie → lower centroid id) AND the
    // same-cluster constraint, so both the quantizer and the candidate rule
    // are hash-gated, not just the cosine arithmetic. Injected exact dupes
    // quantize identically ⇒ always same-cluster ⇒ always found.
    "q_embed_semantic_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      Similarity.semanticNearDupPairs(embWithDupes(s, dir), "vec_id", "embedding",
        centroids, threshold = 0.999, maxBucket = 1000000)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // INCREMENTAL SemDeDup replay: the corpus split into an OLD side (base
    // embeddings PLUS three old-side dupes at +2000000 — assignments
    // precomputed, the persisted snapshot stand-in) and a NEW batch (the
    // +1000000 dupes). semanticNearDupPairsIncremental emits only pairs
    // touching the new batch; the old-side dupes form old×old near-dup
    // pairs the FULL run would report, so the oracle (full SQL + touches-new
    // filter) hash-fails if the incremental path ever leaks old×old work —
    // the contract is gated, not just the cosine arithmetic.
    "q_embed_semantic_neardup_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val oldCorpus = emb.select("vec_id", "embedding").unionByName(
        emb.where(col("vec_id") >= 10 && col("vec_id") < 13)
          .select((col("vec_id") + 2000000).as("vec_id"), col("embedding")))
      val oldAssign = Similarity.semanticAssignments(
        oldCorpus, "vec_id", "embedding", centroids)
      val newBatch = emb.where(col("vec_id") < 10)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.semanticNearDupPairsIncremental(newBatch, oldAssign,
        "vec_id", "embedding", centroids, threshold = 0.999,
        maxBucket = 1000000)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_price,
        |CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS sum_disc_price,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_skew_salted_agg" ->
      """SELECT l_returnflag,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_join_agg" ->
      """SELECT n_name,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_shipping_priority" ->
      """SELECT l.l_orderkey,
        |  CAST(FLOOR(epoch(o.o_orderdate)) AS BIGINT) AS order_epoch,
        |  o.o_orderpriority,
        |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l.l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin,

    "q_anti_join" ->
      """SELECT o_orderkey FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_semi_join" ->
      """SELECT o_orderkey FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_except" ->
      """SELECT o_orderkey FROM orders
        |EXCEPT SELECT l_orderkey AS o_orderkey FROM lineitem
        |ORDER BY o_orderkey""".stripMargin,

    "q_asof_join" ->
      """WITH dedup AS (
        |  SELECT o_custkey AS user_id, o_orderdate, MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2
        |), v AS (
        |  SELECT user_id, o_orderkey, o_orderdate,
        |    LEAD(o_orderdate) OVER (PARTITION BY user_id ORDER BY o_orderdate) AS valid_to
        |  FROM dedup
        |)
        |SELECT e.event_id, v.o_orderkey, CAST(epoch(v.o_orderdate) AS BIGINT) AS asof_epoch
        |FROM events e JOIN v ON e.user_id = v.user_id
        |  AND v.o_orderdate <= e.ts AND (v.valid_to IS NULL OR e.ts < v.valid_to)
        |ORDER BY e.event_id""".stripMargin,

    "q_asof_forward" ->
      """WITH dedup AS (
        |  SELECT user_id, ts, MIN(event_id) AS event_id
        |  FROM events GROUP BY 1, 2
        |), v AS (
        |  SELECT user_id, event_id, ts,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_prev
        |  FROM dedup
        |)
        |SELECT o.o_orderkey, v.event_id, CAST(FLOOR(epoch(v.ts)) AS BIGINT) AS next_epoch
        |FROM orders o JOIN v ON o.o_custkey = v.user_id
        |  AND v.ts >= o.o_orderdate AND (v.valid_prev IS NULL OR o.o_orderdate > v.valid_prev)
        |ORDER BY o.o_orderkey""".stripMargin,

    "q_asof_tolerance" ->
      """WITH p AS (
        |  SELECT user_id, ts AS purchase_ts, MAX(event_id) AS purchase_event
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |), v AS (
        |  SELECT user_id, purchase_event, purchase_ts,
        |    LEAD(purchase_ts) OVER (PARTITION BY user_id ORDER BY purchase_ts) AS valid_to
        |  FROM p
        |)
        |-- FLOOR: Spark's timestamp→long cast truncates sub-second fractions,
        |-- DuckDB's BIGINT cast of epoch() would round them
        |SELECT e.event_id, v.purchase_event, CAST(FLOOR(epoch(v.purchase_ts)) AS BIGINT) AS asof_epoch
        |FROM events e JOIN v ON e.user_id = v.user_id
        |  AND v.purchase_ts <= e.ts AND (v.valid_to IS NULL OR e.ts < v.valid_to)
        |  AND e.ts <= v.purchase_ts + INTERVAL 1 HOUR
        |ORDER BY e.event_id""".stripMargin,

    "q_dedup_keep" ->
      """WITH RECURSIVE all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 500
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' extra' AS text
        |  FROM documents WHERE doc_id < 20
        |), base AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, array_length(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks FROM all_docs)
        |  WHERE array_length(toks) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM base a JOIN base b ON a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh)) > 0
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.6
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b AS a, id_a AS b FROM pairs
        |), reach AS (
        |  SELECT a AS id, a AS r FROM edges
        |  UNION
        |  SELECT reach.id, edges.b AS r FROM reach JOIN edges ON reach.r = edges.a
        |), comp AS (
        |  SELECT id, MIN(r) AS group_id FROM reach GROUP BY id
        |)
        |SELECT doc_id FROM all_docs
        |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> group_id)
        |ORDER BY doc_id""".stripMargin,

    // the q_dedup_keep replay with a keep-best layer: per component the
    // winner has the most tokens (ties -> lowest id); everyone else drops
    "q_dedup_keep_best" ->
      """WITH RECURSIVE all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 500
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' extra' AS text
        |  FROM documents WHERE doc_id < 20
        |), base AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, array_length(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks FROM all_docs)
        |  WHERE array_length(toks) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM base a JOIN base b ON a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh)) > 0
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.6
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b AS a, id_a AS b FROM pairs
        |), reach AS (
        |  SELECT a AS id, a AS r FROM edges
        |  UNION
        |  SELECT reach.id, edges.b AS r FROM reach JOIN edges ON reach.r = edges.a
        |), comp AS (
        |  SELECT id, MIN(r) AS group_id FROM reach GROUP BY id
        |), scored AS (
        |  SELECT comp.id, comp.group_id,
        |    array_length(regexp_split_to_array(TRIM(d.text), '\s+')) AS n_toks
        |  FROM comp JOIN all_docs d ON d.doc_id = comp.id
        |), winners AS (
        |  SELECT id FROM (
        |    SELECT id, ROW_NUMBER() OVER (PARTITION BY group_id
        |      ORDER BY n_toks DESC, id ASC) AS rn FROM scored)
        |  WHERE rn = 1
        |)
        |SELECT doc_id FROM all_docs
        |WHERE doc_id NOT IN (
        |  SELECT id FROM scored WHERE id NOT IN (SELECT id FROM winners))
        |ORDER BY doc_id""".stripMargin,

    "q_backfill" ->
      """SELECT event_id, ROUND(LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS last_purchase_value
        |FROM events ORDER BY event_id""".stripMargin,

    "q_lag_lead" ->
      """SELECT event_id,
        |ROUND(LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS value_lag1,
        |ROUND(LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS value_lead1
        |FROM events ORDER BY event_id""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
        |         WHEN CAST(epoch(ts) AS BIGINT) - CAST(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) > 1800 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM events
        |)
        |SELECT event_id, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM g ORDER BY event_id""".stripMargin,

    "q_window_agg" ->
      """SELECT event_id,
        |ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS rolling_sum,
        |COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS rolling_n
        |FROM events ORDER BY event_id""".stripMargin,

    "q_time_buckets" ->
      """SELECT CAST(FLOOR(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch,
        |  CAST(hour(ts) AS INT) AS hr,
        |  COUNT(*) AS n, ROUND(SUM(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day_epoch, hr""".stripMargin,

    "q_edit_distance" ->
      """SELECT d.doc_id, d.doc_id + 1000000 AS dup_id,
        |  CAST(levenshtein(substr(d.text, 1, 60), substr(d.text || ' extra', 1, 60)) AS INT) AS edit_dist
        |FROM documents d WHERE d.doc_id < 20 ORDER BY d.doc_id""".stripMargin,

    "q_count_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_rank_ntile" ->
      """SELECT event_id,
        |  CAST(RANK() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS rk,
        |  CAST(DENSE_RANK() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS drk,
        |  CAST(NTILE(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS quartile
        |FROM events ORDER BY event_id""".stripMargin,

    "q_cumsum" ->
      """SELECT event_id,
        |  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS run_sum,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_n
        |FROM events ORDER BY event_id""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_stats" ->
      """SELECT l_returnflag,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
        |  ROUND(var_samp(l_discount), 6) AS var_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(FLOOR(l_extendedprice / 10000) AS BIGINT) AS bucket, COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_intersect" ->
      """SELECT o_orderkey FROM orders
        |INTERSECT SELECT l_orderkey AS o_orderkey FROM lineitem
        |ORDER BY o_orderkey""".stripMargin,

    "q_topk_global" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,

    "q_topk_offset" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20 OFFSET 10""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, rk, ROUND(o_totalprice, 6) AS price FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
        |  FROM orders
        |) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q_dedup_first" ->
      """SELECT event_id, user_id, event_type FROM (
        |  SELECT event_id, user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events
        |) WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |  ELSE CAST(array_length(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT) END AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // chr(12288)=U+3000 ideographic space, chr(160)=NBSP,
    // chr(131072)/chr(131073)=U+20000/U+20001 (Han Ext-B, astral). The token
    // pattern is the engine's TextOps.unicodeTokenPattern verbatim — explicit
    // \x{…} code-point ranges, the RE2∩Java subset.
    "q_token_count_unicode" -> {
      val pat = graft.operators.TextOps.unicodeTokenPattern
      s"""WITH synth AS (
         |  SELECT doc_id, text || (CASE doc_id % 5
         |    WHEN 0 THEN ' 日本語のテキストです'
         |    WHEN 1 THEN ' 漢字' || chr(12288) || 'カナ mixed run'
         |    WHEN 2 THEN ' 한국어 텍스트'
         |    WHEN 3 THEN chr(160) || 'nbsp' || chr(160) || 'run ' || chr(131072) || chr(131073)
         |    ELSE '' END) AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN LENGTH(TRIM(t)) = 0 THEN 0
         |    ELSE CAST(array_length(regexp_split_to_array(TRIM(t), '\\s+')) AS BIGINT) END AS n_tokens_ws,
         |  CAST(len(regexp_extract_all(t, '$pat')) AS BIGINT) AS n_tokens
         |FROM synth ORDER BY doc_id""".stripMargin
    },

    "q_gopher_quality" -> {
      val T = graft.operators.TextOps
      val stopSum =
        s"len(list_distinct(regexp_extract_all(lower(t), '${T.gopherStopwordPattern}')))"
      s"""WITH synth AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % 3 = 0 THEN concat_ws(' ', text, text, text)
         |          WHEN doc_id % 3 = 1 THEN concat_ws(' ', text, text)
         |          ELSE text END) ||
         |    (CASE WHEN doc_id % 4 = 0 THEN chr(10) || '- bullet point' || chr(10) || '- another' || chr(10) || '* third'
         |          WHEN doc_id % 4 = 1 THEN chr(10) || 'this line trails off...' || chr(10) || 'and another one…'
         |          WHEN doc_id % 4 = 2 THEN ' ### ## # 123 456 789 ...'
         |          ELSE ' the data have to be of use with care' END) AS t
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id,
         |    CASE WHEN LENGTH(TRIM(t)) = 0 THEN 0
         |      ELSE CAST(array_length(regexp_split_to_array(TRIM(t), '\\s+')) AS BIGINT) END AS n_words,
         |    CAST(LENGTH(regexp_replace(t, '[ \\t\\n\\r]+', '', 'g')) AS DOUBLE) AS nchars,
         |    CAST(len(regexp_extract_all(t, '${T.gopherSymbolPattern}')) AS DOUBLE) AS nsym,
         |    CAST(array_length(string_split(t, chr(10))) AS DOUBLE) AS nlines,
         |    CAST(len(regexp_extract_all(t, '${T.gopherBulletLinePattern}')) AS DOUBLE) AS nbul,
         |    CAST(len(regexp_extract_all(t, '${T.gopherEllipsisLinePattern}')) AS DOUBLE) AS nell,
         |    CAST(len(regexp_extract_all(t, '${T.gopherAlphaWordPattern}')) AS DOUBLE) AS nalpha,
         |    CAST($stopSum AS INT) AS n_stopwords
         |  FROM synth),
         |r AS (
         |  SELECT doc_id, n_words, n_stopwords,
         |    nchars / GREATEST(CAST(n_words AS DOUBLE), 1.0) AS mean_word_len,
         |    nsym / GREATEST(CAST(n_words AS DOUBLE), 1.0) AS symbol_word_ratio,
         |    nbul / GREATEST(nlines, 1.0) AS bullet_line_frac,
         |    nell / GREATEST(nlines, 1.0) AS ellipsis_line_frac,
         |    nalpha / GREATEST(CAST(n_words AS DOUBLE), 1.0) AS alpha_word_frac
         |  FROM sig)
         |SELECT doc_id, n_words,
         |  ROUND(CASE WHEN n_words = 0 THEN 0.0 ELSE mean_word_len END, 6) AS mean_word_len,
         |  ROUND(CASE WHEN n_words = 0 THEN 0.0 ELSE symbol_word_ratio END, 6) AS symbol_word_ratio,
         |  ROUND(bullet_line_frac, 6) AS bullet_line_frac,
         |  ROUND(ellipsis_line_frac, 6) AS ellipsis_line_frac,
         |  ROUND(CASE WHEN n_words = 0 THEN 0.0 ELSE alpha_word_frac END, 6) AS alpha_word_frac,
         |  n_stopwords,
         |  (n_words >= 50 AND n_words <= 100000 AND
         |   mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
         |   symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9 AND
         |   ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8 AND
         |   n_stopwords >= 2) AS pass
         |FROM r ORDER BY doc_id""".stripMargin
    },

    // pattern interpolated verbatim: backslash escapes (\t \n \r) are inert in
    // DuckDB single-quoted strings and resolve inside RE2 exactly as the same
    // literal resolves in the JVM regex — both mean the control characters.
    "q_token_count_bpe" ->
      ("""SELECT doc_id, CAST(length(regexp_extract_all(text, '""" +
        graft.operators.TextOps.bpeTokenPattern +
        """')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""").stripMargin,

    // SUM(BIGINT) is HUGEINT in DuckDB — cast every sum (driver hash is
    // type-sensitive); ratios go through DOUBLE on both sides.
    "q_tokenizer_fertility" -> {
      val T = graft.operators.TextOps
      s"""WITH g AS (
         |  SELECT lang, COUNT(*) AS n_docs,
         |    CAST(SUM(len(regexp_extract_all(text, '${T.bpeTokenPattern}'))) AS BIGINT) AS n_bpe_tokens,
         |    CAST(SUM(len(regexp_extract_all(text, '${T.unicodeTokenPattern}'))) AS BIGINT) AS n_words,
         |    CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
         |  FROM documents GROUP BY lang)
         |SELECT lang, n_docs, n_bpe_tokens, n_words,
         |  ROUND(CAST(n_bpe_tokens AS DOUBLE) / n_words, 6) AS fertility,
         |  ROUND(CAST(n_chars AS DOUBLE) / n_bpe_tokens, 6) AS chars_per_token
         |FROM g ORDER BY lang""".stripMargin
    },

    "q_repetition" ->
      """SELECT doc_id, ROUND(CASE WHEN n_sh <= 0 THEN 0.0
        |  ELSE 1.0 - CAST(n_uniq AS DOUBLE) / n_sh END, 6) AS rep_ratio
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN array_length(toks) >= 3 THEN array_length(toks) - 2 ELSE 0 END AS n_sh,
        |    CASE WHEN array_length(toks) >= 3 THEN len(list_distinct(
        |      [array_to_string(toks[i:i+2], ' ') for i in range(1, array_length(toks) - 1)]))
        |      ELSE 0 END AS n_uniq
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks FROM documents)
        |) ORDER BY doc_id""".stripMargin,

    "q_ngram_topk" ->
      """WITH toks AS (
        |  SELECT regexp_split_to_array(TRIM(text), '\s+') AS toks
        |  FROM documents WHERE LENGTH(TRIM(text)) > 0
        |), grams AS (
        |  SELECT unnest([array_to_string(toks[i:i+1], ' ')
        |    for i in range(1, array_length(toks))]) AS ngram
        |  FROM toks WHERE array_length(toks) >= 2
        |)
        |SELECT ngram, COUNT(*) AS n FROM grams
        |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin,

    // langId replicated in SQL: same stopword lists, same distinct-hit
    // counts, same tie-break (argmax with ties to the lexicographically
    // GREATEST language code — the struct array_max ordering).
    "q_langid" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(regexp_split_to_array(TRIM(text), '\s+')) AS dt
        |  FROM documents
        |), hits AS (
        |  SELECT doc_id,
        |    len(list_intersect(dt, ['der','die','das','und','ist','ein','nicht','mit'])) AS h_de,
        |    len(list_intersect(dt, ['the','a','of','and','to','in','is','it'])) AS h_en,
        |    len(list_intersect(dt, ['el','la','de','y','es','un','una','no'])) AS h_es,
        |    len(list_intersect(dt, ['le','la','de','et','est','un','une','pas'])) AS h_fr,
        |    len(list_intersect(dt, ['的','是','了','在','我','有','和','不'])) AS h_zh
        |  FROM toks
        |)
        |SELECT doc_id, CASE
        |  WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
        |  WHEN h_zh >= greatest(h_de, h_en, h_es, h_fr) THEN 'zh'
        |  WHEN h_fr >= greatest(h_de, h_en, h_es) THEN 'fr'
        |  WHEN h_es >= greatest(h_de, h_en) THEN 'es'
        |  WHEN h_en >= h_de THEN 'en'
        |  ELSE 'de' END AS lang_pred
        |FROM hits ORDER BY doc_id""".stripMargin,

    // NB langid replayed end-to-end: marker synthesis, char-trigram counts
    // (substr is character-based in DuckDB; the Spark expression iterates
    // code points to match), per-lang totals, doc priors, V, add-1 smoothing
    // and the (score DESC, lang ASC) argmax.
    "q_langid_nb" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |    text || ' qx' || lang || ' qx' || lang || ' qx' || lang AS text
        |  FROM documents
        |), tris AS (
        |  SELECT doc_id, lang,
        |    unnest([substr(s, i, 3) for i in range(1, len(s) - 1)]) AS tri
        |  FROM (SELECT doc_id, lang, TRIM(text) AS s FROM docs)
        |), cnts AS (
        |  SELECT lang, tri, COUNT(*) AS cnt FROM tris GROUP BY lang, tri
        |), cls AS (
        |  SELECT c.lang, SUM(cnt) AS n_tris, ANY_VALUE(d.n_docs) AS n_docs
        |  FROM cnts c JOIN (
        |    SELECT lang, COUNT(*) AS n_docs FROM docs GROUP BY lang) d
        |    USING (lang)
        |  GROUP BY c.lang
        |), consts AS (
        |  SELECT (SELECT COUNT(DISTINCT tri) FROM cnts) AS v,
        |         (SELECT COUNT(*) FROM docs) AS total
        |), scored AS (
        |  SELECT t.doc_id, cl.lang,
        |    SUM(LN((COALESCE(c.cnt, 0) + 1.0) /
        |      (CAST(cl.n_tris AS DOUBLE) + 1.0 * consts.v))) AS ll
        |  FROM (SELECT doc_id, tri FROM tris) t
        |  CROSS JOIN cls cl CROSS JOIN consts
        |  LEFT JOIN cnts c ON c.lang = cl.lang AND c.tri = t.tri
        |  GROUP BY t.doc_id, cl.lang
        |), post AS (
        |  SELECT s.doc_id, s.lang,
        |    s.ll + LN(CAST(cl.n_docs AS DOUBLE) / consts.total) AS score
        |  FROM scored s JOIN cls cl USING (lang) CROSS JOIN consts
        |)
        |SELECT doc_id, lang AS lang_pred, ROUND(score, 6) AS score
        |FROM (SELECT post.*, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, lang ASC) AS rn FROM post)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_rare_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(TRIM(text), '\s+')) AS tok
        |  FROM documents WHERE LENGTH(TRIM(text)) > 0
        |), df AS (
        |  SELECT tok, COUNT(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY tok
        |), rare AS (
        |  SELECT doc_id, COUNT(*) AS n_rare
        |  FROM toks JOIN df USING (tok) WHERE df.doc_freq <= 2
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id, COALESCE(r.n_rare, 0) AS n_rare
        |FROM documents d LEFT JOIN rare r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_decontaminate" ->
      """WITH tsh AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, array_length(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks FROM documents)
        |  WHERE array_length(toks) >= 3
        |), bsh AS (
        |  SELECT doc_id + 5000000 AS bench_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, array_length(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks
        |        FROM documents WHERE doc_id < 15)
        |  WHERE array_length(toks) >= 3
        |), contaminated AS (
        |  SELECT DISTINCT t.doc_id
        |  FROM tsh t JOIN bsh b ON len(list_intersect(t.sh, b.sh)) > 0
        |  WHERE CAST(len(list_intersect(t.sh, b.sh)) AS DOUBLE) / len(b.sh) >= 0.8
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |ORDER BY doc_id""".stripMargin,

    // The Bloom prefilter is output-invisible (conservative prune + exact
    // verify), so the oracle is the same exact containment arithmetic on
    // this query's bench slice and threshold.
    "q_decontaminate_bloom" ->
      """WITH tsh AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, array_length(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks FROM documents)
        |  WHERE array_length(toks) >= 3
        |), bsh AS (
        |  SELECT doc_id + 6000000 AS bench_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, array_length(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks
        |        FROM documents WHERE doc_id >= 10 AND doc_id < 25)
        |  WHERE array_length(toks) >= 3
        |), contaminated AS (
        |  SELECT DISTINCT t.doc_id
        |  FROM tsh t JOIN bsh b ON len(list_intersect(t.sh, b.sh)) > 0
        |  WHERE CAST(len(list_intersect(t.sh, b.sh)) AS DOUBLE) / len(b.sh) >= 0.7
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_groups" ->
      """WITH RECURSIVE all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 500
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' extra' AS text
        |  FROM documents WHERE doc_id < 20
        |), base AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, array_length(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks FROM all_docs)
        |  WHERE array_length(toks) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM base a JOIN base b ON a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh)) > 0
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.6
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b AS a, id_a AS b FROM pairs
        |), reach AS (
        |  SELECT a AS id, a AS r FROM edges
        |  UNION
        |  SELECT reach.id, edges.b AS r FROM reach JOIN edges ON reach.r = edges.a
        |)
        |SELECT id AS doc_id, MIN(r) AS group_id FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // Positional 4-gram occurrences via zipped parallel unnests (1-based
    // slice i..i+3 = 4 tokens; emitted pos is 0-based to match posexplode),
    // then the same cap → cross-doc match → diagonal-islands arithmetic.
    "q_repeated_spans" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' extra' AS text
        |  FROM documents WHERE doc_id < 20
        |), occ AS (
        |  SELECT doc_id,
        |    unnest(range(1, array_length(toks) - 2)) - 1 AS pos,
        |    unnest([array_to_string(toks[i:i+3], ' ')
        |      for i in range(1, array_length(toks) - 2)]) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks FROM all_docs)
        |), ok AS (
        |  SELECT sh FROM occ GROUP BY sh HAVING COUNT(*) <= 1000
        |), capped AS (
        |  SELECT o.* FROM occ o JOIN ok USING (sh)
        |), m AS (
        |  SELECT a.doc_id AS id_a, a.pos AS pos_a, b.doc_id AS id_b,
        |         b.pos AS pos_b, a.pos - b.pos AS diag
        |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |), isl AS (
        |  SELECT id_a, id_b, diag, pos_a, pos_b,
        |    pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS island
        |  FROM m
        |)
        |SELECT id_a, CAST(MIN(pos_a) AS INT) AS start_a, id_b,
        |  CAST(MIN(pos_b) AS INT) AS start_b,
        |  CAST(COUNT(*) + 3 AS INT) AS span_tokens
        |FROM isl GROUP BY id_a, id_b, diag, island
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,

    // Span discovery replayed as above (k=4, spans filtered to ≥8 tokens),
    // then the cut itself: drop-position sets per higher-id doc, kept
    // tokens re-joined with single spaces in position order; untouched
    // docs pass the original text through verbatim via the CASE.
    "q_cut_spans" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' extra' AS text
        |  FROM documents WHERE doc_id < 20
        |), tok AS (
        |  SELECT doc_id, text, regexp_split_to_array(TRIM(text), '\s+') AS toks
        |  FROM all_docs
        |), occ AS (
        |  SELECT doc_id,
        |    unnest(range(1, array_length(toks) - 2)) - 1 AS pos,
        |    unnest([array_to_string(toks[i:i+3], ' ')
        |      for i in range(1, array_length(toks) - 2)]) AS sh
        |  FROM tok
        |), ok AS (
        |  SELECT sh FROM occ GROUP BY sh HAVING COUNT(*) <= 1000
        |), capped AS (
        |  SELECT o.* FROM occ o JOIN ok USING (sh)
        |), m AS (
        |  SELECT a.doc_id AS id_a, a.pos AS pos_a, b.doc_id AS id_b,
        |         b.pos AS pos_b, a.pos - b.pos AS diag
        |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |), isl AS (
        |  SELECT id_a, id_b, diag, pos_a, pos_b,
        |    pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS island
        |  FROM m
        |), spans AS (
        |  SELECT id_b, MIN(pos_b) AS start_b, COUNT(*) + 3 AS span_tokens
        |  FROM isl GROUP BY id_a, id_b, diag, island
        |  HAVING COUNT(*) + 3 >= 8
        |), dpos AS (
        |  SELECT DISTINCT id_b AS doc_id,
        |    unnest(range(start_b, start_b + span_tokens)) AS pos
        |  FROM spans
        |), tokpos AS (
        |  SELECT doc_id,
        |    unnest(toks) AS tk,
        |    unnest(range(1, array_length(toks) + 1)) - 1 AS pos
        |  FROM tok WHERE doc_id IN (SELECT doc_id FROM dpos)
        |), keptagg AS (
        |  SELECT tp.doc_id, string_agg(tp.tk, ' ' ORDER BY tp.pos) AS ct
        |  FROM tokpos tp ANTI JOIN dpos dp
        |    ON tp.doc_id = dp.doc_id AND tp.pos = dp.pos
        |  GROUP BY tp.doc_id
        |), ncut AS (
        |  SELECT doc_id, COUNT(*) AS n FROM dpos GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN n.n IS NULL THEN d.text ELSE COALESCE(k.ct, '') END AS clean_text,
        |  CAST(COALESCE(n.n, 0) AS INT) AS n_cut_tokens
        |FROM all_docs d
        |LEFT JOIN ncut n USING (doc_id)
        |LEFT JOIN keptagg k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Within-doc spans: the same positional-shingle replay, self-joined on
    // doc_id with pos_a < pos_b; islands coalesce per (id, diagonal).
    "q_within_doc_spans" ->
      """WITH all_docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END AS text
        |  FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    'pad1 pad2 ' || CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END AS text
        |  FROM documents WHERE doc_id < 10
        |), occ AS (
        |  SELECT doc_id,
        |    unnest(range(1, array_length(toks) - 2)) - 1 AS pos,
        |    unnest([array_to_string(toks[i:i+3], ' ')
        |      for i in range(1, array_length(toks) - 2)]) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks FROM all_docs)
        |), ok AS (
        |  SELECT sh FROM occ GROUP BY sh HAVING COUNT(*) <= 1000
        |), capped AS (
        |  SELECT o.* FROM occ o JOIN ok USING (sh)
        |), m AS (
        |  SELECT a.doc_id AS id, a.pos AS pos_a, b.pos AS pos_b,
        |         b.pos - a.pos AS diag
        |  FROM capped a JOIN capped b
        |    ON a.sh = b.sh AND a.doc_id = b.doc_id AND a.pos < b.pos
        |), isl AS (
        |  SELECT id, diag, pos_a, pos_b,
        |    pos_a - ROW_NUMBER() OVER (PARTITION BY id, diag ORDER BY pos_a) AS island
        |  FROM m
        |)
        |SELECT id, CAST(MIN(pos_a) AS INT) AS start_a,
        |  CAST(MIN(pos_b) AS INT) AS start_b,
        |  CAST(COUNT(*) + 3 AS INT) AS span_tokens
        |FROM isl GROUP BY id, diag, island
        |ORDER BY id, start_a, start_b""".stripMargin,

    // Combined cut: cross-doc spans (cut from the higher id) UNION ALL
    // within-doc spans (later occurrence cut), both ≥8 tokens, then the
    // same drop-position anti-join + ordered re-join as q_cut_spans —
    // overlap merging across the two span sources is DISTINCT on position.
    "q_cut_spans_within" ->
      """WITH all_docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END AS text
        |  FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    'pad1 pad2 ' || CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END AS text
        |  FROM documents WHERE doc_id < 10
        |), tok AS (
        |  SELECT doc_id, text, regexp_split_to_array(TRIM(text), '\s+') AS toks
        |  FROM all_docs
        |), occ AS (
        |  SELECT doc_id,
        |    unnest(range(1, array_length(toks) - 2)) - 1 AS pos,
        |    unnest([array_to_string(toks[i:i+3], ' ')
        |      for i in range(1, array_length(toks) - 2)]) AS sh
        |  FROM tok
        |), ok AS (
        |  SELECT sh FROM occ GROUP BY sh HAVING COUNT(*) <= 1000
        |), capped AS (
        |  SELECT o.* FROM occ o JOIN ok USING (sh)
        |), mc AS (
        |  SELECT a.doc_id AS id_a, a.pos AS pos_a, b.doc_id AS id_b,
        |         b.pos AS pos_b, a.pos - b.pos AS diag
        |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |), islc AS (
        |  SELECT id_a, id_b, diag, pos_b,
        |    pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS island
        |  FROM mc
        |), cspans AS (
        |  SELECT id_b AS doc_id, MIN(pos_b) AS start_b, COUNT(*) + 3 AS span_tokens
        |  FROM islc GROUP BY id_a, id_b, diag, island
        |  HAVING COUNT(*) + 3 >= 8
        |), mw AS (
        |  SELECT a.doc_id AS id, a.pos AS pos_a, b.pos AS pos_b,
        |         b.pos - a.pos AS diag
        |  FROM capped a JOIN capped b
        |    ON a.sh = b.sh AND a.doc_id = b.doc_id AND a.pos < b.pos
        |), islw AS (
        |  SELECT id, diag, pos_b,
        |    pos_a - ROW_NUMBER() OVER (PARTITION BY id, diag ORDER BY pos_a) AS island
        |  FROM mw
        |), wspans AS (
        |  SELECT id AS doc_id, MIN(pos_b) AS start_b, COUNT(*) + 3 AS span_tokens
        |  FROM islw GROUP BY id, diag, island
        |  HAVING COUNT(*) + 3 >= 8
        |), spans AS (
        |  SELECT * FROM cspans UNION ALL SELECT * FROM wspans
        |), dpos AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(range(start_b, start_b + span_tokens)) AS pos
        |  FROM spans
        |), tokpos AS (
        |  SELECT doc_id,
        |    unnest(toks) AS tk,
        |    unnest(range(1, array_length(toks) + 1)) - 1 AS pos
        |  FROM tok WHERE doc_id IN (SELECT doc_id FROM dpos)
        |), keptagg AS (
        |  SELECT tp.doc_id, string_agg(tp.tk, ' ' ORDER BY tp.pos) AS ct
        |  FROM tokpos tp ANTI JOIN dpos dp
        |    ON tp.doc_id = dp.doc_id AND tp.pos = dp.pos
        |  GROUP BY tp.doc_id
        |), ncut AS (
        |  SELECT doc_id, COUNT(*) AS n FROM dpos GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN n.n IS NULL THEN d.text ELSE COALESCE(k.ct, '') END AS clean_text,
        |  CAST(COALESCE(n.n, 0) AS INT) AS n_cut_tokens
        |FROM all_docs d
        |LEFT JOIN ncut n USING (doc_id)
        |LEFT JOIN keptagg k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      """SELECT doc_id, ROUND(
        |  GREATEST(0.0, LEAST(1.0,
        |    0.5
        |    + 0.5 * LEAST(CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |        ELSE array_length(regexp_split_to_array(TRIM(text), '\s+')) END AS DOUBLE), 200.0) / 200.0
        |    - (CAST(LENGTH(text) AS DOUBLE) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g'))) / GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0)
        |    - (CAST(LENGTH(text) AS DOUBLE) - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))) / GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0)
        |  )), 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Doc-local chunking replayed with a lateral UNNEST over per-doc chunk
    // counts; DuckDB list slices clamp at the array end exactly like Spark's
    // `slice`, so the short last chunk agrees.
    "q_chunk_tokens" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks
        |  FROM documents WHERE LENGTH(TRIM(text)) > 0
        |)
        |SELECT doc_id, CAST(t.i AS INT) AS chunk_idx,
        |  CAST(LEAST(64, array_length(toks) - t.i * 64) AS INT) AS n_tokens,
        |  array_to_string(toks[t.i*64+1 : t.i*64+64], ' ') AS chunk_text
        |FROM base, UNNEST(range(0, CAST(ceil(array_length(toks) / 64.0) AS BIGINT))) AS t(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // Packing replay: same whitespace token counts, same md5-shard
    // arithmetic as q_split_assign, cumulative sum per shard ordered by
    // doc_id, integer division (DuckDB `//` on BIGINT = Spark `div`).
    "q_pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(array_length(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS shard
        |  FROM documents WHERE LENGTH(TRIM(text)) > 0
        |), c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
        |  FROM toks
        |)
        |SELECT doc_id, shard, n_tokens,
        |  CAST((e - n_tokens) // 256 AS BIGINT) AS seq_id,
        |  CAST((e - n_tokens) % 256 AS BIGINT) AS seq_offset,
        |  ((e - 1) // 256) > ((e - n_tokens) // 256) AS straddles
        |FROM c ORDER BY doc_id""".stripMargin,

    // The audio corpus is synthesized IN-QUERY from closed-form parameters
    // (sine clips; sfDir-independent), so the oracle replays the synthesis
    // and the stats arithmetic directly — TRUNC matches Scala's
    // Double→Short truncation-toward-zero, samples are short/32768 exactly.
    // A WAV-parsing bug, stats bug, or error-channel bug all hash-fail.
    "q_audio_stats" ->
      """WITH clips AS (
        |  SELECT i, 400 + (i % 5) * 100 AS n, 100.0 + (i % 7) * 50.0 AS freq
        |  FROM (SELECT unnest(range(0, 64)) AS i) WHERE i <> 1
        |), samples AS (
        |  SELECT c.i, c.n, TRUNC(sin(2 * pi() * c.freq * t.t / 8000.0) * 12000) / 32768.0 AS s
        |  FROM clips c, UNNEST(range(0, c.n)) AS t(t)
        |), stats AS (
        |  SELECT i, ANY_VALUE(n) AS n,
        |    SQRT(SUM(s * s) / ANY_VALUE(n)) AS rms, MAX(ABS(s)) AS peak
        |  FROM samples GROUP BY i
        |)
        |SELECT concat('aud_', lpad(CAST(i AS VARCHAR), 4, '0')) AS clip_id,
        |  CAST(8000 AS INT) AS sample_rate, CAST(n AS BIGINT) AS n_samples,
        |  ROUND(rms, 6) AS rms, ROUND(peak, 6) AS peak, FALSE AS is_corrupt
        |FROM stats
        |UNION ALL
        |SELECT 'aud_0001', NULL, NULL, NULL, NULL, TRUE
        |ORDER BY clip_id""".stripMargin,

    // Video corpus likewise synthesized in-query (mixed real-AVI / toy-GVID,
    // one corrupt row): the oracle states the EXPECTED demux + decode
    // counts — (i%6)+1 frames sampled every 2nd; AVI rows (even i) must
    // decode every sampled MJPEG frame, GVID payloads decode to null — so a
    // demux, frame-slice, or decoder regression hash-fails.
    "q_video_frames" ->
      """WITH v AS (
        |  SELECT i, (i % 6) + 1 AS k FROM (SELECT unnest(range(0, 48)) AS i)
        |)
        |SELECT concat('vid_', lpad(CAST(i AS VARCHAR), 4, '0')) AS video_id,
        |  CAST(CASE WHEN i = 2 THEN 0 ELSE (k + 1) // 2 END AS INT) AS n_sampled,
        |  CAST(CASE WHEN i = 2 THEN 0 WHEN i % 2 = 0 THEN (k + 1) // 2 ELSE 0 END AS INT) AS n_decoded,
        |  i = 2 AS is_corrupt
        |FROM v ORDER BY video_id""".stripMargin,

    "q_vocabulary" ->
      """WITH counts AS (
        |  SELECT t.tok AS token, COUNT(*) AS n_occurrences,
        |    COUNT(DISTINCT doc_id) AS n_docs
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(TRIM(text), '\s+')) AS tok
        |        FROM documents WHERE LENGTH(TRIM(text)) > 0) t
        |  GROUP BY t.tok HAVING COUNT(*) >= 5
        |)
        |SELECT token, n_occurrences, n_docs,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) - 1 AS BIGINT) AS token_id
        |FROM counts ORDER BY token_id""".stripMargin,

    "q_tfidf" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks
        |  FROM documents WHERE doc_id < 100 AND LENGTH(TRIM(text)) > 0
        |), n AS (SELECT COUNT(*) AS nd FROM base),
        |terms AS (
        |  SELECT doc_id, t.tok AS token, COUNT(*) AS tc,
        |    ANY_VALUE(array_length(toks)) AS len
        |  FROM base, UNNEST(toks) AS t(tok)
        |  GROUP BY doc_id, t.tok
        |), dfreq AS (SELECT token, COUNT(*) AS df FROM terms GROUP BY token)
        |SELECT terms.doc_id, terms.token,
        |  ROUND(CAST(tc AS DOUBLE) / len, 6) AS tf,
        |  ROUND(ln(CAST(nd AS DOUBLE) / df), 6) AS idf,
        |  ROUND((CAST(tc AS DOUBLE) / len) * ln(CAST(nd AS DOUBLE) / df), 6) AS tfidf
        |FROM terms JOIN dfreq ON dfreq.token = terms.token CROSS JOIN n
        |ORDER BY terms.doc_id, terms.token""".stripMargin,

    // Bigram-LM cross-entropy replayed end-to-end: bigram counts, prefix
    // counts, vocab size, the add-k arithmetic and the per-doc aggregate.
    // Parallel unnest calls zip element-wise in DuckDB; range(1, len) is
    // empty for single-token docs, so they drop out exactly like Spark's
    // empty shingle array. The unseen-prefix CASE mirrors lmScore verbatim
    // (it cannot fire self-scored, but the formulas must match anyway).
    "q_lm_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS t
        |  FROM documents WHERE LENGTH(TRIM(text)) > 0
        |), bg AS (
        |  SELECT doc_id,
        |    unnest([t[i] for i in range(1, len(t))]) AS w1,
        |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |  FROM toks
        |), c12 AS (
        |  SELECT bg, COUNT(*) AS c12 FROM bg GROUP BY bg
        |), c1 AS (
        |  SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1
        |), v AS (
        |  SELECT COUNT(DISTINCT tok) AS v
        |  FROM (SELECT unnest(t) AS tok FROM toks)
        |)
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(-SUM(CASE WHEN c1.c1 IS NULL THEN LN(1.0 / v.v)
        |    ELSE LN((COALESCE(c12.c12, 0) + 0.1) / (c1.c1 + 0.1 * v.v)) END)
        |    / COUNT(*), 6) AS cross_entropy
        |FROM bg b LEFT JOIN c12 ON b.bg = c12.bg
        |  LEFT JOIN c1 ON b.w1 = c1.w1 CROSS JOIN v
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    // Stupid Backoff replayed end-to-end: position table with row-local
    // context columns (1-based comprehension indices), the three count
    // tables, five left joins and the backoff CASE cascade. NULL context
    // keys (pos 0/1) never match — same as Spark's short concat_ws keys.
    "q_sb_trigram" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS t
        |  FROM documents WHERE LENGTH(TRIM(text)) > 0
        |), pos AS (
        |  SELECT doc_id,
        |    unnest(range(0, len(t))) AS pos,
        |    unnest(t) AS w,
        |    unnest([CASE WHEN i >= 2 THEN t[i-1] END
        |            for i in range(1, len(t)+1)]) AS w1,
        |    unnest([CASE WHEN i >= 3 THEN t[i-2] END
        |            for i in range(1, len(t)+1)]) AS w2
        |  FROM toks
        |), uni AS (SELECT w, COUNT(*) AS c1 FROM pos GROUP BY w),
        |bgc AS (
        |  SELECT w1 || ' ' || w AS bgk, COUNT(*) AS c2 FROM pos
        |  WHERE w1 IS NOT NULL GROUP BY 1
        |), tgc AS (
        |  SELECT w2 || ' ' || w1 || ' ' || w AS tgk, COUNT(*) AS c3 FROM pos
        |  WHERE w2 IS NOT NULL GROUP BY 1
        |), tot AS (SELECT COUNT(*) AS n FROM pos),
        |s1 AS (
        |  SELECT p.doc_id, p.pos,
        |    CASE WHEN u.c1 IS NULL THEN 1.0 / CAST(tot.n AS DOUBLE)
        |         ELSE CAST(u.c1 AS DOUBLE) / CAST(tot.n AS DOUBLE) END AS su,
        |    CAST(b.c2 AS DOUBLE) AS c2, CAST(up.c1 AS DOUBLE) AS c1p,
        |    CAST(tg.c3 AS DOUBLE) AS c3, CAST(bp.c2 AS DOUBLE) AS c2p
        |  FROM pos p CROSS JOIN tot
        |  LEFT JOIN uni u ON u.w = p.w
        |  LEFT JOIN uni up ON up.w = p.w1
        |  LEFT JOIN bgc b ON b.bgk = p.w1 || ' ' || p.w
        |  LEFT JOIN bgc bp ON bp.bgk = p.w2 || ' ' || p.w1
        |  LEFT JOIN tgc tg ON tg.tgk = p.w2 || ' ' || p.w1 || ' ' || p.w
        |), s2 AS (
        |  SELECT *, CASE WHEN c2 IS NOT NULL THEN c2 / c1p
        |    ELSE CAST(0.4 AS DOUBLE) * su END AS sb
        |  FROM s1
        |), s3 AS (
        |  SELECT doc_id,
        |    CASE WHEN pos = 0 THEN su WHEN pos = 1 THEN sb
        |      ELSE CASE WHEN c3 IS NOT NULL THEN c3 / c2p
        |        ELSE CAST(0.4 AS DOUBLE) * sb END END AS s
        |  FROM s2
        |)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(SUM(-LN(s)) / COUNT(*), 6) AS sb_logscore
        |FROM s3 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // CCNet head/middle/tail buckets: the q_lm_perplexity replay plus an
    // exact-rank tercile layer. Rank is ROW_NUMBER under (ROUND(ce, 6),
    // doc_id) — the rounded key is the precision the oracle layer already
    // proves cross-engine, and quantizing kills FP merge-order noise so
    // equal-content docs tie deterministically on doc_id in BOTH engines.
    // bucket_id = min(floor(rank*3/n), 2): rank*3 and n are exact in
    // double, so the division rounds identically in both engines.
    "q_perplexity_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS t
        |  FROM documents WHERE LENGTH(TRIM(text)) > 0
        |), bg AS (
        |  SELECT doc_id,
        |    unnest([t[i] for i in range(1, len(t))]) AS w1,
        |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |  FROM toks
        |), c12 AS (
        |  SELECT bg, COUNT(*) AS c12 FROM bg GROUP BY bg
        |), c1 AS (
        |  SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1
        |), v AS (
        |  SELECT COUNT(DISTINCT tok) AS v
        |  FROM (SELECT unnest(t) AS tok FROM toks)
        |), scored AS (
        |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |    -SUM(CASE WHEN c1.c1 IS NULL THEN LN(1.0 / v.v)
        |      ELSE LN((COALESCE(c12.c12, 0) + 0.1) / (c1.c1 + 0.1 * v.v)) END)
        |      / COUNT(*) AS ce
        |  FROM bg b LEFT JOIN c12 ON b.bg = c12.bg
        |    LEFT JOIN c1 ON b.w1 = c1.w1 CROSS JOIN v
        |  GROUP BY b.doc_id
        |), ranked AS (
        |  SELECT doc_id, n_bigrams, ce,
        |    ROW_NUMBER() OVER (ORDER BY ROUND(ce, 6), doc_id) - 1 AS rnk,
        |    COUNT(*) OVER () AS n
        |  FROM scored
        |)
        |SELECT doc_id, n_bigrams, ROUND(ce, 6) AS cross_entropy,
        |  CAST(LEAST(FLOOR(rnk * 3 / CAST(n AS DOUBLE)), 2) AS INT) AS bucket_id,
        |  CASE CAST(LEAST(FLOOR(rnk * 3 / CAST(n AS DOUBLE)), 2) AS INT)
        |    WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM ranked ORDER BY doc_id""".stripMargin,

    // Boilerplate-line removal replayed by line CONTENT (Spark groups by the
    // dual xxhash64/sha2 fingerprint — a collision or hashing bug produces a
    // different drop set and hash-fails). Parallel unnests zip line text
    // with its 0-based index; blank lines never enter `hot` and survive in
    // `kept`, preserving paragraph structure.
    "q_remove_boilerplate" ->
      """WITH docs AS (
        |  SELECT doc_id, text || chr(10) || 'uniq marker ' || CAST(doc_id AS VARCHAR)
        |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'subscribe to our newsletter' ELSE '' END
        |    || chr(10) || chr(10) || '(c) example corp all rights reserved' AS text
        |  FROM documents
        |), lines AS (
        |  SELECT doc_id, unnest(range(0, len(ls))) AS line_no, unnest(ls) AS ln
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs)
        |), hot AS (
        |  SELECT ln FROM lines WHERE LENGTH(TRIM(ln)) > 0
        |  GROUP BY ln HAVING COUNT(DISTINCT doc_id) >= 10
        |), kept AS (
        |  SELECT l.doc_id, l.line_no, l.ln
        |  FROM lines l LEFT JOIN hot h USING (ln) WHERE h.ln IS NULL
        |), rebuilt AS (
        |  SELECT doc_id, array_to_string(list(ln ORDER BY line_no), chr(10)) AS clean_text
        |  FROM kept GROUP BY doc_id
        |), drops AS (
        |  SELECT doc_id, COUNT(*) AS n_dropped FROM lines JOIN hot USING (ln) GROUP BY doc_id
        |)
        |SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text,
        |  CAST(COALESCE(dr.n_dropped, 0) AS INT) AS n_dropped_lines
        |FROM docs d LEFT JOIN rebuilt r USING (doc_id) LEFT JOIN drops dr USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Keep-first paragraph dedup replay: occurrences ranked by (doc_id, pos)
    // per unit text; rank > 1 occurrences are dropped and documents are
    // rebuilt from the surviving units in position order (whitespace-only
    // units are never candidates, mirroring the engine's trim filter).
    "q_dedup_paragraphs" ->
      """WITH docs AS (
        |  SELECT doc_id, text || chr(10) || 'shared quote ' || CAST(doc_id % 50 AS VARCHAR)
        |    || chr(10) || 'shared quote ' || CAST(doc_id % 50 AS VARCHAR) AS text
        |  FROM documents
        |), paras AS (
        |  SELECT doc_id, unnest(range(0, len(ls))) AS pos, unnest(ls) AS p
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs)
        |), dropped AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      ROW_NUMBER() OVER (PARTITION BY p ORDER BY doc_id, pos) AS rn
        |    FROM paras WHERE LENGTH(TRIM(p)) > 0) WHERE rn > 1
        |), kept AS (
        |  SELECT pa.doc_id, pa.pos, pa.p
        |  FROM paras pa LEFT JOIN dropped d
        |    ON pa.doc_id = d.doc_id AND pa.pos = d.pos
        |  WHERE d.doc_id IS NULL
        |), rebuilt AS (
        |  SELECT doc_id, array_to_string(list(p ORDER BY pos), chr(10)) AS clean_text
        |  FROM kept GROUP BY doc_id
        |), ndrop AS (
        |  SELECT doc_id, COUNT(*) AS n FROM dropped GROUP BY doc_id
        |)
        |SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text,
        |  CAST(COALESCE(nd.n, 0) AS INT) AS n_dropped_paras
        |FROM docs d LEFT JOIN rebuilt r USING (doc_id) LEFT JOIN ndrop nd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // element-wise mean per label replayed dimension-wise (AVG over the
    // DOUBLE[] slot per dim; list indexing is 1-based in DuckDB)
    "q_embed_label_centroid" ->
      """WITH e AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), ns AS (SELECT label, COUNT(*) AS n_vecs FROM e GROUP BY label)
        |SELECT e.label, CAST(t.i - 1 AS INT) AS dim,
        |  ROUND(AVG(e.v[t.i]), 6) AS centroid, ANY_VALUE(ns.n_vecs) AS n_vecs
        |FROM e JOIN ns ON ns.label = e.label, UNNEST(range(1, 65)) AS t(i)
        |GROUP BY e.label, t.i
        |ORDER BY e.label, dim""".stripMargin,

    // Group-aware split: the q_dedup_groups recursive-CTE components feed the
    // q_split_assign md5 arithmetic through COALESCE(group_id, doc_id).
    "q_split_by_group" ->
      """WITH RECURSIVE all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 500
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' extra' AS text
        |  FROM documents WHERE doc_id < 20
        |), base AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, array_length(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks FROM all_docs)
        |  WHERE array_length(toks) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM base a JOIN base b ON a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh)) > 0
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.6
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b AS a, id_a AS b FROM pairs
        |), reach AS (
        |  SELECT a AS id, a AS r FROM edges
        |  UNION
        |  SELECT reach.id, edges.b AS r FROM reach JOIN edges ON reach.r = edges.a
        |), groups AS (
        |  SELECT id AS doc_id, MIN(r) AS group_id FROM reach GROUP BY id
        |)
        |SELECT doc_id,
        |  CASE WHEN pct < 80 THEN 'train' WHEN pct < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (
        |  SELECT a.doc_id,
        |    CAST(concat('0x', substr(md5(CAST(COALESCE(g.group_id, a.doc_id) AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS pct
        |  FROM all_docs a LEFT JOIN groups g ON g.doc_id = a.doc_id
        |)
        |ORDER BY doc_id""".stripMargin,

    // md5-percentile split: DuckDB parses the hex prefix via a 0x-literal
    // cast; Spark via conv(hex, 16, 10) — same 32-bit value, same % 100.
    "q_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN pct < 80 THEN 'train' WHEN pct < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS pct
        |  FROM documents) ORDER BY doc_id""".stripMargin,

    // patterns interpolated verbatim from Curation (no lookaround /
    // backreferences, so Java regex and RE2 agree); DuckDB needs the 'g' flag
    // for replace-all, Spark's regexp_replace is replace-all by default.
    "q_redact" ->
      ("""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  concat(text, ' contact u', CAST(doc_id AS VARCHAR),
        |         '@ex-a.co or see https://ex.co/d/', CAST(doc_id AS VARCHAR),
        |         '?q=1 call (555) 867-53', lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'),
        |         ' from 10.0.', CAST(doc_id % 256 AS VARCHAR), '.7 end'),
        |  '""".stripMargin + graft.operators.Curation.emailPattern +
        """', '<EMAIL>', 'g'),
        |  '""".stripMargin + graft.operators.Curation.urlPattern +
        """', '<URL>', 'g'),
        |  '""".stripMargin + graft.operators.Curation.phonePattern +
        """', '<PHONE>', 'g'),
        |  '""".stripMargin + graft.operators.Curation.ipPattern +
        """', '<IP>', 'g') AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin),

    "q_strip_html" -> {
      // the same synthesized page as the Spark side (chr(10) = the real
      // newlines Spark's lit("\n") embeds), then the IDENTICAL pass chain
      // with patterns interpolated from the Curation constants
      val inner = "concat('<html><!-- doc ', CAST(doc_id AS VARCHAR), " +
        "chr(10), 'spans lines -->', " +
        "'<head><style type=\"text/css\">p { color: #abc; }', chr(10), " +
        "'.x { margin: 0 }</style>', " +
        "'<script>', chr(10), 'if (a<b && c>d) { alert(\"x&y\"); }', " +
        "chr(10), '</script></head>', " +
        "'<body><div class=\"main\"><h1>Doc ', CAST(doc_id AS VARCHAR), " +
        "'</h1><p>', " +
        "regexp_replace(substr(text, 1, 500), ' the ', ' <b>the</b> ', 'g'), " +
        "'</p><br/><ul><li>one &amp; two</li><li>a&nbsp;b</li></ul><hr >', " +
        "'<p>&amp;lt;keep&gt; &quot;q&quot; &#39;s&#39; &bogus; 1 &lt; 2</p>', " +
        "'<p>&#65;pos &#8217;curly&#8217; &#x1F600; &#x48;&#105; " +
        "bad:&#0;&#xD800;&#1114112;&#123456789;&#x1234567;&#;&#x; " +
        "one-level:&amp;#65; tail</p>', " +
        "'</div></body></html>')"
      s"SELECT doc_id, ${stripMarkupOracleExpr(inner)} AS clean_text " +
        "FROM documents ORDER BY doc_id"
    },

    "q_normalize" ->
      """SELECT doc_id,
        |  TRIM(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same alternation keywordPattern generates (longest-first, so RE2's
    // leftmost-longest and Java's first-match agree); same injections
    "q_blocklist" ->
      """WITH docs AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0 THEN ' badword here' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' an evil phrase and bad stuff'
        |         ELSE '' END AS text
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(text),
        |      '\b(?:evil phrase|badword|bad)\b') AS hits
        |  FROM docs
        |)
        |SELECT doc_id, CAST(len(hits) AS INT) AS n_hits,
        |  -- DuckDB array_to_string([]) is NULL; Spark array_join([]) is ''
        |  COALESCE(array_to_string(list_sort(list_distinct(hits)), ','), '')
        |    AS hit_terms,
        |  CASE WHEN len(hits) = 0 THEN 1 ELSE 0 END AS kept
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_sample_per_group" ->
      """SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2147483647,
        |    doc_id) AS INT) AS rk
        |  FROM documents) WHERE rk <= 5 ORDER BY source, rk""".stripMargin,

    // DuckDB SUM(INTEGER-ish) widens to HUGEINT — cast back to BIGINT for
    // the schema compare.
    "q_mix_report" ->
      """WITH per AS (
        |  SELECT lang, source, COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |      ELSE array_length(regexp_split_to_array(TRIM(text), '\s+')) END) AS BIGINT) AS n_tokens,
        |    CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY lang, source
        |), tot AS (SELECT SUM(n_docs) AS td, SUM(n_tokens) AS tt FROM per)
        |SELECT lang, source, n_docs, n_tokens, n_chars,
        |  ROUND(CAST(n_docs AS DOUBLE) / td, 6) AS doc_share,
        |  ROUND(CAST(n_tokens AS DOUBLE) / tt, 6) AS token_share
        |FROM per CROSS JOIN tot ORDER BY lang, source""".stripMargin,

    // Target proportions forced to DOUBLE so FLOOR sees the same IEEE
    // product the Scala driver computed.
    "q_rebalance_mix" ->
      """WITH targets(source, p) AS (
        |  VALUES ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
        |         ('src2', CAST(0.1 AS DOUBLE))
        |), cnt AS (
        |  SELECT source, COUNT(*) AS n FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY source
        |), nn AS (
        |  SELECT CAST(MIN(FLOOR(COALESCE(cnt.n, 0) / targets.p)) AS BIGINT) AS n
        |  FROM targets LEFT JOIN cnt USING (source)
        |), ks AS (
        |  SELECT t.source, CAST(FLOOR(t.p * nn.n) AS BIGINT) AS k
        |  FROM targets t CROSS JOIN nn
        |), ranked AS (
        |  SELECT source, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2147483647,
        |    doc_id) AS INT) AS rk
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')
        |)
        |SELECT r.source, r.doc_id, r.rk
        |FROM ranked r JOIN ks ON ks.source = r.source AND r.rk <= ks.k
        |ORDER BY r.source, r.rk""".stripMargin,

    // single global cumulative window per group — must hash-match the
    // engine's two-phase sharded cumsum exactly
    "q_rebalance_tokens" ->
      """WITH targets(source, p) AS (
        |  VALUES ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
        |         ('src2', CAST(0.1 AS DOUBLE))
        |), base AS (
        |  SELECT source, doc_id,
        |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |      ELSE CAST(array_length(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT) END AS n_tokens,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2147483647 AS key
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')
        |), tot AS (
        |  SELECT source, SUM(n_tokens) AS t FROM base GROUP BY source
        |), nn AS (
        |  SELECT CAST(MIN(FLOOR(COALESCE(tot.t, 0) / targets.p)) AS BIGINT) AS n
        |  FROM targets LEFT JOIN tot USING (source)
        |), qs AS (
        |  SELECT t.source, CAST(FLOOR(t.p * nn.n) AS BIGINT) AS q
        |  FROM targets t CROSS JOIN nn
        |), cum AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY shard, key, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM base
        |)
        |SELECT c.source, c.doc_id, c.n_tokens, c.cum_tokens
        |FROM cum c JOIN qs ON qs.source = c.source AND qs.q > 0 AND c.cum_tokens <= qs.q
        |ORDER BY c.source, c.cum_tokens, c.doc_id""".stripMargin,

    "q_epoch_plan" ->
      """WITH targets(source, p) AS (
        |  VALUES ('src0', CAST(0.6 AS DOUBLE)), ('src1', CAST(0.2 AS DOUBLE)),
        |         ('src2', CAST(0.2 AS DOUBLE))
        |), base AS (
        |  SELECT source, doc_id,
        |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |      ELSE CAST(array_length(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT) END AS n_tokens,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2147483647 AS key
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')
        |), tot AS (
        |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS t FROM base GROUP BY source
        |), nn AS (
        |  SELECT CAST(MIN(FLOOR(3.0 * COALESCE(tot.t, 0) / targets.p)) AS BIGINT) AS n
        |  FROM targets LEFT JOIN tot USING (source)
        |), ep AS (
        |  SELECT t.source,
        |    CAST(CASE WHEN COALESCE(tot.t, 0) = 0 THEN 0
        |      ELSE CAST(FLOOR(t.p * nn.n) AS BIGINT) // tot.t END AS BIGINT) AS e,
        |    CAST(CAST(FLOOR(t.p * nn.n) AS BIGINT)
        |      - (CASE WHEN COALESCE(tot.t, 0) = 0 THEN 0
        |           ELSE CAST(FLOOR(t.p * nn.n) AS BIGINT) // tot.t END)
        |        * COALESCE(tot.t, 0) AS BIGINT) AS rem
        |  FROM targets t CROSS JOIN nn LEFT JOIN tot ON tot.source = t.source
        |), live AS (
        |  SELECT * FROM ep WHERE e > 0 OR rem > 0
        |), fulls AS (
        |  SELECT b.source, b.doc_id, b.n_tokens,
        |    CAST(unnest(generate_series(CAST(1 AS BIGINT), CAST(e.e AS BIGINT))) AS BIGINT) AS epoch
        |  FROM base b JOIN live e USING (source) WHERE e.e >= 1
        |), cum AS (
        |  SELECT source, doc_id, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY shard, key, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM base
        |), partial AS (
        |  SELECT c.source, c.doc_id, c.n_tokens, CAST(e.e + 1 AS BIGINT) AS epoch
        |  FROM cum c JOIN live e USING (source) WHERE c.cum_tokens <= e.rem
        |)
        |SELECT source, doc_id, n_tokens, epoch FROM fulls
        |UNION ALL
        |SELECT source, doc_id, n_tokens, epoch FROM partial
        |ORDER BY source, epoch, doc_id""".stripMargin,

    // DSIR replayed end-to-end: hashed uni+bigram bucket counts for target
    // slice and full corpus, add-α log-ratio per bucket (α=1, B=8192 —
    // denominators computed as the same IEEE doubles), per-doc weight sum,
    // md5-seeded Gumbel noise, top-120 by (key DESC, doc_id). Every raw
    // doc's buckets exist in rc (raw = scored corpus), so the inner join
    // to ratio equals Spark's left-join-with-default.
    "q_dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, source, regexp_split_to_array(TRIM(text), '\s+') AS t
        |  FROM documents WHERE LENGTH(TRIM(text)) > 0
        |), ng AS (
        |  SELECT doc_id, source, unnest(t) AS ng FROM toks
        |  UNION ALL
        |  SELECT doc_id, source,
        |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS ng
        |  FROM toks
        |), nb AS (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5(ng), 1, 8)) AS BIGINT) % 8192 AS b
        |  FROM ng
        |), tc AS (
        |  SELECT b, COUNT(*) AS ct FROM nb
        |  WHERE source IN ('src0', 'src1') GROUP BY b
        |), rc AS (SELECT b, COUNT(*) AS cr FROM nb GROUP BY b),
        |tot AS (
        |  SELECT (SELECT COALESCE(SUM(ct), 0) FROM tc) AS tt,
        |         (SELECT COALESCE(SUM(cr), 0) FROM rc) AS tr
        |), ratio AS (
        |  SELECT rc.b,
        |    LN((COALESCE(tc.ct, 0) + 1.0) / (tot.tt + 1.0 * 8192))
        |      - LN((rc.cr + 1.0) / (tot.tr + 1.0 * 8192)) AS lr
        |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot
        |), w AS (
        |  SELECT nb.doc_id, COUNT(*) AS n_ngrams, SUM(ratio.lr) AS lw
        |  FROM nb JOIN ratio ON nb.b = ratio.b
        |  GROUP BY nb.doc_id
        |), keyed AS (
        |  SELECT doc_id, n_ngrams, lw,
        |    lw - LN(-LN((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':dsir'), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0)) AS key
        |  FROM w
        |), sel AS (
        |  SELECT * FROM keyed ORDER BY key DESC, doc_id LIMIT 120
        |)
        |SELECT doc_id, n_ngrams, ROUND(lw, 6) AS log_weight,
        |  ROUND(key, 6) AS gumbel_key
        |FROM sel ORDER BY doc_id""".stripMargin,

    // the composition replayed stage-for-stage: injection, union, the
    // q_normalize regex, the q_blocklist alternation as a filter, keep =
    // min id per (normalized) text, the q_split_assign arithmetic
    "q_curate_e2e" ->
      """WITH base AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' badword' ELSE '' END AS text
        |  FROM documents
        |), unioned AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id < 30
        |), norm AS (
        |  SELECT doc_id,
        |    TRIM(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g')) AS text
        |  FROM unioned
        |), clean AS (
        |  SELECT * FROM norm
        |  WHERE len(regexp_extract_all(text,
        |    '\b(?:evil phrase|badword)\b')) = 0
        |), keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM clean GROUP BY text
        |)
        |SELECT c.doc_id,
        |  CASE WHEN pct < 80 THEN 'train' WHEN pct < 90 THEN 'val'
        |    ELSE 'test' END AS split,
        |  c.text
        |FROM clean c JOIN keep k USING (doc_id)
        |CROSS JOIN LATERAL (SELECT
        |  CAST(concat('0x', substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) % 100 AS pct)
        |ORDER BY c.doc_id""".stripMargin,

    "q_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20
        |)
        |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM all_docs GROUP BY text HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 500
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' extra' AS text
        |  FROM documents WHERE doc_id < 20
        |), base AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, array_length(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks FROM all_docs)
        |  WHERE array_length(toks) >= 3
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        |FROM base a JOIN base b ON a.doc_id < b.doc_id
        |  AND len(list_intersect(a.sh, b.sh)) > 0
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,

    "q_embed_knn" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS DOUBLE) AS cos_raw
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cos_raw,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_sql_embed_knn" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS DOUBLE) AS cos_raw
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cos_raw,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_embed_ivf" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS DOUBLE) AS cos_raw
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cos_raw,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_embed_range" ->
      """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  ROUND(CAST(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS DOUBLE), 6) AS cosine
        |FROM embeddings q JOIN embeddings c ON q.vec_id < 3 AND q.vec_id <> c.vec_id
        |WHERE CAST(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS DOUBLE) >= 0.25
        |ORDER BY query_id, neighbor_id""".stripMargin,

    "q_sql_embed_range" ->
      """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  ROUND(CAST(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS DOUBLE), 6) AS cosine
        |FROM embeddings q JOIN embeddings c ON q.vec_id < 3 AND q.vec_id <> c.vec_id
        |WHERE CAST(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS DOUBLE) >= 0.25
        |ORDER BY query_id, neighbor_id""".stripMargin,

    "q_embed_neardup" ->
      """WITH all_emb AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS DOUBLE), 6) AS cosine
        |FROM all_emb a JOIN all_emb b ON a.vec_id < b.vec_id
        |WHERE CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS DOUBLE) >= 0.999
        |ORDER BY id_a, id_b""".stripMargin,

    // SemDeDup replay: same dupe-injected corpus as q_embed_neardup; the
    // argmin CTE replays the coarse quantizer (squared-L2, tie → lower cid)
    // and the pair join carries the SAME-CLUSTER constraint, so a quantizer
    // or candidate-rule regression hash-fails, not only a cosine change.
    "q_embed_semantic_neardup" ->
      """WITH all_emb AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10
        |), cents AS (
        |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8
        |), assign AS (
        |  SELECT vec_id, v, cid AS list_id FROM (
        |    SELECT e.vec_id, e.v, ct.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(e.v, (x, i) -> (x - ct.cv[i]) * (x - ct.cv[i]))) ASC,
        |        ct.cid ASC) AS rn
        |    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM all_emb) e
        |    CROSS JOIN cents ct)
        |  WHERE rn = 1
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE), 6) AS cosine
        |FROM assign a JOIN assign b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
        |WHERE CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE) >= 0.999
        |ORDER BY id_a, id_b""".stripMargin,

    // Incremental SemDeDup: identical quantizer replay over old∪new where
    // OLD itself contains dupes (+2000000 ids) — their old×old pairs pass
    // the cosine gate but NOT the touches-new filter, so an incremental
    // implementation that leaks old×old work hash-fails here.
    "q_embed_semantic_neardup_incremental" ->
      """WITH all_emb AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10
        |  UNION ALL
        |  SELECT vec_id + 2000000 AS vec_id, embedding FROM embeddings
        |  WHERE vec_id >= 10 AND vec_id < 13
        |), cents AS (
        |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8
        |), assign AS (
        |  SELECT vec_id, v, cid AS list_id FROM (
        |    SELECT e.vec_id, e.v, ct.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(e.v, (x, i) -> (x - ct.cv[i]) * (x - ct.cv[i]))) ASC,
        |        ct.cid ASC) AS rn
        |    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM all_emb) e
        |    CROSS JOIN cents ct)
        |  WHERE rn = 1
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE), 6) AS cosine
        |FROM assign a JOIN assign b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
        |WHERE CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE) >= 0.999
        |  AND ((a.vec_id >= 1000000 AND a.vec_id < 2000000)
        |    OR (b.vec_id >= 1000000 AND b.vec_id < 2000000))
        |ORDER BY id_a, id_b""".stripMargin,

    // IVF recall@k replayed in SQL: coarse assignment + probe selection are
    // squared-L2 argmin (tie → lower centroid id, matching the kernel's strict
    // `<` scan); exact and probed top-k both rank by (cosine DESC, id ASC).
    "q_ann_recall" ->
      """WITH corpus AS (
        |  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), cents AS (
        |  SELECT nid AS cid, v AS cv FROM corpus WHERE nid < 8
        |), assign AS (
        |  SELECT nid, cid AS list_id FROM (
        |    SELECT c.nid, ct.cid,
        |      ROW_NUMBER() OVER (PARTITION BY c.nid ORDER BY
        |        list_sum(list_transform(c.v, (x, i) -> (x - ct.cv[i]) * (x - ct.cv[i]))) ASC,
        |        ct.cid ASC) AS rn
        |    FROM corpus c CROSS JOIN cents ct)
        |  WHERE rn = 1
        |), queries AS (
        |  SELECT nid AS query_id, v AS qv FROM corpus WHERE nid < 5
        |), probes AS (
        |  SELECT query_id, cid AS list_id FROM (
        |    SELECT q.query_id, ct.cid,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |        list_sum(list_transform(q.qv, (x, i) -> (x - ct.cv[i]) * (x - ct.cv[i]))) ASC,
        |        ct.cid ASC) AS rn
        |    FROM queries q CROSS JOIN cents ct)
        |  WHERE rn <= 3
        |), exact AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, c.nid AS neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |        list_cosine_similarity(q.qv, c.v) DESC, c.nid ASC) AS rank
        |    FROM queries q JOIN corpus c ON q.query_id <> c.nid)
        |  WHERE rank <= 10
        |), approx AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, c.nid AS neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |        list_cosine_similarity(q.qv, c.v) DESC, c.nid ASC) AS rank
        |    FROM queries q
        |    JOIN probes p ON p.query_id = q.query_id
        |    JOIN assign a ON a.list_id = p.list_id
        |    JOIN corpus c ON c.nid = a.nid AND c.nid <> q.query_id)
        |  WHERE rank <= 10
        |), hits AS (
        |  SELECT e.query_id, COUNT(*) AS n_overlap
        |  FROM exact e JOIN approx ap
        |    ON e.query_id = ap.query_id AND e.neighbor_id = ap.neighbor_id
        |  GROUP BY e.query_id
        |)
        |SELECT ke.query_id, ke.k_exact, COALESCE(h.n_overlap, 0) AS n_overlap,
        |  ROUND(COALESCE(h.n_overlap, 0) / 10.0, 6) AS recall_at_k
        |FROM (SELECT query_id, COUNT(*) AS k_exact FROM exact GROUP BY query_id) ke
        |LEFT JOIN hits h ON h.query_id = ke.query_id
        |ORDER BY ke.query_id""".stripMargin,

    // truncation-recall diagnostic: the truncate_renorm(16) prefix replayed
    // (slice + explicit L2 renorm — the SAME arithmetic the expression
    // runs, not a scale-invariance shortcut), both exact rankings, overlap
    "q_truncate_recall" ->
      """WITH corpus AS (
        |  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), trunc AS (
        |  SELECT nid,
        |    list_transform(v[1:16], x -> x /
        |      sqrt(list_sum(list_transform(v[1:16], y -> y * y)))) AS tv
        |  FROM corpus
        |), queries AS (
        |  SELECT nid AS query_id, v AS qv FROM corpus WHERE nid < 5
        |), tqueries AS (
        |  SELECT nid AS query_id, tv AS qtv FROM trunc WHERE nid < 5
        |), exact AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, c.nid AS neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |        list_cosine_similarity(q.qv, c.v) DESC, c.nid ASC) AS rank
        |    FROM queries q JOIN corpus c ON q.query_id <> c.nid)
        |  WHERE rank <= 10
        |), approx AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, t.nid AS neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |        list_cosine_similarity(q.qtv, t.tv) DESC, t.nid ASC) AS rank
        |    FROM tqueries q JOIN trunc t ON q.query_id <> t.nid)
        |  WHERE rank <= 10
        |), hits AS (
        |  SELECT e.query_id, COUNT(*) AS n_overlap
        |  FROM exact e JOIN approx ap
        |    ON e.query_id = ap.query_id AND e.neighbor_id = ap.neighbor_id
        |  GROUP BY e.query_id
        |)
        |SELECT ke.query_id, ke.k_exact, COALESCE(h.n_overlap, 0) AS n_overlap,
        |  ROUND(COALESCE(h.n_overlap, 0) / 10.0, 6) AS recall_at_k
        |FROM (SELECT query_id, COUNT(*) AS k_exact FROM exact GROUP BY query_id) ke
        |LEFT JOIN hits h ON h.query_id = ke.query_id
        |ORDER BY ke.query_id""".stripMargin,

    // IVFADC end-to-end in SQL (ds/IVFPQ.java:100–117, 408–450 semantics):
    // models are deterministic corpus-head slices (centroids = first 8
    // vectors; PQ sub-centroid i of block j = dims [8j, 8j+8) of head vector
    // i). Encode: coarse argmin → residual r = c − x → per-block argmin.
    // Search: 4 probed lists per query; adc = Σ_j ‖(c_list − q)_block_j −
    // sub_centroid[code_j]‖²; top-10 by (adc ASC, id ASC). Ties resolve to the
    // lower index via the (dist ASC, id ASC) ROW_NUMBER ordering, matching
    // the kernels' strict-`<` scans.
    "q_embed_ivfpq" ->
      """WITH head AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 16
        |), cents AS (
        |  SELECT vec_id AS cid, v AS cv FROM head WHERE vec_id < 8
        |), pqc AS (
        |  SELECT j.j, h.vec_id AS i, h.v[j.j * 8 + 1 : j.j * 8 + 8] AS sub
        |  FROM head h CROSS JOIN (SELECT unnest(range(0, 8)) AS j) j
        |), corpus AS (
        |  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), assign AS (
        |  SELECT nid, v, cid AS list_id, cv FROM (
        |    SELECT c.nid, c.v, ct.cid, ct.cv,
        |      ROW_NUMBER() OVER (PARTITION BY c.nid ORDER BY
        |        list_sum(list_transform(c.v, (x, i) -> (x - ct.cv[i]) * (x - ct.cv[i]))) ASC,
        |        ct.cid ASC) AS rn
        |    FROM corpus c CROSS JOIN cents ct)
        |  WHERE rn = 1
        |), resid AS (
        |  SELECT nid, list_id, list_transform(v, (x, i) -> cv[i] - x) AS r FROM assign
        |), codes AS (
        |  SELECT nid, list_id, j, i AS code FROM (
        |    SELECT r.nid, r.list_id, p.j, p.i,
        |      ROW_NUMBER() OVER (PARTITION BY r.nid, p.j ORDER BY
        |        list_sum(list_transform(p.sub, (x, i) -> (r.r[p.j * 8 + i] - x) * (r.r[p.j * 8 + i] - x))) ASC,
        |        p.i ASC) AS rn
        |    FROM resid r CROSS JOIN pqc p)
        |  WHERE rn = 1
        |), queries AS (
        |  SELECT vec_id AS query_id, v AS qv FROM head WHERE vec_id < 3
        |), probes AS (
        |  SELECT query_id, cid AS list_id, cv FROM (
        |    SELECT q.query_id, ct.cid, ct.cv,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |        list_sum(list_transform(q.qv, (x, i) -> (x - ct.cv[i]) * (x - ct.cv[i]))) ASC,
        |        ct.cid ASC) AS rn
        |    FROM queries q CROSS JOIN cents ct)
        |  WHERE rn <= 4
        |), qresid AS (
        |  SELECT p.query_id, p.list_id, list_transform(q.qv, (x, i) -> p.cv[i] - x) AS qr
        |  FROM probes p JOIN queries q ON q.query_id = p.query_id
        |), cand AS (
        |  SELECT qr.query_id, cd.nid AS neighbor_id, cd.list_id,
        |    SUM(list_sum(list_transform(p.sub, (x, i) -> (qr.qr[cd.j * 8 + i] - x) * (qr.qr[cd.j * 8 + i] - x)))) AS adc
        |  FROM codes cd
        |  JOIN pqc p ON p.j = cd.j AND p.i = cd.code
        |  JOIN qresid qr ON qr.list_id = cd.list_id
        |  GROUP BY qr.query_id, cd.nid, cd.list_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, list_id, adc,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rn
        |  FROM cand
        |)
        |SELECT query_id, neighbor_id, CAST(list_id AS INT) AS list_id, ROUND(adc, 6) AS adc_dist
        |FROM ranked WHERE rn <= 10
        |ORDER BY query_id, adc_dist, neighbor_id""".stripMargin,

    // the q_embed_ivfpq replay with the candidate window widened to rn<=30
    // and an exact squared-L2 re-rank stage on the full vectors
    "q_embed_rerank" ->
      """WITH head AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 16
        |), cents AS (
        |  SELECT vec_id AS cid, v AS cv FROM head WHERE vec_id < 8
        |), pqc AS (
        |  SELECT j.j, h.vec_id AS i, h.v[j.j * 8 + 1 : j.j * 8 + 8] AS sub
        |  FROM head h CROSS JOIN (SELECT unnest(range(0, 8)) AS j) j
        |), corpus AS (
        |  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), assign AS (
        |  SELECT nid, v, cid AS list_id, cv FROM (
        |    SELECT c.nid, c.v, ct.cid, ct.cv,
        |      ROW_NUMBER() OVER (PARTITION BY c.nid ORDER BY
        |        list_sum(list_transform(c.v, (x, i) -> (x - ct.cv[i]) * (x - ct.cv[i]))) ASC,
        |        ct.cid ASC) AS rn
        |    FROM corpus c CROSS JOIN cents ct)
        |  WHERE rn = 1
        |), resid AS (
        |  SELECT nid, list_id, list_transform(v, (x, i) -> cv[i] - x) AS r FROM assign
        |), codes AS (
        |  SELECT nid, list_id, j, i AS code FROM (
        |    SELECT r.nid, r.list_id, p.j, p.i,
        |      ROW_NUMBER() OVER (PARTITION BY r.nid, p.j ORDER BY
        |        list_sum(list_transform(p.sub, (x, i) -> (r.r[p.j * 8 + i] - x) * (r.r[p.j * 8 + i] - x))) ASC,
        |        p.i ASC) AS rn
        |    FROM resid r CROSS JOIN pqc p)
        |  WHERE rn = 1
        |), queries AS (
        |  SELECT vec_id AS query_id, v AS qv FROM head WHERE vec_id < 3
        |), probes AS (
        |  SELECT query_id, cid AS list_id, cv FROM (
        |    SELECT q.query_id, ct.cid, ct.cv,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |        list_sum(list_transform(q.qv, (x, i) -> (x - ct.cv[i]) * (x - ct.cv[i]))) ASC,
        |        ct.cid ASC) AS rn
        |    FROM queries q CROSS JOIN cents ct)
        |  WHERE rn <= 4
        |), qresid AS (
        |  SELECT p.query_id, p.list_id, list_transform(q.qv, (x, i) -> p.cv[i] - x) AS qr
        |  FROM probes p JOIN queries q ON q.query_id = p.query_id
        |), cand AS (
        |  SELECT qr.query_id, cd.nid AS neighbor_id, cd.list_id,
        |    SUM(list_sum(list_transform(p.sub, (x, i) -> (qr.qr[cd.j * 8 + i] - x) * (qr.qr[cd.j * 8 + i] - x)))) AS adc
        |  FROM codes cd
        |  JOIN pqc p ON p.j = cd.j AND p.i = cd.code
        |  JOIN qresid qr ON qr.list_id = cd.list_id
        |  GROUP BY qr.query_id, cd.nid, cd.list_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, list_id, adc,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rn
        |  FROM cand
        |), cand30 AS (
        |  SELECT query_id, neighbor_id, list_id FROM ranked WHERE rn <= 30
        |), rer AS (
        |  SELECT c.query_id, c.neighbor_id, c.list_id,
        |    list_sum(list_transform(q.qv, (x, i) -> (x - co.v[i]) * (x - co.v[i]))) AS l2
        |  FROM cand30 c
        |  JOIN corpus co ON co.nid = c.neighbor_id
        |  JOIN queries q ON q.query_id = c.query_id
        |), rr AS (
        |  SELECT query_id, neighbor_id, list_id, l2,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY l2 ASC, neighbor_id ASC) AS rn
        |  FROM rer
        |)
        |SELECT query_id, neighbor_id, CAST(list_id AS INT) AS list_id, ROUND(l2, 6) AS l2_dist
        |FROM rr WHERE rn <= 10
        |ORDER BY query_id, l2_dist, neighbor_id""".stripMargin
  )
}
