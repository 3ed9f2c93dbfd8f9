package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the declarative formulations must actually get the
  * Catalyst treatment they were designed for (predicate pushdown, column
  * pruning, broadcast joins, TakeOrderedAndProject) — at 100 TB these are the
  * difference between a scan of one column and a scan of everything. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection are pushed to the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_quantity") > 30.0)
      .select("l_orderkey", "l_quantity")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      plan.take(600))
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      "scan must read only the two projected columns")
  }

  test("as-of join broadcasts the version side (keyless model binding)") {
    import spark.implicits._
    val left = Seq((1L, new java.sql.Timestamp(1000))).toDF("id", "ts")
    val right = Seq((1, new java.sql.Timestamp(500))).toDF("model_version", "valid_from")
    val plan = planOf(graft.temporal.Temporal.asOfJoin(left, right, "ts", "valid_from"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(800))
  }

  test("keyed as-of join plans an equi-join (hash/sort-merge), not a loop join") {
    val events = spark.read.parquet(s"$sf/events.parquet").select("event_id", "user_id", "ts")
    val versions = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(max("o_orderkey").as("o_orderkey"))
    val plan = planOf(graft.temporal.Temporal.asOfJoin(
      events, versions, "ts", "o_orderdate", keys = Seq("user_id")))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("global top-k plans TakeOrderedAndProject (partial+final, no full sort)") {
    val plan = planOf(SparkEntry.queries("q_topk_global")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(600))
  }

  test("anti-join resume plans a broadcast/sort-merge anti join") {
    val plan = planOf(SparkEntry.queries("q_anti_join")(spark, sf))
    assert(plan.contains("LeftAnti"), plan.take(800))
  }

  test("dimension join is broadcast (q_join_agg)") {
    val plan = planOf(SparkEntry.queries("q_join_agg")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("AQE skew-join: a hot key's partition is split at runtime " +
    "(skew=true in the adaptive final plan)") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carries ~90% of the rows with a fat payload; the right
      // side is too big to broadcast (threshold disabled) → sort-merge join
      // whose hot post-shuffle partition AQE must split
      // payload must be incompressible — shuffle bytes are lz4'd and the
      // skew threshold compares COMPRESSED partition sizes
      val left = spark.range(0, 60000)
        .select(when(col("id") % 10 =!= 0, col("id") % 50 + 1).otherwise(0L).as("k"),
          concat(md5(col("id").cast("string")),
            md5(concat(col("id").cast("string"), lit("a"))),
            md5(concat(col("id").cast("string"), lit("b"))),
            md5(concat(col("id").cast("string"), lit("c")))).as("payload"))
      val right = spark.range(0, 51).select(col("id").as("k"),
        concat(lit("dim_"), col("id")).as("name"))
      val joined = left.join(right, "k")
      // drive THIS queryExecution (count() would plan a separate one) so the
      // AdaptiveSparkPlan re-optimizes with runtime sizes and finalizes
      assert(joined.collect().length == 60000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        "AQE did not mark the hot partition for skew split:\n" + finalPlan.take(1200))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("text operators stay inside whole-stage codegen (no UDF barrier)") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        graft.operators.TextOps.fingerprint(col("text")).as("fp"),
        graft.operators.TextOps.simhash64(
          graft.operators.TextOps.tokens(col("text"))).as("sh"))
    // whole-stage codegen spans print as "*(n)" in the plan string
    val plan = planOf(df)
    assert(plan.contains("*("), plan.take(600))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("vec_cosine / vec_squared_l2 stay inside whole-stage codegen") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = emb.select(
      graft.functions.VectorExpressions.vec_cosine(col("embedding"), col("embedding")).as("c"),
      graft.functions.VectorExpressions.vec_squared_l2(col("embedding"), col("embedding")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), "expressions must be inside a WholeStageCodegen span:\n" +
      plan.take(500))
    // and they actually compute correctly through the generated path
    df.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && r.getDouble(1) == 0.0)
    }
  }

  test("window queries partition by entity (no global single-partition window)") {
    Seq("q_backfill", "q_sessionize", "q_window_agg", "q_lag_lead").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      // the Window operator's partition spec must mention user_id
      val winLine = plan.linesIterator.find(_.contains("Window")).getOrElse("")
      assert(plan.contains("user_id"), s"$q window plan: ${winLine.take(200)}")
    }
  }

  test("rebalanceMixTokens: cumsum Windows partition by (group, shard) — " +
    "never a per-group single task — and quota/offset joins broadcast") {
    val plan = planOf(SparkEntry.queries("q_rebalance_tokens")(spark, sf))
    val winLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty, plan.take(800))
    // the doc-level cumsum partitions by BOTH source and the md5 shard
    assert(winLines.exists(l => l.contains("source") && l.contains("__shard")),
      s"doc cumsum must partition by (source, __shard): $winLines")
    assert(plan.contains("BroadcastHashJoin"),
      "offsets (groups×shards) and quotas (policy-sized) must broadcast")
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("gopherQuality and stripMarkup are single-projection plans: no " +
    "exchange, no UDF — pure codegen'd scans") {
    Seq("q_gopher_quality", "q_strip_html").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      // only the presentation orderBy and the explicit input spread
      // (round-robin over the single-file documents table — an artifact of
      // the synthetic layout, not an op shuffle) may exchange; no join/agg
      // shuffles from the operator itself
      val exchanges = plan.linesIterator
        .filter(_.contains("Exchange"))
        .count(l => !l.contains("REPARTITION_BY_NUM") &&
          !l.contains("RoundRobinPartitioning"))
      assert(exchanges <= 1, s"$q: row-local op must not shuffle beyond the " +
        s"final presentation sort ($exchanges non-spread exchanges)")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$q must stay UDF-free")
    }
  }

  test("size-derived input spread reads the table size through its " +
    "FileSystem: a file: URI plans the same spread as the plain path") {
    // sf0.1's documents (~0.6 MB) spread 4 ways in the 4-core test session
    val dir = "/root/testdata/sf0.1"
    def spread(d: String): Option[String] =
      "RoundRobinPartitioning\\(\\d+\\)".r
        .findFirstIn(planOf(SparkEntry.queries("q_ngram_topk")(spark, d)))
    assert(spread(dir).contains("RoundRobinPartitioning(4)"))
    assert(spread("file://" + dir) == spread(dir))
  }

  test("blocklist is a single-projection plan like the other row-local ops") {
    val plan = planOf(SparkEntry.queries("q_blocklist")(spark, sf))
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 1, plan.take(800))
    assert(!plan.contains("ScalaUDF"))
  }

  test("DSIR selection: broadcast ratio join, n-grams projected to buckets " +
    "before the doc aggregate, TakeOrderedAndProject top-k — no global sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val target = docs.where(col("source").isin("src0"))
    val model = graft.operators.Dsir.dsirModel(docs, target, "text",
      buckets = 1024)
    try {
      val plan = planOf(graft.operators.Dsir.dsirResample(
        docs, "doc_id", "text", model, n = 20))
      assert(plan.contains("TakeOrderedAndProject"), plan.take(1000))
      assert(plan.contains("BroadcastHashJoin"),
        "the <=B-row ratio table must broadcast")
      // partial-combine per doc before the exchange
      assert(plan.contains("partial_count"), plan.take(1000))
      // the n-gram string column never appears in an Exchange line — only
      // (bucket) longs and doc sums shuffle
      val exch = plan.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exch.forall(l => !l.contains("ng#")), s"ngram text in exchange: $exch")
    } finally model.release()
  }

  test("Stupid Backoff scoring: no Window, no self-join of the corpus — " +
    "context keys packed row-locally; per-doc aggregate is partial+final") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val lm = graft.operators.TextOps.stupidBackoffLm(docs, "text")
    try {
      val plan = planOf(graft.operators.TextOps.sbScore(
        docs, "doc_id", "text", lm))
      assert(!plan.contains("Window"), "context must come from the token " +
        "array, not lag/lead windows")
      assert(plan.contains("partial_count"), plan.take(1000))
      assert(!plan.contains("ScalaUDF"))
      // the three model tables read from their persisted stages (their
      // InMemoryRelation subtrees reprint the original scans, so a raw
      // parquet-scan count is not meaningful here)
      assert(plan.contains("InMemoryTableScan"),
        "count tables must read from the persisted model")
    } finally lm.release()
  }

  test("NB langid: one trigram equi-join, partial-combined per-doc vec_sum, " +
    "row-local argmax — no |langs|-multiplied stage, no Window, no UDF") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val model = graft.operators.TextOps.nbLangModel(docs, "lang", "text")
    try {
      val plan = planOf(graft.operators.TextOps.nbLangId(
        docs, "doc_id", "text", model))
      assert(plan.contains("ObjectHashAggregate"), plan.take(1000))
      // per-doc class-vector sum is map-side partial before the id exchange
      assert(plan.contains("partial_vec_sum"), plan.take(1000))
      // the former shape cross-joined occurrences |langs|× before scoring —
      // the vectorized shape must not multiply occurrence rows at all
      assert(!plan.contains("CrossJoin") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        "no class cross-join may multiply the occurrence rows")
      assert(!plan.contains("Window") && !plan.contains("ScalaUDF"))
    } finally model.release()
  }

  test("paragraph dedup: keeper is a map-side-combined min aggregate; " +
    "exchanges key on fingerprints/ids, never the unit text") {
    val plan = planOf(SparkEntry.queries("q_dedup_paragraphs")(spark, sf))
    assert(plan.contains("partial_min"),
      "keeper selection must partial-aggregate before the shuffle: " + plan.take(800))
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"))
    val exLines = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exLines.nonEmpty, plan.take(800))
    assert(exLines.forall(l => !l.contains("para#") && !l.contains("text#")),
      s"unit text must never be a shuffle key:\n${exLines.mkString("\n")}")
  }

  test("incremental paragraph dedup: disposition window partitions by the " +
    "fingerprint (reusing the history-join partitioning), not globally") {
    import spark.implicits._
    val nw = Seq((1L, "a\nb"), (2L, "b\nc")).toDF("doc_id", "text")
    val hist = graft.operators.Curation.paragraphFingerprints(
      Seq((0L, "x")).toDF("doc_id", "text"), "doc_id", "text", delim = "\n")
    val plan = planOf(graft.operators.Curation.dedupParagraphsIncremental(
      nw, hist, "doc_id", "text", delim = "\n"))
    val winLine = plan.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(winLine.contains("__h64"),
      s"rank window must partition by the fingerprint: ${winLine.take(300)}")
  }

  test("IVFADC+R re-rank: candidate ids broadcast back onto the vector scan; " +
    "final k is the bounded_top_k ObjectHashAggregate, no Window") {
    val plan = planOf(SparkEntry.queries("q_embed_rerank")(spark, sf))
    assert(plan.contains("ObjectHashAggregate"), plan.take(1000))
    assert(plan.contains("BroadcastHashJoin"),
      "candidates and queries must broadcast onto the corpus scan")
    assert(!plan.contains("Window"))
    assert(plan.contains("vec_squared_l2"), "exact re-rank must use the " +
      "native expression")
  }
}
