package graft

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Concat, Expression,
  RegExpExtractAll, ScalaUDF, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{withJobs, withStages}
import graft.functions.TextExpressions

/** Physical-plan audits: the declarative formulations must actually get the
  * Catalyst treatment they were designed for (predicate pushdown, column
  * pruning, broadcast joins, TakeOrderedAndProject) — at 100 TB these are the
  * difference between a scan of one column and a scan of everything. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val sf01 = sf.stripSuffix("0.001") + "0.01"
  private val sf1 = sf.stripSuffix("0.001") + "0.1"

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

  /** The AQE initial physical plan of query `q` over `dir`. */
  private def initialPlan(q: String, dir: String): SparkPlan =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("gopherQuality and stripMarkup are single-projection plans: no " +
    "exchange, no UDF — pure codegen'd scans") {
    Seq("q_gopher_quality", "q_strip_html", "q_redact", "q_token_count_unicode")
      .foreach { q =>
        // a documents table that fits one partition (sf0.001, sf0.01) is
        // coalesced to one: the scorer and the global sort run in one stage
        // with no exchange at all
        Seq(sf, sf01).foreach { dir =>
          val plan = initialPlan(q, dir)
          val text = plan.toString.take(1500)
          assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
            s"$q at $dir: an exchange over a one-partition input\n$text")
          val coalesces = plan.collect { case c: CoalesceExec => c }
          assert(coalesces.size == 1 && coalesces.head.numPartitions == 1 &&
            coalesces.head.child.isInstanceOf[FileSourceScanExec],
            s"$q at $dir: coalesce(1) must sit directly over the scan\n$text")
          val sorts = plan.collect { case s: SortExec if s.global => s }
          assert(sorts.size == 1 &&
            sorts.head.collect { case e: ShuffleExchangeExec => e }.isEmpty,
            s"$q at $dir: one global sort with no exchange under it\n$text")
          assert(!plan.toString.contains("BatchEvalPython") &&
            !plan.toString.contains("ScalaUDF"), s"$q must stay UDF-free")
        }
        // sf0.1's documents spread 4 ways: ONE exchange, the range spread on
        // doc_id directly over the scan, and none under the global sort,
        // which reuses its partitioning, so the scorer projection runs in
        // one stage and no sampling job re-runs it
        val plan = initialPlan(q, sf1)
        val text = plan.toString.take(1500)
        val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.size == 1, s"$q: ${exchanges.size} exchanges in\n$text")
        val spread = exchanges.head
        val rangeOnDocId = spread.outputPartitioning match {
          case RangePartitioning(Seq(SortOrder(a: Attribute, Ascending, _, _)), _) =>
            a.name == "doc_id"
          case _ => false
        }
        assert(rangeOnDocId && spread.shuffleOrigin == REPARTITION_BY_NUM,
          s"$q: the spread must be rangepartitioning(doc_id), got\n$text")
        assert(spread.child.isInstanceOf[FileSourceScanExec],
          s"$q: the range spread must sit directly over the scan\n$text")
        val sorts = plan.collect { case s: SortExec if s.global => s }
        assert(sorts.size == 1 && !sorts.head.child.isInstanceOf[ShuffleExchangeExec],
          s"$q: the global sort must reuse the spread, not plan its own exchange\n$text")
        assert(!plan.toString.contains("BatchEvalPython") &&
          !plan.toString.contains("ScalaUDF"), s"$q must stay UDF-free")
      }
  }

  test("q_strip_html reads each document through a shuffle at most once: " +
    "no shuffle when documents fits one partition, one read per document " +
    "when it is spread") {
    def shuffleReads(dir: String): Seq[Long] =
      withStages(SparkEntry.queries("q_strip_html")(spark, dir)
        .write.mode("overwrite").format("noop").save())._2.map(_._2)
    // sf0.01's documents (65 KB) is coalesced to one partition: no exchange
    val small = shuffleReads(sf01)
    assert(small.sum == 0, s"shuffle records read per stage $small at sf0.01")
    // sf0.1's is range-spread: a round-robin spread would read every
    // document three times (the sort's sampling stage, its map stage and
    // the sort stage)
    val dir = sf1
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    val read = shuffleReads(dir)
    assert(read.sum == nDocs, s"shuffle records read per stage $read for $nDocs docs")
  }

  test("queries over an input that fits one partition run as one Spark job " +
    "with no shuffle") {
    val dir = sf01
    Seq("q_gopher_quality", "q_strip_html", "q_redact", "q_token_count_unicode",
      "q_unigram_tokenize", "q_bpe_tokenize", "q_bpe_tokenize_bytes",
      "q_quality_classifier", "q_window_agg").foreach { q =>
      // built outside the listeners: the learned-model queries train while
      // they are built; the guard counts the jobs of the run itself
      val df = SparkEntry.queries(q)(spark, dir)
      val ((_, stages), jobs) = withJobs(withStages(
        df.write.mode("overwrite").format("noop").save()))
      assert(jobs.size == 1, s"$q ran ${jobs.size} Spark jobs at $dir")
      val read = stages.map(_._2).sum
      assert(read == 0, s"$q read $read shuffle records at $dir")
    }
  }

  test("gopherQuality over q_gopher_quality's synthesized text evaluates " +
    "the synthesized concat once") {
    val plan = SparkEntry.queries("q_gopher_quality")(spark, sf).queryExecution.optimizedPlan
    val concats = plan.flatMap(_.expressions.flatMap(_.collect { case c: Concat => c })).size
    assert(concats == 1, s"$concats concat evaluations in\n${plan.toString.take(600)}")
  }

  test("gopherQuality counts its signals in one native scan: one " +
    "regexp_extract_all (the stopwords), no ScalaUDF, one scan call per row") {
    val df = SparkEntry.queries("q_gopher_quality")(spark, sf)
    val exprs = df.queryExecution.optimizedPlan.flatMap(_.expressions)
    // distinct expressions: a signal read by several output fields is one
    // evaluation (codegen's subexpression elimination)
    def distinct(p: PartialFunction[Expression, Expression]): Int =
      exprs.flatMap(_.collect(p)).map(_.canonicalized).distinct.size
    val extractAlls = distinct { case e: RegExpExtractAll => e }
    assert(extractAlls <= 1, s"$extractAlls regexp_extract_all in the optimized plan")
    assert(distinct { case e: ScalaUDF => e } == 0, "the signals must not be a UDF")
    assert(distinct { case e: TextExpressions.TextSignals => e } == 1)
    // the struct is read once per field, but codegen's subexpression
    // elimination evaluates the scan once per document (AQE plans the
    // codegen stages when it runs)
    df.collect()
    val calls = org.apache.spark.sql.execution.debug
      .codegenStringSeq(df.queryExecution.executedPlan)
      .map(_._2.split("textSignalsEval\\(", -1).length - 1).sum
    assert(calls == 1, s"$calls textSignalsEval calls in the generated code")
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

  test("a round-robin input spread plans no exchange over a scan that " +
    "already has the target partition count") {
    // one caller of each round-robin spread whose final plan shows it (many
    // dedup queries checkpoint their stages while they are built)
    val roundRobin = Seq("q_ngram_topk", "q_chunk_tokens", "q_cut_spans",
      "q_cut_spans_within", "q_decontaminate", "q_decontaminate_bloom")
    def spreads(q: String, dir: String): Seq[ShuffleExchangeExec] =
      initialPlan(q, dir).collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
      }
    // the single-file sf0.1 table scans as one partition and is spread 4 ways
    roundRobin.foreach { q =>
      val single = spreads(q, sf1).map(_.outputPartitioning)
      assert(single.nonEmpty && single.forall(_ == RoundRobinPartitioning(4)),
        s"$q at sf0.1: $single")
    }
    // the same rows stored as 8 files: each file is its own split, so the
    // scan already has 8 ≥ 4 partitions and no spread is planned
    val copy = java.nio.file.Files.createTempDirectory("graft-multifile").toString
    try {
      spark.read.parquet(s"$sf1/documents.parquet").repartition(8)
        .write.parquet(s"$copy/documents.parquet")
      val key = "spark.sql.files.maxPartitionBytes"
      val before = spark.conf.getOption(key)
      spark.conf.set(key, 128L * 1024)
      try {
        // the spread reads the scan's file and partition counts: no job
        val ((files, scanParts), jobs) = withJobs {
          val scan = graft.sources.Sources.parquet(spark, s"$copy/documents.parquet")
          (scan.inputFiles.length, scan.rdd.getNumPartitions)
        }
        assert(files == 8 && scanParts >= 4,
          s"the multi-file copy scans $files files as $scanParts partitions")
        assert(jobs.isEmpty, s"reading the counts started ${jobs.size} jobs")
        roundRobin.foreach { q =>
          val multi = spreads(q, copy)
          assert(multi.isEmpty, s"$q over $scanParts scan partitions: $multi")
        }
        // the single file now reads as several byte-range splits, but its
        // rows sit in the one split that holds its row group: still spread
        val singleParts = graft.sources.Sources.parquet(spark,
          s"$sf1/documents.parquet").rdd.getNumPartitions
        assert(singleParts >= 4, s"the single file scans as $singleParts splits")
        roundRobin.foreach { q =>
          val single = spreads(q, sf1).map(_.outputPartitioning)
          assert(single.nonEmpty && single.forall(_ == RoundRobinPartitioning(4)),
            s"$q at sf0.1 over $singleParts splits: $single")
        }
      } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(copy))
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
    // sf0.1: documents is spread 4 ways, so the keeper aggregate shuffles
    // (at sf0.001 the whole plan runs in one partition, with no exchange)
    val plan = planOf(SparkEntry.queries("q_dedup_paragraphs")(spark, sf1))
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

  test("no driver query starts Spark's parquet schema-inference job while " +
    "it is built") {
    // the inference job is started inside `DataFrameReader.parquet`: its
    // stage call site (`details`) starts at that frame. Spark's own frames
    // below it (`SchemaMergeUtils.mergeSchemasInParallel`) are cut from the
    // call site, so the reader frame is what marks the job.
    def inference(jobs: Seq[SparkListenerJobStart]): Seq[String] =
      jobs.flatMap(_.stageInfos).map(_.details)
        .filter(_.linesIterator.nextOption().exists(_.contains(".DataFrameReader.")))
    assert(inference(withJobs(spark.read.parquet(s"$sf/documents.parquet"))._2).nonEmpty,
      "the probe must see the job spark.read.parquet starts")
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val found = inference(withJobs(SparkEntry.queries(q)(spark, sf))._2)
      assert(found.size == 0, s"$q started an inference job: " +
        found.take(1).flatMap(_.linesIterator.take(2)).mkString(" | "))
    }
  }
}
