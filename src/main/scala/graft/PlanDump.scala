package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SimpleMode}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._

/**
 * Physical-plan dumps over the sf0.001 tables, written relative to the
 * working directory (the repo root):
 *  - `PlanDump` writes the curated PLANS.md;
 *  - `PlanDump <tag> [q,…]` writes one formatted plan per declared query
 *    (all of them, or the comma-separated subset) to
 *    `plans/<tag>/<q>_<tag>.txt`.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    args.headOption match {
      case Some(tag) => dumpQueries(spark, sf, tag,
        args.lift(1).map(_.split(',').map(_.trim).toSet))
      case None => dumpCurated(spark, sf)
    }
    spark.stop()
  }

  /** Every query is dumped with the dedup checkpoint suppressed, as
    * `dumpInterior` does for the curated dedup entries. */
  private def dumpQueries(spark: SparkSession, sf: String, tag: String,
                          only: Option[Set[String]]): Unit = {
    only.foreach(_.diff(SparkEntry.queries.keySet).foreach(q =>
      System.err.println(s"unknown query $q")))
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, mk) =>
        try {
          val plan = graft.operators.Dedup.explainInterior.withValue(true) {
            mk(spark, sf).queryExecution.explainString(FormattedMode)
          }
          Files.writeString(outDir.resolve(s"${name}_$tag.txt"), plan)
          println(s"dumped $name")
        } catch {
          case NonFatal(e) => System.err.println(s"FAILED $name: ${e.getMessage}")
        }
      }
  }

  private def dumpCurated(spark: SparkSession, sf: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — key physical plans (generated by graft.PlanDump)\n\n")
    sb.append("Evidence that the declarative formulations get the intended Catalyst\n")
    sb.append("treatment; assertions live in PlanSpec, this file is the human-readable dump.\n")
    def dumpPlan(title: String, plan: String, note: String, limit: Int = 3500): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      sb.append(plan.take(limit))
      sb.append("\n```\n")
    }
    def dump(title: String, df: org.apache.spark.sql.DataFrame, note: String,
             limit: Int = 3500): Unit =
      dumpPlan(title, df.queryExecution.explainString(SimpleMode), note, limit)
    // An operator that runs its own Spark job returns a local result whose
    // plan is a LocalTableScan; its evidence is the plan of the SQL execution
    // it names, captured as query listeners see it.
    def executionPlan(name: String)(body: => Unit): String = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new QueryExecutionListener {
        override def onSuccess(n: String, qe: QueryExecution, durationNs: Long): Unit =
          if (n == name) { plans.add(qe.explainString(SimpleMode)); () }
        override def onFailure(n: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        body
        GraftBridge.drainListenerBus(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      plans.asScala.mkString("\n")
    }
    // The candidate-generation dedup operators eagerly checkpoint their
    // (small) pair output, so their executed form explains as an opaque
    // `Scan ExistingRDD`. Dump those with the checkpoint suppressed so the
    // INTERIOR shapes (InMemoryTableScan of the persisted stage, the
    // hot-bucket cap's count+semi-join guard, the ids-only pair join) are
    // the evidence on record.
    def dumpInterior(title: String, mk: => org.apache.spark.sql.DataFrame,
                     note: String): Unit = {
      graft.operators.Dedup.explainInterior.withValue(true) {
        dump(title, mk, note, limit = 7000)
      }
    }
    dump("Pushdown + pruning (lineitem filter/projection)",
      spark.read.parquet(s"$sf/lineitem.parquet")
        .where(col("l_quantity") > 30.0).select("l_orderkey", "l_quantity"),
      "`PushedFilters` + two-column `ReadSchema` reach the scan.")
    dump("As-of join (keyless model binding)", {
      import spark.implicits._
      val left = Seq((1L, new java.sql.Timestamp(1000))).toDF("id", "ts")
      val right = Seq((1, new java.sql.Timestamp(500))).toDF("model_version", "valid_from")
      graft.temporal.Temporal.asOfJoin(left, right, "ts", "valid_from")
    }, "Version side windows (2 rows) then broadcasts; the big side never shuffles.")
    dump("Keyed as-of join (events × order versions)", {
      val events = spark.read.parquet(s"$sf/events.parquet").select("event_id", "user_id", "ts")
      val versions = spark.read.parquet(s"$sf/orders.parquet")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"))
      graft.temporal.Temporal.asOfJoin(events, versions, "ts", "o_orderdate", Seq("user_id"))
    }, "Equi-join on the key with the validity-range predicate — hash/sort-merge, no loop join.")
    dump("Global top-k", SparkEntry.queries("q_topk_global")(spark, sf),
      "`TakeOrderedAndProject`: per-partition partial top-k, then final — no global sort.")
    dump("Salted two-phase aggregation", SparkEntry.queries("q_skew_salted_agg")(spark, sf),
      "Partial agg per (key, salt), final agg per key — one hot key spreads over 32 salts.")
    dumpInterior("MinHash-LSH dedup (sf0.001 slice, interior plan)",
      SparkEntry.queries("q_minhash_lsh")(spark, sf),
      "Row-local native signature expression over the persisted stage; " +
        "candidate pairs come from ONE bounded-heap bucket aggregate " +
        "(bounded_top_k fuses the hot-bucket cap — no count+semi-join guard, " +
        "no a×b self-join) with row-local ordered-pair generation; wide ops " +
        "are only that groupBy + ids-only pair dedup + verify join-back.")
    dump("Brute-force k-NN (bounded-heap top-k)",
      SparkEntry.queries("q_embed_knn")(spark, sf),
      "ObjectHashAggregate(bounded_top_k) partial→final: each map task keeps ≤k rows per query " +
        "BEFORE the shuffle — no Window, no Exchange of the scored cross product " +
        "(the round-1 scale-killer). Same shape in ivfTopK and q_image_knn.")
    dump("ADC k-NN at REFERENCE-scale PQ dims (plan-only)", {
      // k_c=8192, m=64, k_s=256 (exm/YFCC100MExample.java:86-90): 64 probed
      // lists × (64×256) LUT ride in ONE broadcast inside the native
      // adc_distance expression — the round-1 literal formulation was ~134M
      // plan nodes and could never compile at these dims.
      val luts = (0 until 64).map(li => li ->
        Array.tabulate(64, 256)((m2, k2) => (li + m2 * 256 + k2).toDouble)).toMap
      val codes = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"),
          transform(sequence(lit(0), lit(63)), i => pmod(i * 7, lit(256)).cast("int"))
            .as("pq_code"),
          pmod(col("vec_id"), lit(64)).cast("int").as("list_id"))
      codes.withColumn("adc_dist", graft.functions.PqExpressions.adc_distance(
        col("pq_code"), col("list_id"), spark.sparkContext.broadcast(luts)))
        .orderBy(col("adc_dist")).limit(10)
    }, "Plan holds a single adc_distance expression node; TakeOrderedAndProject for the top-k.")
    dump("IVF coarse assignment + probe lists at REFERENCE k_c=8192, d=1024 (plan-only)", {
      // ds/IVFPQ.java:100-106 coarse quantizer at the YFCC100M config
      // (exm/YFCC100MExample.java:86-90). The centroid matrix (8.4M values)
      // rides in ONE broadcast inside nearest_centroid/k_nearest_centroids;
      // the former per-centroid struct(aggregate(zip_with)) argmin pinned
      // ~8.4M literal nodes into the plan and could never compile here.
      val rnd = new java.util.Random(7)
      val big = Array.fill(8192, 1024)(rnd.nextGaussian())
      val bc = spark.sparkContext.broadcast(big)
      spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"),
          graft.functions.CentroidExpressions.nearest_centroid(col("embedding"), bc)
            .as("list_id"),
          graft.functions.CentroidExpressions.k_nearest_centroids(col("embedding"), 64, bc)
            .as("probes"))
    }, "One nearest_centroid + one k_nearest_centroids node; centroids are broadcast state, " +
      "not plan literals. Codegen'd scan loop (CentroidExpressionsSpec asserts the " +
      "WholeStageCodegen span).")
    dump("Exact dedup (content-fingerprint groupBy)",
      SparkEntry.queries("q_dedup_exact")(spark, sf),
      "The exchange partitions on (xxhash64, sha2-256) fingerprints computed map-side — " +
        "document bytes never ride a shuffle (DedupSpec asserts no text column in any exchange).")
    dump("Deterministic per-group down-sample (domain capping)",
      SparkEntry.queries("q_sample_per_group")(spark, sf),
      "ObjectHashAggregate(partial bounded_top_k) runs BEFORE the exchange: each map task " +
        "forwards at most k (md5-key, id) entries per group, so capping a 100 TB crawl mix " +
        "shuffles O(groups · partitions · k) ids and zero document bytes. No Window " +
        "(CurationSpec asserts).")
    dump("Multi-join analytics (TPC-H Q3 shape)",
      SparkEntry.queries("q_shipping_priority")(spark, sf),
      "Filters pushed to all three scans; two shuffle joins (AQE picks broadcast for the " +
        "filtered dims at this SF) feed a partial/final HashAggregate and TakeOrderedAndProject.")
    dumpInterior("Cross-corpus decontamination (containment join, interior plan)",
      SparkEntry.queries("q_decontaminate")(spark, sf),
      "Both shingle stages are persisted row-local word_shingles scans; the only wide ops are " +
        "the capped inverted-index equi-join and the ids-only pair dedup — no document text in " +
        "any exchange; the keep-set is one left-anti join.")
    dumpInterior("Bloom-prefiltered decontamination (broadcast-Bloom prune at the scan)",
      SparkEntry.queries("q_decontaminate_bloom")(spark, sf),
      "`bloom_hits(word_shingles(...)) >= k` filters ROW-LOCALLY directly above " +
        "the training-corpus scan (the benchmark-shingle Bloom rides one " +
        "broadcast); only surviving documents' shingles enter the " +
        "inverted-index exchange, and the keep-set is one left-anti join. At " +
        "web scale the prune removes ~all of the corpus map-side.")
    dump("Embedding radius search (threshold scan)",
      SparkEntry.queries("q_embed_range")(spark, sf),
      "BroadcastNestedLoopJoin of the (tiny) query side against the corpus scan with the " +
        "codegen'd vec_cosine threshold applied map-side — no Exchange anywhere before the " +
        "final ordering of the (small) result.")
    dumpPlan("Batched IVFADC search (one scan job, per-task heaps, no Exchange)",
      executionPlan("ivfPqSearchMany") {
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val head = emb.where(col("vec_id") < 16).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val centroids = head.take(8)
      val dim = head(0).length; val m = 8; val kS = 16; val subLen = dim / m
      val pq = graft.kernels.Kernels.PqModel(Array.tabulate(m)(j =>
        Array.tabulate(kS)(i =>
          java.util.Arrays.copyOfRange(head(i), j * subLen, (j + 1) * subLen))))
      val enc = graft.operators.Similarity.ivfPqEncode(
        emb, "vec_id", "embedding", centroids, pq)
      graft.operators.Similarity.ivfPqSearchMany(enc, "vec_id",
        (0 until 3).map(qi => (qi.toLong, head(qi))), centroids, pq,
        k = 10, nprobe = 4)
      ()
    }, "The plan of the `ivfPqSearchMany` execution the call runs: ONE scan stage of " +
      "the encoded corpus projecting (id, list_id, pq_code). Here the corpus is " +
      "unmaterialized `ivfPqEncode` output, so list_id is computed: no IN filter is " +
      "pushed (it would copy the encode below the projection), `ivf_pq_encode` runs " +
      "once per row and the tasks drop the unprobed lists' rows; over a stored " +
      "list_id the static IN filter reaches the scan (partition pruning on a " +
      "list_id-partitioned snapshot). Each task " +
      "scores its rows against the queries probing their list, from one broadcast " +
      "that maps each probed list to those query ids and their LUTs, and keeps one " +
      "k-bounded heap per query; the driver merges the heaps. No Exchange, no join, " +
      "no per-query Union — one job of one stage at any |Q| (SimilaritySpec asserts).")
    dump("Per-group mean embedding (native vec_mean aggregate)",
      SparkEntry.queries("q_embed_label_centroid")(spark, sf),
      "ObjectHashAggregate partial→final around one exchange: each task folds its " +
        "rows into ONE d-length buffer per label before the shuffle — the " +
        "posexplode-by-dimension alternative would multiply rows by d first.")
    dump("Context-window chunking (doc-local, no shuffle before the explode)",
      SparkEntry.queries("q_chunk_tokens")(spark, sf),
      "tokenize → per-chunk slice/array_join → posexplode, all row-local; the " +
        "one-partition input here plans no exchange, and a larger table's only " +
        "exchanges are the round-robin input spread and the final presentation sort.")
    dumpInterior("Semantic (SemDeDup-shaped) embedding dedup (interior plan)",
      SparkEntry.queries("q_embed_semantic_neardup")(spark, sf),
      "nearest_centroid rides ONE broadcast reference (O(1) plan nodes at any " +
        "k_c); the within-cluster verify is an equi-join on list_id over the " +
        "persisted assignment stage (InMemoryTableScan on both sides — computed " +
        "once), with the hot-cluster cap's count+semi-join guard above it.")
    dump("Bigram-LM perplexity scoring (CCNet-shaped)",
      SparkEntry.queries("q_lm_perplexity")(spark, sf),
      "Scoring explodes docs to (id, bigram) pairs — token pairs, never text, " +
        "in the exchange — then LEFT-joins the c12/c1 model tables (InMemoryTableScan " +
        "of the persisted bigram stage; AQE broadcasts them at this scale) and " +
        "aggregates once per doc. The model is a DataFrame, not driver state: a " +
        "10⁹-row bigram table would simply plan a shuffle join here instead.")
    dump("Boilerplate-line removal (C4/RefinedWeb-shaped)",
      SparkEntry.queries("q_remove_boilerplate")(spark, sf),
      "The line stage projects (id, line_no, xxhash64, sha2) BEFORE any exchange — " +
        "document text crosses no shuffle until the final reconstruction join, " +
        "where removal sets (int arrays) broadcast against the corpus scan and a " +
        "row-local indexed filter rebuilds the text.")
    dump("Target-mix rebalance (bounded-heap quota selection)",
      SparkEntry.queries("q_rebalance_mix")(spark, sf),
      "ObjectHashAggregate(partial bounded_top_k) caps each map task at max-k ids " +
        "per group before the exchange; the per-group quota filter is one broadcast " +
        "(group → k) join. No Window over the corpus, no text in any exchange.")
    dump("Example packing (concat-and-split per md5 shard)",
      SparkEntry.queries("q_pack_sequences")(spark, sf),
      "the Window PARTITIONS BY shard (hashpartitioning(shard)) — the parallelism " +
        "unit; never an unpartitioned global Window (single-task trap). Only " +
        "(id, n_tokens) rows enter the exchange — document text is projected away " +
        "before the shuffle.")
    dumpInterior("Repeated spans (substring dedup: positional k-grams → diagonal islands)",
      SparkEntry.queries("q_repeated_spans")(spark, sf),
      "positional fingerprints persist once (InMemoryTableScan feeds both the " +
        "occurrence-cap guard and both join sides); the islands Window PARTITIONS " +
        "BY (id_a, id_b, diag) — bounded partitions, never a global Window; the " +
        "exchange carries (hash, id, pos) only, never text.")
    dumpInterior("Repeated-span CUT (keep-lowest-id occurrence)",
      SparkEntry.queries("q_cut_spans")(spark, sf),
      "span discovery as above, then per-doc ranges aggregate to ONE ids-sized " +
        "array row; reconstruction is a single left join onto the corpus and the " +
        "row-local compiled drop_token_ranges projection — corpus text crosses " +
        "the plan exactly once, in the final projection's input.")
    dumpInterior("Within-doc repeated spans (self-match per (id, diagonal))",
      SparkEntry.queries("q_within_doc_spans")(spark, sf),
      "the same persisted positional-fingerprint stage self-joined on " +
        "(hash, id) — matches never leave the document, so the join key " +
        "includes id and the islands Window PARTITIONS BY (id, diag): " +
        "partition size is bounded by one document's repeat count, never " +
        "corpus-scale; the exchange carries (hash, id, pos) only.")
    dumpInterior("Combined span CUT (cross-doc ∪ within-doc ranges)",
      SparkEntry.queries("q_cut_spans_within")(spark, sf),
      "ONE persisted positional-fingerprint stage (a single InMemoryRelation " +
        "feeds the cap guard and both sides of a single pair join whose " +
        "predicate admits cross-doc AND self matches — disjoint islands " +
        "partitions, so spans are unchanged); the corpus-text join and " +
        "drop_token_ranges projection still run exactly once, and " +
        "overlapping ranges from the two span families merge inside the " +
        "compiled expression, not in a shuffle.")
    dump("Token-budget mix rebalance (two-phase sharded cumsum)",
      SparkEntry.queries("q_rebalance_tokens")(spark, sf),
      "the per-doc cumulative-sum Window PARTITIONS BY (source, __shard) — a " +
        "hot source spreads over the md5 sub-shards instead of one window " +
        "task; shard offsets (groups×shards rows) and per-group quotas join " +
        "as broadcasts; only (group, id, n_tokens) rows enter any exchange.")
    dump("Gopher quality rules (row-local struct projection)",
      SparkEntry.queries("q_gopher_quality")(spark, sf),
      "the seven Table-A1 counts are fields of ONE native `text_signals` scan " +
        "(one pass over the UTF-8 bytes, evaluated once per document by codegen's " +
        "subexpression elimination) and the stopword set is the plan's only " +
        "regexp_extract_all, inside one WholeStageCodegen " +
        "projection — no UDF. documents fits one partition here, so the scan is " +
        "coalesced to one and the projection and the presentation sort run in " +
        "one stage with NO exchange; a larger table is spread by a range " +
        "exchange on doc_id directly over the scan, whose RangePartitioning the " +
        "sort reuses (the range sampling job reads only the scan). Either way " +
        "the signals run once per document. The same projection composes as a " +
        "pushed filter on a 100 TB curation scan.",
      limit = 4500)
    dump("HTML text extraction (regexp_replace pass chain)",
      SparkEntry.queries("q_strip_html")(spark, sf),
      "the full strip/decode/normalize chain is one codegen'd projection (no " +
        "UDF) over the input spread: here a coalesce to one partition, so the " +
        "chain and the presentation sort run in one stage with no exchange (a " +
        "larger table gets a range exchange on doc_id that the sort reuses), " +
        "and the chain runs once per document — and each pass is in the " +
        "RE2 ∩ Java regex subset, so the DuckDB oracle hash-checks the " +
        "extraction byte-for-byte.")
    dump("DSIR importance resampling (fit → broadcast-ratio score → Gumbel top-k)", {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val target = docs.where(col("source").isin("src0", "src1"))
      val model = graft.operators.Dsir.dsirModel(docs, target, "text",
        buckets = 8192, alpha = 1.0)
      graft.operators.Dsir.dsirResample(docs, "doc_id", "text", model, n = 120)
    },
      "n-grams collapse to md5-prefix buckets IN THE SCAN PROJECTION — the " +
        "count exchanges carry (bucket) longs with map-side partials, never " +
        "n-gram text; the ≤B-row ratio table (InMemoryTableScan of the " +
        "persisted model) broadcast-joins the scoring explode; selection is " +
        "TakeOrderedAndProject (distributed bounded top-k), not a global sort.")
    dump("Stupid Backoff trigram scoring (row-local context + 5 model joins)", {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val lm = graft.operators.TextOps.stupidBackoffLm(docs, "text")
      graft.operators.TextOps.sbScore(docs, "doc_id", "text", lm)
    },
      "context keys are packed from the token array in one row-local " +
        "transform (no Window, no self-join); the five n-gram joins and the " +
        "per-doc aggregate exchange n-grams and ids only — document text " +
        "never shuffles. Count tables are InMemoryTableScans of the " +
        "persisted model; AQE broadcasts them at this scale and a 10⁹-row " +
        "table would plan a shuffle join unchanged.")
    dump("CCNet perplexity buckets (scored stage feeding the rank sort)", {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val lm = graft.operators.TextOps.bigramLm(docs, "text", k = 0.1)
      graft.operators.TextOps.lmScore(docs, "doc_id", "text", lm)
        .select(col("doc_id"), col("n_bigrams"), col("cross_entropy"))
        .orderBy(col("cross_entropy"), col("doc_id"))
    },
      "the bucket operator persists this scored plan once (it feeds the " +
        "count and the sort), then ranks via RANGE-PARTITIONED sort + " +
        "zipWithIndex — distributed order statistics (the plan above shows " +
        "the rangepartitioning exchange), never a single-task unpartitioned " +
        "Window; the zipWithIndex seam and bucket arithmetic above it are " +
        "row-local.")
    dump("C4 blocklist screening (one compiled multi-term regex pass)",
      SparkEntry.queries("q_blocklist")(spark, sf),
      "count, audit terms and the keep flag all derive from ONE " +
        "regexp_extract_all inside WholeStageCodegen directly over the scan " +
        "— no UDF, no exchange before the presentation sort; as a filter it " +
        "pushes to a 100 TB curation scan.")
    dump("Trained NB language ID (broadcast classes, count join, bounded argmax)", {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val model = graft.operators.TextOps.nbLangModel(docs, "lang", "text")
      graft.operators.TextOps.nbLangId(docs, "doc_id", "text", model)
    },
      "one explode to (id, trigram) occurrence rows, the |langs|-row class " +
        "table broadcast cross-joined, ONE left join against the persisted " +
        "count model (InMemoryTableScan), a partial-combined per-(id, lang) " +
        "aggregate and the bounded_top_k argmax — documents never shuffle; " +
        "the model stays DataFrames and would plan a shuffle join at 10⁹ " +
        "rows unchanged.")
    dumpInterior("Incremental near-dup (new batch vs persisted signature index)", {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select("doc_id", "text")
      val sigDir = org.apache.spark.sql.GraftBridge.createTempDir("plans_sigs")
        .toPath.resolve("s").toString
      graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text", 3, 64)
        .write.mode("overwrite").parquet(sigDir)
      val newBatch = docs.where(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      graft.operators.Dedup.minhashLshPairsIncremental(newBatch,
        spark.read.parquet(sigDir), "doc_id", "text")
    },
      "only the NEW batch is shingled+minhashed (and cached); the persisted " +
        "corpus signatures are storage-backed scans, COLUMN-PRUNED per use — " +
        "banding reads ReadSchema (doc_id, sig) without the fat sh column, " +
        "the exact-Jaccard verify joins (doc_id, sh) back for surviving " +
        "candidate ids only. A +1% re-curation pays new-batch compute plus " +
        "pruned scans, never a corpus recompute (DedupSpec proves " +
        "prev ∪ incremental ≡ full recompute).")
    dump("Unigram-LM tokenize (broadcast Viterbi model, codegen'd projection)", {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val model = graft.ml.Unigram.learn(docs, "text", vocabSize = 400,
        maxWords = 10000, minCount = 2L)
      val bc = spark.sparkContext.broadcast(model)
      docs.select(col("doc_id"),
        graft.functions.UnigramExpressions.unigram_encode(col("text"), bc)
          .as("pieces"))
    },
      "the learned piece vocabulary rides a broadcast into ONE codegen'd " +
        "projection over the scan (no UDF, no shuffle, no plan literals); " +
        "the per-word Viterbi DP is compiled Scala behind a per-thread LRU " +
        "(Zipf head words hit the cache). Same driver-state-expression " +
        "doctrine as bpe_encode / the centroid and PQ LUT expressions.")
    dump("IVFADC+R two-stage re-rank (ids-only candidates back onto the vectors)",
      SparkEntry.queries("q_embed_rerank")(spark, sf),
      "the widened ADC candidate set (|Q|·m ids) BROADCASTS back onto the " +
        "vector table — the corpus is scanned once and full vectors never " +
        "enter an exchange; exact distances run in the codegen'd " +
        "vec_squared_l2 and the final k is the bounded_top_k partial " +
        "aggregate, no Window.")
    dump("Keep-first paragraph dedup (min-struct keeper, hash-only exchanges)",
      SparkEntry.queries("q_dedup_paragraphs")(spark, sf),
      "unit text is projected to (id, pos, xxhash64, sha256) BEFORE any " +
        "exchange — the keeper per fingerprint is one partial+final " +
        "min(struct(id, pos)) aggregate (a viral paragraph map-side " +
        "combines, no hot shuffle key); removal sets return as one int " +
        "array per affected doc and reconstruction is a row-local indexed " +
        "filter over the same split. The one-partition input here plans no " +
        "exchange at all; PlanSpec checks the exchange keys at sf0.1.")
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
  }
}
