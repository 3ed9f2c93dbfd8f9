package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.kernels.{Imaging, Kernels}
import graft.model.ModelBundle
import graft.operators.Similarity
import graft.pipeline.FeaturePipeline
import graft.pipeline.FeaturePipeline.PipelineConfig
import graft.sink.SnapshotSink
import graft.sink.SnapshotSink.Snapshot

/** Spans around each public kernel call, in a benchmark-owned pass over the
  * bound input; nanoseconds are summed per partition into accumulators. */
object KernelProbe {
  val phases: Seq[String] = Seq("decode", "scale", "extract", "vlad", "pca", "coarse", "pq")

  /** Returns (nanoseconds per phase, images, descriptors). */
  def run(bound: DataFrame, bundles: Map[Int, ModelBundle],
          cfg: PipelineConfig): (Map[String, Long], Long, Long) = {
    val sc = bound.sparkSession.sparkContext
    val accs = phases.map(p => sc.longAccumulator(s"kernels.$p"))
    val images = sc.longAccumulator("kernels.images")
    val descriptors = sc.longAccumulator("kernels.descriptors")
    val bc = sc.broadcast(bundles)
    bound.select("bytes", "model_version").rdd.foreachPartition { it =>
      val ns = new Array[Long](phases.size)
      var n, d, sink = 0L
      var t = System.nanoTime()
      def lap(i: Int): Unit = { val now = System.nanoTime(); ns(i) += now - t; t = now }
      it.foreach { r =>
        val b = bc.value(r.getInt(1))
        t = System.nanoTime()
        val raster = Imaging.decode(r.getAs[Array[Byte]](0)); lap(0)
        raster.foreach { ras =>
          val scaled = Imaging.maxPixelsScaling(ras, cfg.maxPixels); lap(1)
          val desc = cfg.extractor.extract(scaled); lap(2)
          val vlad = Kernels.multiVlad(desc, b.codebooks); lap(3)
          val vec = if (b.projectedLength < b.vladLength) Kernels.pcaProject(vlad, b.pca)
            else vlad
          lap(4)
          val li = Kernels.nearestCentroid(vec, b.coarseQuantizer); lap(5)
          val code = Kernels.pqEncode(b.transform(Kernels.residual(vec, b.coarseQuantizer(li))),
            b.pq)
          lap(6)
          d += desc.length
          sink += li + code(0)
        }
        n += 1
      }
      accs.zip(ns).foreach { case (a, v) => a.add(v) }
      images.add(n); descriptors.add(d + (sink & 0L))
    }
    (phases.zip(accs.map(_.value.longValue)).toMap, images.value, descriptors.value)
  }
}

object Workloads {
  import Main._

  trait Workload {
    /** One-time per-seed generation and the input freeze. */
    def prepare(): Unit
    /** Everything before the first timed operation; repeated per set-up. */
    def setup(): Unit
    /** The closed loop: seconds per operation, and items per second. */
    def measure(budget: Double): (Seq[Double], Double)
    /** The traced run: per-layer metrics and the tracing overhead. */
    def traced(): Unit
  }

  /** Runs `op` until `budget` seconds have passed and at least `minOps`
    * operations ran, after `warm` discarded ones (run and checked like the
    * rest, so lazy initialisation is not timed). Returns each kept
    * operation's seconds. */
  def loop(budget: Double, minOps: Int, warm: Int = 1)(op: Int => Double): Seq[Double] = {
    (0 until warm).foreach(op)
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.size < minOps || (System.nanoTime() - t0) / 1e9 < budget)
      out += op(warm + out.size)
    out.toSeq
  }

  private def verified(r: Run, key: String)(digests: => Map[String, String]): Unit = {
    val stamp = Inputs.cacheDir(r.size, r.seed).resolve(s"verified_$key.ok")
    if (!Files.exists(stamp)) {
      Frozen.check(r.size, r.seed, digests,
        Inputs.allDigests(r.session, Size.tiny, 0L))
      Files.write(stamp, Array.emptyByteArray)
    }
  }

  /** Per-operation engine counters of a traced window. */
  private def engineMetrics(r: Run, t: Totals, ops: Int): Unit = {
    val m = r.metrics
    m("spark.jobs") = t.jobs.toDouble / ops
    m("spark.stages") = t.stages.toDouble / ops
    m("spark.tasks") = t.tasks.toDouble / ops
    m("spark.task_s") = t.taskSec / ops
    m("spark.gc_s") = t.gcSec / ops
    m("spark.skew_max_over_median") = t.skew
    m("spark.shuffle_write_mb") = t.shuffleWriteMb / ops
    m("spark.shuffle_read_mb") = t.shuffleReadMb / ops
    m("spark.spill_mb") = t.spillMb / ops
    m("spark.planning_ms") = t.planningMs / ops
    m("spark.codegen_compile_ms") = t.codegenMs / ops
  }

  /** Write and commit time from the snapshot's lineage; files and bytes. */
  private def sinkMetrics(r: Run, table: String, snap: Snapshot): Unit = {
    val m = r.metrics
    m("sink.write_s") = snap.lineage("write_millis").toDouble / 1e3
    m("sink.commit_s") = snap.lineage("fs_millis").toDouble / 1e3
    m("sink.files_written") = snap.files.size.toDouble
    val bytes = snap.files.map(f => Files.size(Paths.get(table, f))).sum
    m("sink.bytes_per_row") = bytes.toDouble / math.max(1L, snap.rowCount)
  }

  // --------------------------------------------------------------- ingest

  /** Seeded images and two model versions → as-of join → featurize → salted
    * snapshot append into a fresh table, at local[cpus]; the traced run adds
    * the same input at local[1] and an idempotent `appendMissing` re-run. */
  final class Ingest(r: Run) extends Workload {
    private var in: ImageInputs = _
    private var inputRows = 0L
    private var corruptIds: Set[String] = Set.empty
    private var samples: Seq[(String, Int, Array[Double], Int, Array[Int])] = Seq.empty
    private var untraced: Seq[Double] = Seq.empty

    private def loadInputs(): Unit = in = Inputs.images(r.session, r.size, r.seed)
    private def bound(): DataFrame = Inputs.bound(r.session, in)
    private def features(b: DataFrame): DataFrame =
      Inputs.salted(FeaturePipeline.featurize(b, in.bundles, r.pipelineConfig))

    private def table(name: String): String = {
      val p = r.workDir.resolve(name)
      Inputs.deleteRecursively(p)
      p.toString
    }

    def prepare(): Unit = {
      loadInputs()
      verified(r, "images")(Inputs.imageDigests(r.session, in))
      val input = r.session.read.parquet(in.path).where(col("fmt").isin("png", "jpeg"))
      inputRows = input.count()
      corruptIds = input.where(Inputs.corruptRule || col("image_id") === "img_00000001")
        .select("image_id").collect().map(_.getString(0)).toSet
      // a fixed seeded sample, recomputed single-threaded through the kernels
      val cfg = r.pipelineConfig
      samples = input.where(!col("image_id").isin(corruptIds.toSeq: _*))
        .orderBy(xxhash64(lit(r.seed), col("image_id"))).limit(6)
        .select("image_id", "bytes", "ts").collect().toSeq.map { row =>
          val mv = if (row.getTimestamp(2).getTime >= in.v2FromMillis) 2 else 1
          val b = in.bundles(mv)
          val desc = cfg.extractor.extract(Imaging.maxPixelsScaling(
            Imaging.decode(row.getAs[Array[Byte]](1)).get, cfg.maxPixels))
          val vec = FeaturePipeline.encodeVector(desc, b)
          val li = Kernels.nearestCentroid(vec, b.coarseQuantizer)
          (row.getString(0), mv, vec, li,
            Kernels.pqEncode(b.transform(Kernels.residual(vec, b.coarseQuantizer(li))), b.pq))
        }
    }

    def setup(): Unit = {
      loadInputs()
      ingest(table("warm"), bound().where(col("image_id") < "img_00000024"), r.cpus)
    }

    private def ingest(t: String, input: DataFrame, cpus: Int): Snapshot =
      append(features(input), t, cpus)

    /** The salted snapshot write: numSalts × k writer groups, k = cpus/4
      * (at least 2), so the hot salt does not end the stage in one task. */
    private def append(f: DataFrame, t: String, cpus: Int): Snapshot = {
      val k = math.max(2, cpus / 4)
      SnapshotSink.append(f.repartition(Inputs.numSalts * k,
        col("salt") * k + pmod(xxhash64(col("image_id")), lit(k))),
        t, "image_id", Seq("salt"), Map("seed" -> r.seed.toString))
    }

    /** Row count, error rows by reason, zero as-of leakage, and the sample
      * recomputed through the kernels. */
    private def check(t: String, snap: Snapshot): Boolean = {
      val out = SnapshotSink.read(r.session, t)
      val v2 = new Timestamp(in.v2FromMillis)
      val leak = (col("ts") >= lit(v2) && col("model_version") =!= 2) ||
        (col("ts") < lit(v2) && col("model_version") =!= 1)
      val agg = out.agg(count(lit(1)), sum(when(leak, 1).otherwise(0))).head()
      val errors = out.where(col("error").isNotNull).select("image_id", "error").collect()
        .map(e => e.getString(0) -> e.getString(1)).toMap
      val got = out.where(col("image_id").isin(samples.map(_._1): _*))
        .select("image_id", "model_version", "vector", "list_id", "pq_code").collect()
        .map(x => x.getString(0) -> x).toMap
      val samplesOk = samples.forall { case (id, mv, vec, li, code) =>
        got.get(id).exists { x =>
          val v = x.getSeq[Double](2)
          x.getInt(1) == mv && x.getInt(3) == li && x.getSeq[Int](4) == code.toSeq &&
            v.size == vec.length && v.indices.forall(i =>
              math.abs(v(i) - vec(i)) <= 1e-9 + 1e-7 * math.abs(vec(i)))
        }
      }
      snap.rowCount == inputRows && agg.getLong(0) == inputRows && agg.getLong(1) == 0L &&
        errors.keySet == corruptIds && errors.values.forall(_ == "decode_failed") && samplesOk
    }

    private def timedOp(i: Int, cpus: Int): Double = {
      val t = table(s"ingest_$i")
      val (snap, sec) = seconds(ingest(t, bound(), cpus))
      r.check(s"ingest op $i")(check(t, snap))
      Inputs.deleteRecursively(Paths.get(t))
      sec
    }

    def measure(budget: Double): (Seq[Double], Double) = {
      // the kernels' JIT compilation settles over the first operations
      untraced = loop(budget, 4, warm = 2)(i => timedOp(i, r.cpus))
      (untraced, inputRows / median(untraced))
    }

    /** One ingest with its layers materialized one at a time, each in its
      * own span: the as-of join, featurize, then the sink append. */
    private def layered(t: String): (Snapshot, Double) = {
      val (b, boundRows) = r.spans.span("temporal.asof") {
        val b = bound().persist(); (b, b.count())
      }
      val m0 = r.obs.mark()
      val (f, rowsOut) = r.spans.span("pipeline.featurize") {
        val f = features(b).persist(); (f, f.count())
      }
      val featurizeTaskSec = r.obs.since(m0).taskSec
      val snap = r.spans.span("sink.append")(append(f, t, r.cpus))
      val errors = f.where(col("error").isNotNull).count()
      f.unpersist(); b.unpersist()
      r.metrics("temporal.rows_unbound") = (inputRows - boundRows).toDouble
      r.metrics("pipeline.rows_out") = rowsOut.toDouble
      r.metrics("pipeline.error_rows") = errors.toDouble
      (snap, featurizeTaskSec)
    }

    def traced(): Unit = {
      val m = r.metrics
      val reps = 2
      val m0 = r.obs.mark()
      var last: (Snapshot, Double) = null
      var lastTable = ""
      val tracedSec = (0 until reps).map { i =>
        r.spans.newTrace(s"ingest-$i")
        lastTable = table(s"traced_$i")
        val (res, sec) = seconds(r.spans.span("ingest")(layered(lastTable)))
        last = res
        r.check(s"traced ingest op $i")(check(lastTable, res._1))
        sec
      }
      val window = r.obs.since(m0)
      engineMetrics(r, window, reps)
      m("sink.rows_read_per_row_committed") =
        window.recordsRead.toDouble / reps / math.max(1L, last._1.rowCount)
      m("temporal.asof_s") = r.spans.selfSeconds("temporal.asof") / reps
      m("pipeline.featurize_s") = r.spans.selfSeconds("pipeline.featurize") / reps
      sinkMetrics(r, lastTable, last._1)
      m("trace.overhead_s") = median(tracedSec) - median(untraced)

      // resume probe: the same input re-submitted through appendMissing onto
      // the table it was just committed to; every key is present, so the
      // sink's read probe and anti-join do all the work and nothing is written
      r.spans.newTrace("resume")
      val (committed, readSec) = seconds(r.spans.span("sink.read") {
        SnapshotSink.read(r.session, lastTable)
      })
      m("sink.read_plan_ms") = readSec * 1e3
      val f = features(bound())
      m("sink.anti_join_s") = seconds(r.spans.span("sink.anti_join") {
        f.join(committed.select("image_id"), Seq("image_id"), "left_anti").count()
      })._2
      r.check("resume probe writes nothing") {
        r.spans.span("sink.append_missing") {
          SnapshotSink.appendMissing(f, lastTable, "image_id", Seq("salt"))
        }.isEmpty
      }

      // kernel self times at full width and at one thread, on the same input
      def probe(): (Map[String, Long], Long, Long) = {
        val b = bound().persist()
        b.count()
        r.spans.newTrace("kernels")
        val res = r.spans.span("kernels")(KernelProbe.run(b, in.bundles, r.pipelineConfig))
        b.unpersist()
        res
      }
      val (ns4, imgs, descs) = probe()
      val names = Map("decode" -> "kernels.decode_ms_per_img",
        "scale" -> "kernels.scale_ms_per_img", "extract" -> "extract.ms_per_img",
        "vlad" -> "kernels.vlad_ms_per_img", "pca" -> "kernels.pca_ms_per_img",
        "coarse" -> "kernels.coarse_ms_per_img", "pq" -> "kernels.pq_ms_per_img")
      names.foreach { case (p, n) => m(n) = ns4(p) / 1e6 / imgs }
      m("extract.descriptors_per_img") = descs.toDouble / imgs
      m("kernels.unaccounted_frac") = 1.0 - ns4.values.sum / 1e9 / last._2

      r.restart(1)
      val t1 = (0 until 2).map(i => timedOp(100 + i, 1))
      val (ns1, imgs1, _) = probe()
      m("kernels.thread_slowdown") = (ns4.values.sum.toDouble / imgs) /
        (ns1.values.sum.toDouble / imgs1)
      val (tHigh, tLow) = (median(untraced), median(t1))
      m("scaling_eff") = tLow / tHigh / r.cpus
      // t = W/c + F through the (1, cpus) pair
      val w = (tLow - tHigh) / (1.0 - 1.0 / r.cpus)
      m("spark.fixed_cost_s") = tLow - w
    }
  }

  // ------------------------------------------------------------------ knn

  val k = 10
  val nprobe = 4

  /** Recall@10 of IVF-PQ against exact top-10 over the fixed query subset. */
  def recallOf(in: KnnInputs, size: Size, found: Map[Long, Seq[Long]]): Double =
    (0 until size.recallQueries).map { q =>
      val exact = Inputs.exactTopK(in.vectors, in.queries(q), k).toSet
      found.getOrElse(q.toLong, Seq.empty).count(exact.contains).toDouble / k
    }.sum / size.recallQueries

  def search(enc: DataFrame, in: KnnInputs, qids: Seq[Int]): DataFrame =
    Similarity.ivfPqSearchMany(enc, "id", qids.map(q => (q.toLong, in.queries(q))),
      in.coarse, in.pq, k, nprobe)

  def recallAt10(spark: org.apache.spark.sql.SparkSession, size: Size, in: KnnInputs): Double = {
    val rows = search(SnapshotSink.read(spark, in.table), in, 0 until size.recallQueries)
      .collect()
    recallOf(in, size, rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.toSeq.map(_.getLong(1)) })
  }

  final class Knn(r: Run) extends Workload {
    private var in: KnnInputs = _
    private var enc: DataFrame = _
    private val found = mutable.Map.empty[Long, Seq[Long]]
    private var untraced: Seq[Double] = Seq.empty
    private def batches: Int = in.queries.length / r.size.batch

    def prepare(): Unit = {
      in = Inputs.knn(r.session, r.size, r.seed)
      verified(r, "knn")(Inputs.knnDigests(r.session, in))
    }

    def setup(): Unit = {
      in = Inputs.knn(r.session, r.size, r.seed)
      val (e, sec) = seconds(r.spans.span("sink.read")(SnapshotSink.read(r.session, in.table)))
      enc = e
      r.metrics("sink.read_plan_ms") = sec * 1e3
      (0 until 3).foreach(b => batch(b))
    }

    private def batch(b: Int): Array[Row] = {
      val qids = (0 until r.size.batch).map(j => (b % batches) * r.size.batch + j)
      val df = r.spans.span("similarity.prep")(search(enc, in, qids))
      r.spans.span("similarity.exec")(df.collect())
    }

    /** Each query returns k rows ordered by (distance, id). */
    private def check(rows: Array[Row]): Boolean = {
      val byQuery = rows.toSeq.groupBy(_.getLong(0))
      val ok = byQuery.size == r.size.batch && byQuery.values.forall { rs =>
        rs.size == k && rs.sliding(2).forall {
          case Seq(a, c) => a.getDouble(3) < c.getDouble(3) ||
            (a.getDouble(3) == c.getDouble(3) && a.getLong(1) < c.getLong(1))
          case _ => true
        }
      }
      byQuery.foreach { case (q, rs) =>
        if (q < r.size.recallQueries) found(q) = rs.map(_.getLong(1)) }
      ok
    }

    private def timedBatch(b: Int): Double = {
      val (rows, sec) = seconds(batch(b))
      r.check(s"knn batch $b")(check(rows))
      sec
    }

    def measure(budget: Double): (Seq[Double], Double) = {
      untraced = loop(budget, r.size.minBatches)(timedBatch)
      val recall = recallOf(in, r.size, found.toMap)
      val floor = Frozen.recall(r.size, r.seed).getOrElse(Frozen.recallFloor(r.size) - 0.1)
      r.check(f"recall_at_10 $recall%.4f >= $floor%.4f")(recall >= floor - 1e-9)
      r.metrics("recall_at_10") = recall
      (untraced, untraced.size * r.size.batch / untraced.sum)
    }

    def traced(): Unit = {
      val m = r.metrics
      val reps = 20
      val m0 = r.obs.mark()
      var results = 0L
      val tracedSec = (0 until reps).map { i =>
        r.spans.newTrace(s"knn-$i")
        val (rows, sec) = seconds(r.spans.span("knn.batch")(batch(i)))
        results += rows.length
        r.check(s"traced knn batch $i")(check(rows))
        sec
      }
      val window = r.obs.since(m0)
      engineMetrics(r, window, reps)
      m("similarity.prep_ms") = r.spans.selfSeconds("similarity.prep") * 1e3 /
        r.spans.count("similarity.prep")
      m("similarity.exec_ms") = r.spans.selfSeconds("similarity.exec") * 1e3 /
        r.spans.count("similarity.exec")
      m("similarity.rows_scanned_per_result") = window.scanRows.toDouble / math.max(1L, results)
      m("similarity.files_read_per_op") = window.scanFiles.toDouble / reps
      m("trace.overhead_s") = median(tracedSec) - median(untraced)
    }
  }

  // ------------------------------------------------------------ query_mix

  def queryDir: String = Paths.get(queryData).toAbsolutePath.toString

  def queryFileDigests(): Map[String, String] = {
    val s = Files.list(Paths.get(queryData))
    try s.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> Inputs.fileSha256(p)).toMap
    finally s.close()
  }

  def queryDigest(spark: org.apache.spark.sql.SparkSession, q: String): String =
    Inputs.sha256(SparkEntry.queries(q)(spark, queryDir).collect().map(_.toString)
      .mkString("\n"))

  final class QueryMix(r: Run) extends Workload {
    private var untraced: Seq[Double] = Seq.empty
    private val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

    def prepare(): Unit = {
      val rec = Frozen.queryFiles
      val got = queryFileDigests()
      if (rec.isEmpty || got != rec)
        throw new FrozenInputMismatch(s"query_mix data files $got, recorded $rec")
    }

    private def run(q: String): Unit =
      SparkEntry.queries(q)(r.session, queryDir).write.mode("overwrite").format("noop").save()

    def setup(): Unit = run("q_window_agg")

    private def pass(p: Int): Double = {
      val order = new scala.util.Random(r.seed * 7919L + p).shuffle(queryMix)
      order.map { q =>
        val (_, sec) = seconds(r.spans.span(s"query.$q") {
          r.check(s"$q pass $p") { run(q); true }
        })
        perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += sec
        sec
      }.sum
    }

    def measure(budget: Double): (Seq[Double], Double) = {
      // untimed output check, which also warms every query's code paths
      queryMix.foreach { q =>
        r.check(s"$q result digest") {
          Frozen.queryResult(q).contains(queryDigest(r.session, q))
        }
      }
      untraced = loop(budget, 2)(pass)
      (untraced, untraced.size * queryMix.size / untraced.sum)
    }

    def traced(): Unit = {
      val reps = 2
      perQuery.clear()
      val m0 = r.obs.mark()
      val tracedSec = (0 until reps).map { i => r.spans.newTrace(s"pass-$i"); pass(1000 + i) }
      engineMetrics(r, r.obs.since(m0), reps)
      queryMix.foreach(q => r.metrics(s"query.${q}_ms") = median(perQuery(q).toSeq) * 1e3)
      r.metrics("trace.overhead_s") = median(tracedSec) - median(untraced)
    }
  }
}
