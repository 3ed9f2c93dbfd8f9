package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.data.Synth
import graft.pipeline.FeaturePipeline.PipelineConfig

/** A recorded input no longer matches what the program generates. */
final class FrozenInputMismatch(msg: String) extends RuntimeException(msg)

/**
 * The benchmark's main: one workload, one seed, one process at local[cpus]
 * with one closed-loop client. Prints one JSON line last on stdout.
 *
 *   graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1> <full|tiny> <cpus>
 *   graft.perfbench.Main freeze <full|tiny> <cpus> <seed>...
 *   graft.perfbench.Main freeze-queries <cpus>
 */
object Main {

  val workloads: Seq[String] = Seq("ingest", "knn", "query_mix")

  val queryMix: Seq[String] = Seq("q_window_agg", "q_strip_html", "q_gopher_quality")

  val queryData = "perfbench/data/sf0.01"
  val frozenPath: Path = Paths.get("perfbench", "frozen.json")

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "items_per_s" -> "1/s")

  val perLayer: Seq[(String, String)] = Seq(
    "host.probe_ms" -> "ms", "failed_frac" -> "ratio", "trace.overhead_s" -> "s",
    "op_p50_ms" -> "ms", "op_tail_ms" -> "ms", "op_tail_pct" -> "%",
    "op_samples" -> "count",
    "scaling_eff" -> "ratio", "recall_at_10" -> "ratio",
    "kernels.decode_ms_per_img" -> "ms", "kernels.scale_ms_per_img" -> "ms",
    "extract.ms_per_img" -> "ms", "kernels.vlad_ms_per_img" -> "ms",
    "kernels.pca_ms_per_img" -> "ms", "kernels.coarse_ms_per_img" -> "ms",
    "kernels.pq_ms_per_img" -> "ms", "extract.descriptors_per_img" -> "count",
    "kernels.thread_slowdown" -> "ratio", "kernels.unaccounted_frac" -> "ratio",
    "spark.fixed_cost_s" -> "s", "temporal.asof_s" -> "s", "temporal.rows_unbound" -> "count",
    "pipeline.featurize_s" -> "s", "pipeline.rows_out" -> "count",
    "pipeline.error_rows" -> "count", "sink.write_s" -> "s", "sink.commit_s" -> "s",
    "sink.files_written" -> "count", "sink.bytes_per_row" -> "bytes",
    "sink.read_plan_ms" -> "ms", "sink.anti_join_s" -> "s",
    "sink.rows_read_per_row_committed" -> "ratio", "similarity.prep_ms" -> "ms",
    "similarity.exec_ms" -> "ms", "similarity.rows_scanned_per_result" -> "ratio",
    "similarity.files_read_per_op" -> "count") ++
    queryMix.map(q => s"query.${q}_ms" -> "ms") ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.skew_max_over_median" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.planning_ms" -> "ms",
    "spark.codegen_compile_ms" -> "ms", "jvm.peak_rss_mb" -> "MB",
    "jvm.gc_pause_max_ms" -> "ms")

  def log(msg: String): Unit =
    System.err.println(s"[perfbench ${java.time.Instant.now()}] $msg")

  def newSession(cpus: Int): SparkSession = {
    val tmp = Paths.get(".bench_build", "tmp").toAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-perfbench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (2L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (128L * 1024).toString)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val code = try {
      argv.head match {
        case "freeze" => Freeze.inputs(Size(argv(1)), argv(2).toInt, argv.drop(3).map(_.toLong).toSeq); 0
        case "freeze-queries" => Freeze.queries(argv(1).toInt); 0
        case w =>
          require(workloads.contains(w), s"unknown workload $w")
          new Run(w, argv(1).toLong, argv(2).toDouble, argv(3) == "1", Size(argv(4)),
            argv(5).toInt).execute()
          0
      }
    } catch {
      case e: FrozenInputMismatch => log(s"refusing to run: ${e.getMessage}"); 3
      case e: Throwable => log(s"fatal: $e"); e.printStackTrace(); 1
    }
    SparkSession.getActiveSession.foreach(_.stop())
    System.out.flush()
    sys.exit(code)
  }
}

/** Recorded digests and seed-code values, read from `perfbench/frozen.json`. */
object Frozen {
  lazy val root: JsonNode = new ObjectMapper().readTree(Main.frozenPath.toFile)

  private def at(path: String*): Option[JsonNode] =
    path.foldLeft(Option(root))((n, k) => n.flatMap(x => Option(x.get(k))))

  def inputs(size: Size, seed: Long): Option[Map[String, String]] =
    at("inputs", size.name, seed.toString).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap)

  def recall(size: Size, seed: Long): Option[Double] =
    at("recall_at_10", size.name, seed.toString).map(_.asDouble)

  def recallFloor(size: Size): Double =
    at("recall_at_10", size.name).map(_.elements().asScala.map(_.asDouble).min)
      .getOrElse(0.0)

  def queryFiles: Map[String, String] = at("query_mix", "files").map(_.fields().asScala
    .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty)

  def queryResult(q: String): Option[String] =
    at("query_mix", "results", q).map(_.asText)

  /** Compare freshly computed digests with the recorded ones. An unrecorded
    * seed is checked through the canary instead: seed 0 at the tiny size,
    * whose digests are always recorded. */
  def check(size: Size, seed: Long, got: => Map[String, String],
            canary: => Map[String, String]): Unit = inputs(size, seed) match {
    case Some(rec) =>
      got.foreach { case (k, v) =>
        if (!rec.get(k).contains(v))
          throw new FrozenInputMismatch(s"$k for seed $seed (${size.name}) is $v, " +
            s"recorded ${rec.getOrElse(k, "nothing")}")
      }
    case None =>
      val stamp = Paths.get(".bench_build", "cache", "canary.ok")
      if (!Files.exists(stamp)) {
        val rec = inputs(Size.tiny, 0L).getOrElse(
          throw new FrozenInputMismatch("no canary digests recorded"))
        canary.foreach { case (k, v) =>
          if (!rec.get(k).contains(v))
            throw new FrozenInputMismatch(s"canary $k is $v, recorded ${rec.getOrElse(k, "nothing")}")
        }
        Files.createDirectories(stamp.getParent)
        Files.write(stamp, Array.emptyByteArray)
      }
  }
}

/** Writes digests for `perfbench/frozen.json` as JSON on stdout. */
object Freeze {
  def inputs(size: Size, cpus: Int, seeds: Seq[Long]): Unit = {
    val spark = Main.newSession(cpus)
    val parts = seeds.map { seed =>
      Main.log(s"freezing ${size.name} seed $seed")
      val d = Inputs.allDigests(spark, size, seed)
      val recall = Workloads.recallAt10(spark, size, Inputs.knn(spark, size, seed))
      (seed, d, recall)
    }
    val inputsJson = parts.map { case (s, d, _) =>
      s""""$s":{${d.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")}}"""
    }.mkString(",")
    val recallJson = parts.map { case (s, _, r) => s""""$s":$r""" }.mkString(",")
    println(s"""{"size":"${size.name}","inputs":{$inputsJson},"recall_at_10":{$recallJson}}""")
  }

  def queries(cpus: Int): Unit = {
    val spark = Main.newSession(cpus)
    val files = Workloads.queryFileDigests()
    val results = Main.queryMix.map(q => q -> Workloads.queryDigest(spark, q))
    def obj(m: Seq[(String, String)]) =
      m.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    println(s"""{"files":${obj(files.toSeq.sorted)},"results":${obj(results)}}""")
  }
}

/** One benchmark run: set-ups, the measured closed loop, checks, output.
  * The workloads read and record through its public members. */
final class Run(workload: String, val seed: Long, budget: Double, trace: Boolean,
                val size: Size, val cpus: Int) {
  import Main._

  val spans = new Tracer(trace)
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val workDir: Path = Paths.get(".bench_build", "work", s"$workload-$seed")
  val pipelineConfig: PipelineConfig = Synth.defaultConfig
  var session: SparkSession = _
  var obs: EngineObserver = _
  private var attempted = 0L
  private var failed = 0L

  /** One checked operation: an exception or a false check counts as failed. */
  def check(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case e: FrozenInputMismatch => throw e
      case e: Throwable => log(s"$what threw: $e"); e.printStackTrace(); false
    }
    if (!ok) { failed += 1; log(s"$what failed its check") }
  }

  /** A fresh Spark session at local[c], with the engine observers attached. */
  def restart(c: Int): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    session = newSession(c)
    obs = new EngineObserver(session)
  }

  def execute(): Unit = {
    val probe = JvmObserver.probeMs()
    Inputs.deleteRecursively(workDir)
    Files.createDirectories(workDir)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    restart(cpus)
    val w: Workloads.Workload = workload match {
      case "ingest" => new Workloads.Ingest(this)
      case "knn" => new Workloads.Knn(this)
      case "query_mix" => new Workloads.QueryMix(this)
    }
    // one-time per-seed generation and the input freeze: outside set-up
    val (_, genSec) = seconds(w.prepare())
    // set-up 1 runs from process start; 2 and 3 repeat it in a fresh session
    w.setup()
    val setups = mutable.ArrayBuffer(
      (System.currentTimeMillis() - jvmStart) / 1e3 - genSec)
    (2 to 3).foreach { _ =>
      val (_, s) = seconds { restart(cpus); w.setup() }
      setups += s
    }
    log(f"generation $genSec%.2f s, set-ups ${setups.map(x => f"$x%.2f").mkString(", ")} s")
    JvmObserver.reset()
    // a traced run measures half as long untraced, then traces
    val (opSec, items) = w.measure(if (trace) budget / 2 else budget)
    log(f"host probe $probe%.1f ms; operation seconds: ${opSec.map(x => f"$x%.3f").mkString(" ")}")
    val out = mutable.LinkedHashMap("setup_s" -> median(setups.toSeq),
      "wall_s" -> median(opSec), "items_per_s" -> items)
    if (trace) {
      w.traced()
      metrics("host.probe_ms") = probe
      metrics("failed_frac") = failed.toDouble / math.max(1L, attempted)
      // the highest percentile with at least ten samples beyond it
      val tail = Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(p => opSec.size * (1 - p) >= 10)
        .getOrElse(1.0)
      metrics("op_p50_ms") = percentile(opSec, 0.5) * 1e3
      metrics("op_tail_ms") = percentile(opSec, tail) * 1e3
      metrics("op_tail_pct") = tail * 100
      metrics("op_samples") = opSec.size.toDouble
      metrics("jvm.peak_rss_mb") = JvmObserver.peakRssMb
      metrics("jvm.gc_pause_max_ms") = JvmObserver.gcPauseMaxMs
      spans.write(Paths.get(".bench_build", "traces", s"$workload-seed$seed.json"))
    }
    SparkSession.getActiveSession.foreach(_.stop())
    Inputs.deleteRecursively(workDir)
    val (names, values) =
      if (trace) (perLayer, perLayer.map { case (n, _) => metrics.getOrElse(n, 0.0) })
      else (endToEnd, endToEnd.map { case (n, _) => out(n) })
    // JSON has no NaN: a ratio over an empty layer reads 0
    val json = names.zip(values).map { case ((n, unit), v) =>
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$unit"}"""
    }.mkString(",")
    println(s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$json}}""")
  }
}
