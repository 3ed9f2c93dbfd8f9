package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's calls into each layer. Disabled,
  * `span` only runs its body. Spans of one operation share a trace id. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, trace: String, name: String,
                        startNs: Long, var endNs: Long = -1L)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traceId = "setup"

  def newTrace(id: String): Unit = traceId = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), traceId,
        name, System.nanoTime())
      spans += s
      stack = s :: stack
      try body finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  private def closed: Seq[Span] = spans.toSeq.filter(_.endNs >= 0)

  /** Self time of every span called `name`, summed: its duration minus the
    * part its child spans cover. */
  def selfSeconds(name: String): Double = {
    val all = closed
    all.filter(_.name == name).map { s =>
      s.endNs - s.startNs - all.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum
    }.sum / 1e9
  }

  def count(name: String): Int = closed.count(_.name == name)

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val t0 = closed.headOption.map(_.startNs).getOrElse(0L)
    val body = closed.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","name":"${s.name}",""" +
        f""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
  }
}

/** One window's engine totals. */
final case class Totals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskSec: Double = 0,
    gcSec: Double = 0, shuffleWriteMb: Double = 0, shuffleReadMb: Double = 0,
    spillMb: Double = 0, recordsRead: Long = 0, planningMs: Double = 0,
    codegenMs: Double = 0, scanRows: Long = 0,
    scanFiles: Long = 0, skew: Double = 1.0) {
  def -(o: Totals): Totals = Totals(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskSec - o.taskSec, gcSec - o.gcSec, shuffleWriteMb - o.shuffleWriteMb,
    shuffleReadMb - o.shuffleReadMb, spillMb - o.spillMb, recordsRead - o.recordsRead,
    planningMs - o.planningMs, codegenMs - o.codegenMs,
    scanRows - o.scanRows, scanFiles - o.scanFiles, skew)
}
/** Cumulative totals at a point, and the last stage seen then. */
final case class Mark(totals: Totals, lastStage: Int)

/** Engine counters owned by the benchmark: a SparkListener for jobs, stages
  * and tasks, a QueryExecutionListener for planning time and scan-node
  * metrics, and the codegen compile-time histogram. Counters are cumulative;
  * `mark` drains the listener bus and `since(mark)` gives a window's totals. */
final class EngineObserver(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private var t = Totals()
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def codegenTotalMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    // below the reservoir's capacity every sample is still held: exact sum
    if (h.getCount <= snap.size) snap.getValues.sum.toDouble
    else h.getCount * snap.getMean
  }

  private def current(): Totals = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized(t.copy(codegenMs = codegenTotalMs()))
  }

  def mark(): Mark = {
    val now = current()
    Mark(now, synchronized(stageTaskMs.keys.maxOption.getOrElse(-1)))
  }

  def since(m: Mark): Totals = {
    val d = current() - m.totals
    // DS2-style skew: the worst stage's max/median task time
    val skew = synchronized {
      stageTaskMs.collect { case (id, ts) if id > m.lastStage && ts.size >= 2 =>
        val s = ts.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }.maxOption.getOrElse(1.0)
    }
    d.copy(skew = skew)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { t = t.copy(jobs = t.jobs + 1) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { t = t.copy(stages = t.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    t = if (m == null) t.copy(tasks = t.tasks + 1)
    else t.copy(tasks = t.tasks + 1,
      taskSec = t.taskSec + m.executorRunTime / 1e3,
      gcSec = t.gcSec + m.jvmGCTime / 1e3,
      shuffleWriteMb = t.shuffleWriteMb + m.shuffleWriteMetrics.bytesWritten / 1048576.0,
      shuffleReadMb = t.shuffleReadMb + m.shuffleReadMetrics.totalBytesRead / 1048576.0,
      spillMb = t.spillMb + m.diskBytesSpilled / 1048576.0,
      recordsRead = t.recordsRead + m.inputMetrics.recordsRead)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planning = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    var rows, files = 0L
    foreach(qe.executedPlan) { (p: SparkPlan) =>
      if (p.nodeName.startsWith("Scan")) {
        rows += p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        files += p.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }
    }
    synchronized {
      t = t.copy(planningMs = t.planningMs + planning,
        scanRows = t.scanRows + rows, scanFiles = t.scanFiles + files)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Process-level observers: the longest GC pause since `reset`, and the
  * peak resident set size. */
object JvmObserver {
  @volatile private var maxPauseMs = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          if (!info.getGcName.contains("Concurrent"))
            maxPauseMs = math.max(maxPauseMs, info.getGcInfo.getDuration)
        }
      }, null, null)
    case _ => ()
  }

  def reset(): Unit = maxPauseMs = 0L
  def gcPauseMaxMs: Double = maxPauseMs.toDouble

  def peakRssMb: Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** A fixed single-thread integer loop: its time tracks the effective CPU
    * speed of the window the run lands in. */
  def probeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0L; var i = 0
    while (i < 60000000) { x += (i * 2654435761L) ^ (x >>> 31); i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }
}
