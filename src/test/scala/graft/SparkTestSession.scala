package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for all suites (see spark guide: one per suite,
  * here one per JVM — Test / fork gives us a fresh JVM per `sbt test` run). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `body`'s result and the events `listener` queued while it ran, in
    * arrival order (the listener bus is drained before and after). */
  private def listening[T, E](listener: java.util.Queue[E] => SparkListener)(
      body: => T): (T, Seq[E]) = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[E]
    val l = listener(events)
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      GraftBridge.drainListenerBus(sc)
      events.clear()
      val r = body
      GraftBridge.drainListenerBus(sc)
      (r, events.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** `body`'s result and the Spark jobs it started, in start order (each
    * with its stages' `StageInfo`s). */
  def withJobs[T](body: => T): (T, Seq[SparkListenerJobStart]) =
    listening[T, SparkListenerJobStart](jobs => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.add(e); () }
    })(body)

  /** `body`'s result and the stages that completed in it, in completion
    * order (skipped stages never complete): each stage's `StageInfo` and the
    * shuffle records its tasks read. */
  def withStages[T](body: => T): (T, Seq[(StageInfo, Long)]) =
    listening[T, (StageInfo, Long)](stages => new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        stages.add((e.stageInfo, if (m == null) 0L else m.shuffleReadMetrics.recordsRead))
        ()
      }
    })(body)

  /** `body`'s result and the number of Spark jobs it started. */
  def withJobCount[T](body: => T): (T, Int) = {
    val (r, jobs) = withJobs(body)
    (r, jobs.size)
  }

  /** `body`'s result and the SQL executions that ended in it, in end order:
    * each execution's name (`collect`, or the name a library gave
    * `SQLExecution.withNewExecutionId`) and its executed query. */
  def withExecutions[T](body: => T): (T, Seq[(String, QueryExecution)]) = {
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, durationNs: Long): Unit = {
        execs.add((name, qe)); ()
      }
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    spark.listenerManager.register(listener)
    try {
      GraftBridge.drainListenerBus(sc)
      execs.clear()
      val r = body
      GraftBridge.drainListenerBus(sc)
      (r, execs.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The executed plan of the one execution named `name` among `execs`. */
  def executedPlanOf(execs: Seq[(String, QueryExecution)], name: String): String = {
    val named = execs.collect { case (n, qe) if n == name => qe }
    assert(named.size == 1, s"${named.size} executions named $name in ${execs.map(_._1)}")
    named.head.executedPlan.toString
  }
}
