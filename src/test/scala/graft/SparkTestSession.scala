package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

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

  /** `body`'s result and the Spark jobs it started, in start order (each
    * with its stages' `StageInfo`s). */
  def withJobs[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.add(e); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      ListenerBusBridge.drain(sc)
      jobs.clear()
      val r = body
      ListenerBusBridge.drain(sc)
      (r, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the number of Spark jobs it started. */
  def withJobCount[T](body: => T): (T, Int) = {
    val (r, jobs) = withJobs(body)
    (r, jobs.size)
  }
}
