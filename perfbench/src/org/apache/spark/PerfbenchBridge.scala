package org.apache.spark

/** The one package-private hook the benchmark's observers need: block until
  * every queued listener event (job, stage, task, SQL execution) has been
  * delivered, so counters read after an action are complete. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
