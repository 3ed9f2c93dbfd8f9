package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Minimal bridge into Spark's `private[sql]` Column↔Expression conversion
 * (org.apache.spark.sql.classic.ExpressionUtils) so graft's custom Catalyst
 * expressions can expose a public Column API on Spark 4's ColumnNode-backed
 * Column. This is the standard extension-library pattern; no Spark internals
 * are modified.
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Bounded read of an [[Observation]]'s metrics (`Observation.future` is
    * `private[sql]`): Some(row) if the observed action's metrics arrived
    * within `timeoutMs`, else None. Lets callers fuse a convergence count
    * into an eager localCheckpoint job and still degrade gracefully if the
    * metrics listener misses the action. */
  def observationRow(obs: Observation, timeoutMs: Long): Option[Row] =
    try Some(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)))
    catch { case _: java.util.concurrent.TimeoutException => None }

  /** A fresh directory under `java.io.tmpdir` that Spark deletes recursively
    * at JVM shutdown (`Utils.createTempDir` is `private[spark]`). For outputs
    * a returned DataFrame still reads lazily, so they cannot go sooner. */
  def createTempDir(namePrefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = namePrefix)

  /** Whether Spark's file listing (`InMemoryFileIndex`) skips an entry of
    * this name: `_` and `.` names other than the parquet summary files and
    * `key=value` directories, and `._COPYING_` files. */
  def hiddenFileName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Wait until every event posted so far on the `private[spark]` listener
    * bus has reached its listeners, query-execution listeners included. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
