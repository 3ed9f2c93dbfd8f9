package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/**
 * SparkSessionExtensions hook: registers graft's SQL functions at session
 * build time —
 * `SparkSession.builder().withExtensions(new GraftExtensions)` or
 * `spark.sql.extensions=graft.functions.GraftExtensions`. The functions are
 * the ones `ImageExpressions.registerAll` and `VectorExpressions.registerAll`
 * register in a running session, read from the same (name, builder) lists.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    (ImageExpressions.sqlFunctions ++ VectorExpressions.sqlFunctions).foreach {
      case (name, builder) =>
        ext.injectFunction((FunctionIdentifier(name),
          new ExpressionInfo(builder.getClass.getName, name), builder))
    }
}
