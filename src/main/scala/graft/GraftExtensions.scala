package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.Vectors

/** Session extension point — `--conf spark.sql.extensions=graft.GraftExtensions`
  * injects the engine's native functions into every session (SQL and
  * Column API). The one optimizer rule, [[SmallFinalSort]], is installed
  * by `GraftSession.builder`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Vectors.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
}
