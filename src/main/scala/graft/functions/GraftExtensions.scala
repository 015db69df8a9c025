package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension points (SURVEY §2.10 / spark_guide custom-operator
  * path): registers the native expressions for SQL use.
  *
  * Two registration routes:
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` at
  *    session build (cluster deployment);
  *  - [[GraftExtensions.register]] on a live session (notebooks,
  *    tests).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.dotProductDescriptor)
  }
}

object GraftExtensions {
  private val dotProductDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product"),
    new ExpressionInfo(classOf[NativeCall].getName, "dot_product"),
    (exprs: Seq[Expression]) => VectorExprs.dotProduct(exprs(0), exprs(1)))

  /** Register on an existing session. */
  def register(s: SparkSession): Unit =
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product",
      exprs => VectorExprs.dotProduct(exprs(0), exprs(1)),
      "built-in")
}
