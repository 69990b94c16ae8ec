package org.apache.spark.sql

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between Catalyst Expressions and the public Column API.
  *
  * Spark 4's Column wraps a ColumnNode rather than an Expression, and the
  * converter (classic.ExpressionUtils) is private[sql]; this shim exposes
  * just the two conversions — the same approach used by public Spark
  * extension libraries. It also reaches the session's function registry
  * and the blocking form of `Broadcast.destroy`.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function on an EXISTING session (withExtensions
    * only applies at session build time; the registry is private[sql]). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Destroys `b` and waits until its blocks are gone (the public
    * `destroy()` removes them asynchronously). */
  def destroy(b: Broadcast[_]): Unit = if (b.isValid) b.destroy(blocking = true)
}
