package org.apache.spark.sql

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between Catalyst Expressions and the public Column API.
  *
  * Spark 4's Column wraps a ColumnNode rather than an Expression, and the
  * converter (classic.ExpressionUtils) is private[sql]; this shim exposes
  * just the two conversions, `Dataset.ofRows` and the decimal `SUM`
  * overflow error — the same approach used by public Spark
  * extension libraries. It also reaches the session's function registry
  * extensions and grouping-key normalization, and the blocking form of `Broadcast.destroy`.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan (`Dataset.ofRows` is private[sql]). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `d` at (precision, scale) the way Spark's grouped decimal `SUM`
    * returns it: NULL when it does not fit, or under ANSI Spark's own
    * "overflow in sum of decimals" error (private[sql]). */
  def sumResult(d: org.apache.spark.sql.types.Decimal, precision: Int, scale: Int,
      ansi: Boolean): org.apache.spark.sql.types.Decimal =
    if (d.changePrecision(precision, scale)) d
    else if (ansi) throw org.apache.spark.sql.errors.QueryExecutionErrors
      .overflowInSumOfDecimalError(null, "try_sum")
    else null

  /** Register a temp SQL function on an EXISTING session (withExtensions
    * only applies at session build time; the registry is private[sql]). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** `e` as Spark normalizes a grouping key (private[sql]): float and
    * double -0.0 become 0.0 and every NaN one NaN; `e` itself when its
    * type holds no float. */
  def normalizeKey(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Enters `strategy` in `spark`'s extensions (private[sql]), which the
    * sessions `newSession()` makes from it share, unless it is there. */
  def injectStrategy(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.extensions.synchronized {
      if (!s.extensions.buildPlannerStrategies(s).contains(strategy))
        s.extensions.injectPlannerStrategy(_ => strategy)
    }
  }

  /** Destroys `b` and waits until its blocks are gone (the public
    * `destroy()` removes them asynchronously). */
  def destroy(b: Broadcast[_]): Unit = if (b.isValid) b.destroy(blocking = true)
}
