package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Package-side bridge: `ExpressionUtils` (Column <-> catalyst
  * Expression) is `private[sql]` in Spark 4, so libraries adding native
  * expressions need one object inside the `org.apache.spark.sql` package
  * to cross the boundary. It also carries the two other package-private
  * reaches the engine needs: live function registration and the
  * listener-bus drain.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native function into a LIVE session's registry (the
    * extensions path only applies at session build time). */
  def registerFunction(
      spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** Block until every event posted so far reached every listener
    * (SparkListeners and QueryExecutionListeners alike): the listener
    * bus is `private[spark]` and asynchronous. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
