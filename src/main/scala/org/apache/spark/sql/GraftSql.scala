package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4.x moved
  * `new Column(expr)` behind `org.apache.spark.sql.classic.ExpressionUtils`)
  * and into the `private[spark]` listener bus. Lives in `org.apache.spark.sql`
  * solely to re-export those calls for graft's custom Catalyst expressions
  * and `graft.core.Telemetry`.
  */
object GraftSql {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every event posted so far has been delivered (10 s bound). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
