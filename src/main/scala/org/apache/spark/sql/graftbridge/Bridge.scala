package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made these conversions
  * `private[sql]`; custom Catalyst expressions still need them to expose a
  * Column API. This is the one sanctioned touch-point — no Spark internals
  * are re-implemented here.
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Non-blocking Observation read (`getOrEmpty` went `private[sql]` in
    * Spark 4): empty map until the listener bus delivers the metrics of the
    * observed action. Callers poll briefly and fall back to an explicit
    * job — never the unbounded wait of the public `get`. */
  def observationResult(obs: org.apache.spark.sql.Observation): Map[String, Any] =
    obs.getOrEmpty
}
