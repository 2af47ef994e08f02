package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made these conversions
  * `private[sql]`; custom Catalyst expressions still need them to expose a
  * Column API. This is the one sanctioned touch-point for Spark's
  * package-private API — no Spark internals are re-implemented here.
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

  /** Removes an RDD's blocks and its persistent-RDD entry without blocking
    * (`SparkContext.unpersistRDD` is `private[spark]`). `RDD.unpersist`
    * makes the same call but first logs a WARN for every locally
    * checkpointed RDD; [[graft.Materialize.scoped]] frees only RDDs whose
    * readers are done, so that WARN says nothing there. */
  def unpersistRdd(sc: org.apache.spark.SparkContext, id: Int): Unit =
    sc.unpersistRDD(id, blocking = false)
}
