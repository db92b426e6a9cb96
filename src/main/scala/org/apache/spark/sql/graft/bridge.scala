package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]`/`private[spark]` surfaces (the usual pattern
  * for Spark extension libraries): Column ⇄ catalyst Expression in Spark
  * 4.x, where Column no longer exposes `.expr`, and the listener bus. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Wait until every listener event posted so far is delivered, so a
    * ledger read right after an action is complete. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
