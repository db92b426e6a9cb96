package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]`/`private[spark]` surfaces (the usual pattern
  * for Spark extension libraries): Column ⇄ catalyst Expression in Spark
  * 4.x, where Column no longer exposes `.expr`, the listener bus, and RDD
  * block removal. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Wait until every listener event posted so far is delivered, so a
    * ledger read right after an action is complete. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  /** Drop `rdd`'s blocks without `RDD.unpersist`'s warning that a local
    * checkpoint cannot be recomputed afterwards — for its owner, dropping
    * them is the point. */
  def unpersist(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
