package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversions for custom
  * Catalyst expressions (Spark 4 removed the public
  * `new Column(expr)` constructor). Standard extension-library trick:
  * the only Spark-internal API touched is the sanctioned classic
  * converter pair.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every event already posted to the listener bus has
    * been delivered, so a `SparkListener` count taken next is complete.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
