package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private internals (the supported extension
  * pattern: a shim object inside the org.apache.spark.sql package): the
  * `private[sql]` Column ↔ Expression converters, so graft can expose custom
  * Catalyst expressions as plain `Column`s, and the `private[spark]`
  * listener bus, so a profiler can read its events without sleeping.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached every listener;
    * throws `TimeoutException` after `timeoutMs`. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
