package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** Bridge into Spark's package-private internals (the supported extension
  * pattern: a shim object inside the org.apache.spark.sql package): the
  * `private[sql]` Column ↔ Expression converters, so graft can expose custom
  * Catalyst expressions as plain `Column`s, the `private[sql]` plan →
  * DataFrame constructor, and the `private[spark]` listener bus, so a
  * profiler can read its events without sleeping.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `plan` (resolved or not) as a DataFrame of `spark`; analysis runs here. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)

  /** Blocks until every event posted so far has reached every listener;
    * throws `TimeoutException` after `timeoutMs`. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
