package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * span closed right after its work sees all of that work's job, task and
  * query-execution events. `listenerBus` is package-private to Spark, hence
  * this one-method bridge in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
