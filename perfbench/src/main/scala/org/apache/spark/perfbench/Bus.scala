package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is package-private to Spark; the traced run
  * needs it so every task-end event is in before it sums them.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
