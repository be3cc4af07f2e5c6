package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners.
  * The traced run calls this after each operation, so that events
  * delivered late (query-execution callbacks, streaming progress) are
  * counted toward the operation that caused them. The bus is
  * package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
