package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners, so
  * a spec can assert on the jobs an operation ran once it returns. The
  * bus is package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
