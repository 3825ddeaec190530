package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every listener queue has delivered its pending events.
  * The listener bus is private to Spark; this package is inside it so
  * the tracer can read complete counters right after an op returns. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
