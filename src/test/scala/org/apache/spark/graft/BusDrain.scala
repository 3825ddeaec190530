package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every listener queue has delivered its pending events,
  * so a spec's listener has seen every job an action ran by the time
  * the action returns. The listener bus is private to Spark; this
  * package sits inside it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
