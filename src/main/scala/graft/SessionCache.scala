package graft

import org.apache.spark.sql.SparkSession

/** Process-global per-(session, key) state with BOUNDED retention:
  * entries of a stopped session are swept at every put, and the map
  * keeps at most `cap` entries, oldest first — a long-lived JVM
  * cycling sessions retains at most `cap` stale states, never an
  * unbounded tail (r20 review). A hit is the caller's to validate
  * (checkpointed frames die with a lost executor). */
private[graft] final class SessionCache[K, V](cap: Int) {
  private val entries = new java.util.LinkedHashMap[(SparkSession, K), V]()

  def get(spark: SparkSession, key: K): Option[V] =
    entries.synchronized(Option(entries.get((spark, key))))

  def put(spark: SparkSession, key: K, value: V): Unit = entries.synchronized {
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
    entries.put((spark, key), value)
    val oldest = entries.keySet.iterator
    while (entries.size > cap) { oldest.next(); oldest.remove() }
  }
}
