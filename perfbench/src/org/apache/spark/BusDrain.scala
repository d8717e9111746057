package org.apache.spark

/** Waits until every queued listener event has been delivered, so a traced
  * run reads complete job and task records. The listener bus is private to
  * Spark's own packages, hence this one-line bridge. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
