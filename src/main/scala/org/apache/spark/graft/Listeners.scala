package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Listeners {
  /** Blocks until every event posted so far has reached every listener;
    * throws a TimeoutException when that takes longer than `timeoutMs`. */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
