package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners. Spark's listener bus is asynchronous, so counters read
  * right after an action can miss its last task-end events. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
