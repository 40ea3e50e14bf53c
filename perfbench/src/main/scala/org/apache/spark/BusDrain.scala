package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so
  * the trace can close a span knowing all of its events were counted.
  * Lives in this package because the listener bus is spark-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
