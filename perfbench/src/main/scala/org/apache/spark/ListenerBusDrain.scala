package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so
  * the counters read after an operation include all of its tasks. The
  * bus accessor is package-private, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
