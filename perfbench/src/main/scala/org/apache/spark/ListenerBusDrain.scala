package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * traced pass's task and plan statistics are complete when read. The
  * bus is package-private, hence this one-line bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
