package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's counters are complete when read. The bus is
  * package-private. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
