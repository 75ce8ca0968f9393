package org.apache.spark

/** Waits until every queued listener event has been delivered, so counters
  * read after the timed passes are complete. The bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
