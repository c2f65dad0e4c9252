package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener totals for a pass are complete before they are
  * read. The bus is package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
