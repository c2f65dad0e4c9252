package org.apache.spark

/** Blocks until every event posted to the listener bus has been
  * delivered, so a test's listener totals are complete before it reads
  * them. The bus is package-private, hence this bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
