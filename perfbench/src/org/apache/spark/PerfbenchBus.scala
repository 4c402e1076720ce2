package org.apache.spark

/** Waits until every queued listener event has been delivered, so stage
  * metrics read right after an action are complete. Lives in this package
  * because the listener bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
