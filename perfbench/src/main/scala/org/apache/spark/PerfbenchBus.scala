package org.apache.spark

/** Waits until every queued listener event has been delivered, so task
  * metrics read after an action are complete. The bus is private to
  * Spark; this one-line bridge is the only non-public call the benchmark
  * makes, and it only runs between measured windows.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
