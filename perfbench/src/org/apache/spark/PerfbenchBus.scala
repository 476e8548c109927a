package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * bench's job attribution is complete before it is read. The bus is
  * package-private to Spark; Spark's own suites reach it the same way. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
