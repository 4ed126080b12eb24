package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's per-stage counters are complete before it reads them. The
  * listener bus is `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
