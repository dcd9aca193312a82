package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * span accounting is complete when it is read. The listener bus is
  * `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
