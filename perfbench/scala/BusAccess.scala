package org.apache.spark

/** The one non-public call the tracer needs: block until every queued
  * listener event has been delivered, so a pass's counters are complete
  * when they are read. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
