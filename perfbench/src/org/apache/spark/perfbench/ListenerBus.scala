package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus, so the harness can drain
  * it before reading any count: events are delivered asynchronously, and
  * a count read before the bus is empty depends on machine load. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
