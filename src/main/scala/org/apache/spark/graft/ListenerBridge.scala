package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `private[spark]` access shim (the [[org.apache.spark.sql.graft]]
  * bridge pattern) for the listener bus: diagnostics that count
  * scheduler events per run need to DRAIN the bus between runs —
  * a fixed sleep only bounds the race. */
object ListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException =>
      System.err.println(s"[listener] bus not drained after $timeoutMs ms; " +
        "counts read now may miss events still queued")
    }
}
