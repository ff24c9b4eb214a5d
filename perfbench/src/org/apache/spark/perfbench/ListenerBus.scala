package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously, on the listener bus
  * thread. A counter fed by a listener is only complete once every event
  * posted before the read has been delivered; `LiveListenerBus` exposes
  * that barrier to Spark itself only, hence this one-method bridge.
  */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 120000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
