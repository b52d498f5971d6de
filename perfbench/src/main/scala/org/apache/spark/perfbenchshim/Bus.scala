package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously, on the bus's own
  * dispatch thread. Counters read right after a synchronous action can
  * still miss its tail events, so every read of a listener counter
  * waits here first until the bus has delivered everything posted so
  * far. `waitUntilEmpty` is `private[spark]`, hence this shim.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
