package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously, on the bus's own
  * dispatch thread, so counters read right after a synchronous action
  * can miss its tail events (stage completions above all). Waiting
  * here first makes the read see everything posted so far.
  * `waitUntilEmpty` is `private[spark]`, hence this shim.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
