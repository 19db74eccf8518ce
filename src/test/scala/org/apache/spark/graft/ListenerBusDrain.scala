package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event.
  * Until then the bus's queued events still reference the last
  * query's plan, and with it that plan's checkpoints. The bus is
  * `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
