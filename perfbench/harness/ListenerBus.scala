package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event,
  * so counters read after a pass cover exactly that pass. The bus is
  * `private[spark]`; this object only synchronises, it counts nothing.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
