package org.apache.spark

/** The listener bus is `private[spark]`; counters read after a call need a
  * deterministic drain, not a fixed sleep.
  */
object BenchListenerBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
