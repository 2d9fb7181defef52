package org.apache.spark

/** Accessor for the `private[spark]` listener bus, so [[graft.core.JobMeter]]
  * can drain it deterministically (`waitUntilEmpty`) instead of sleeping: a
  * fixed sleep can under-count job starts on a loaded host.
  */
object GraftListenerBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
