package org.apache.spark

/** The listener bus is delivered asynchronously and its drain is
  * package-private; the traced run waits on it once, at the end, so every
  * task-end event is counted before the per-query counters are read. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
