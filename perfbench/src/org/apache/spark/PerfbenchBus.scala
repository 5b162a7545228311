package org.apache.spark

/** Access to the `private[spark]` listener bus: the traced run drains it
  * before reading its listener's counters, so every event of a finished
  * phase has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
