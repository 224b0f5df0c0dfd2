package org.apache.spark

/** The listener bus is `private[spark]`; the traced run drains it before
  * reading counters so every task of a finished call has been counted. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
