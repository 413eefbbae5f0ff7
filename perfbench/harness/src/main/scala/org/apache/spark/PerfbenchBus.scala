package org.apache.spark

/** The listener bus is `private[spark]`; the traced run drains it so
  * every event of an operation is recorded before the next one starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
