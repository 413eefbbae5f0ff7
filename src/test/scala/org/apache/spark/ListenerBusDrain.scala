package org.apache.spark

/** The listener bus is `private[spark]`. Specs that read the status
  * tracker drain it first: the tracker is fed by the bus, so without
  * the drain it can still report a job that has already ended. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
