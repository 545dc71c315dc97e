package org.apache.spark

/** Test access to the listener bus, which is private to Spark. */
object ListenerBusAccess {
  /** Deliver every event already posted, so status-tracker reads
    * reflect what the scheduler knew at this point. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
