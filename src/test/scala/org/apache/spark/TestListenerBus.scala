package org.apache.spark

/** The listener bus is private[spark]; job-count locks read the status
  * tracker, which the bus feeds asynchronously. */
object TestListenerBus {
  /** Block until every posted event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
