package org.apache.spark

/** The listener bus is private[spark]: this is the one call the harness
  * needs from it, so that a traced pass's last events are delivered
  * before its listeners are removed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
