package org.apache.spark

/** Test access to the driver's listener bus: QueryExecutionListener and
  * SparkListener callbacks run asynchronously on that bus, so a spec
  * that asserts on what a listener saw must first let it drain.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
