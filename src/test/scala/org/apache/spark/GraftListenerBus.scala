package org.apache.spark

/** Test access to the driver's package-private listener bus: drain it
  * so the `QueryExecutionListener` callbacks of finished queries have
  * run before a spec asserts on what they recorded. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
