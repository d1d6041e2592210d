package org.apache.spark

/** The listener bus delivers events asynchronously, so a test listener's
  * view is complete only once the bus is empty. `waitUntilEmpty` is
  * package-private to Spark, hence this shim's package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
