package org.apache.spark

/** The listener bus delivers events asynchronously; a traced span drains it
  * at each boundary so the counters it reads cover exactly the work done
  * inside the span. `waitUntilEmpty` is package-private to Spark, hence this
  * shim's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
