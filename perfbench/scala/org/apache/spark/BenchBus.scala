package org.apache.spark

/** The listener bus is asynchronous; the traced run reads its counters only
  * after every posted event was delivered. `waitUntilEmpty` is
  * Spark-private, hence this shim in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
