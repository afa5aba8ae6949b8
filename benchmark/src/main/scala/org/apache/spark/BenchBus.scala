package org.apache.spark

/** The listener bus's drain is package-private to Spark; counts read
  * before it returns can miss events still queued for delivery.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
