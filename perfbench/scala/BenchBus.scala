package org.apache.spark

/** The listener bus delivers events asynchronously; a metric read right
  * after an action must first wait for the bus to drain. The wait is
  * package-private in Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
