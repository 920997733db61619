package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark's listener holds complete counts before they are read
  * (the bus is package-private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
