package org.apache.spark

/** The listener bus is Spark-internal; the traced run must wait for it to
  * deliver every event before it reads its counters. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
