package org.apache.spark

/** The listener bus is package-private; the benchmark drains it so that a
  * listener has seen every event of an op before its counts are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
