package org.apache.spark

/** The listener bus is package-private; specs that count Spark work
  * drain it so a listener has seen every event before its counts are
  * read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
