package org.apache.spark

/** The listener bus is package-private; this is the one place that reaches it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
