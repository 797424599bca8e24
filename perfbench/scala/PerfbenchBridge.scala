package org.apache.spark

/** Reaches the listener bus flush, which Spark keeps package-private. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
