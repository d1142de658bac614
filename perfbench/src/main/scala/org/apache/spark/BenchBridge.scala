package org.apache.spark

/** Access to the listener bus drain, which is package-private in Spark. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
