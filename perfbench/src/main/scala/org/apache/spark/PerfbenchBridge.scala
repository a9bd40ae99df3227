package org.apache.spark

/** Reaches the listener bus, which is private to Spark: a traced pass
  * reads its listener only after every event it caused was delivered. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
