package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * traced run reads its per-op Spark counters only after every event of the
  * op has been delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
