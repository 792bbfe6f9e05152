package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark reads its listeners only after every queued event has
  * been delivered.
  */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
