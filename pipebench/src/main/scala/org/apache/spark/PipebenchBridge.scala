package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * run reads its listeners' totals only after every queued event has
  * been delivered. */
object PipebenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
