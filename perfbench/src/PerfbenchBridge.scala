package org.apache.spark

/** Listener-bus drain, which Spark keeps package-private: the traced
  * run calls it at query boundaries so every event of a query has been
  * counted before the next one starts.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
