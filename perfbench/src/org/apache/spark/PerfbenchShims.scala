package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * benchmark reads its listener totals only after every event is delivered.
  */
object PerfbenchShims {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
