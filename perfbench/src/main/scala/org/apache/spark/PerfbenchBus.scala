package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for every queued event to reach its listeners before it
  * reads their totals.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
