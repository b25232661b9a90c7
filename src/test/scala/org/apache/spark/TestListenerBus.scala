package org.apache.spark

/** Spark keeps its listener bus package-private: specs that count listener
  * events wait here until every queued event has reached its listeners.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
