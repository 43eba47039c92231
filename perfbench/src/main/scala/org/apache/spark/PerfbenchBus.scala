package org.apache.spark

/** The listener bus is private to Spark; the benchmark only needs to wait
  * until every event posted so far has reached its listeners.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
