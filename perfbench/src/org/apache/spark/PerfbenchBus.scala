package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait
  * until every event of an operation has been delivered before it
  * attributes the next one. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
