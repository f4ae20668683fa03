package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it after
  * each operation so the events it collected belong to that operation.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
