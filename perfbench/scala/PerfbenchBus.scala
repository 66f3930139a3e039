package org.apache.spark

/** Listener events are delivered asynchronously; the traced run waits
  * until every posted event has reached its listeners before it writes
  * the record. The bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
