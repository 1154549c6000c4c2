package org.apache.spark

/** Waits until every posted listener event has been delivered, so counts
  * read after a unit of work include all of that unit's events. The bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
