package org.apache.spark

/** Waits until every posted listener event has been delivered, so job
  * counts read after a profiled run include all of that run's jobs. The
  * bus is package-private to Spark, hence this file's package. */
object ProfileBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
