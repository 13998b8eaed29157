package org.apache.spark

/** Waits until every posted listener event has been delivered. The
  * listener bus is private to Spark; living in its package is the only
  * way to reach it. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
