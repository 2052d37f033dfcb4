package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced run's records are complete before they are written out. Lives
  * in Spark's package because the bus is private to it. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
