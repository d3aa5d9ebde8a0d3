package org.apache.spark

/** Waits until every queued listener event has been delivered, so a test
  * listener's counts are complete. The listener bus is package-private to
  * Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
