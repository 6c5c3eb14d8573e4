package org.apache.spark

/** Waits until every queued listener event has been delivered; the bus
  * is package-private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
