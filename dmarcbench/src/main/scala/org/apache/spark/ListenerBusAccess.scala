package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener has seen all jobs of a span before it is read.
  * The listener bus is package-private to Spark, hence the package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
