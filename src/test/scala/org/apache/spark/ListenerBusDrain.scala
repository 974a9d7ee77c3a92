package org.apache.spark

/** Waits until every queued listener event has been delivered, so a test's
  * `SparkListener` counts are complete before they are asserted. The bus
  * is package-private to Spark, hence this bridge.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
