package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's records are complete when the harness reads them. The bus
  * is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
