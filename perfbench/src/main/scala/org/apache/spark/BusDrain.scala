package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * traced run can read its listener counters at an operation boundary
  * without sleeping. The bus is package-private to Spark, hence the
  * package of this one-liner.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
