package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced run reads its per-request counters after the jobs they count.
  * The listener bus is package-private to Spark, hence this package. */
object ServebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
