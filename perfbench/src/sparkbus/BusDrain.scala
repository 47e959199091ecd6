package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered. The
  * benchmark's listener attributes events by job group, so totals are read
  * only after this returns; `listenerBus` is private to the `spark` package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
