package org.apache.spark

/** Blocks until every event posted so far has reached every SparkListener,
  * so a spec can read what its listener counted right after an action. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
