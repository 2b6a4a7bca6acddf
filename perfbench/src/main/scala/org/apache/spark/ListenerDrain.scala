package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so per-layer counters read after a measured phase are complete. The
  * listener bus is package-private, hence this file's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
