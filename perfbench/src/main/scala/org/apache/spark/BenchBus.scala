package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so that a
  * listener's per-operation totals are complete before the next operation
  * starts. `listenerBus` is package-private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
