package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so a
  * listener's counts are complete when they are read ([[graft.Tally]]).
  * `listenerBus` is package-private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
