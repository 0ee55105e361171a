package graft.operators

import org.apache.spark.sql.SparkSession

/** Runs `body` with every broadcast hint ignored and size-based
  * broadcast conversion off, so each join takes its shuffled form —
  * the path [[Iterate.broadcastIfSmall]] falls back to above its
  * ceiling. Both settings are restored afterwards. */
object NoBroadcast {
  def apply[T](spark: SparkSession)(body: => T): T = {
    val confs = Map(
      "spark.sql.optimizer.disableHints" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
