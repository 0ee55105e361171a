package graft

import org.apache.spark.sql.SparkSession

/** The session every main runs under (through [[Bench.session]]), so the
  * plans Explain prints are the plans Bench times and Verify checks:
  * `local[cores]` with one shuffle partition per core, AQE and its
  * partition coalescing on, UTC and no UI.
  */
object LocalSession {
  def apply(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // 80 queries x several WSCG fragments each blows through the
      // default 100-entry generated-class cache, so pass-interleaved
      // runs would re-janino-compile (and re-JIT) every fragment every
      // pass. Static conf: must be set before the first codegen.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
