package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.network.util.JavaUtils
import graft.result.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (tools/check_oracle.py). A query's output directory is removed
  * before it runs, so a query that throws leaves no result from an
  * earlier run behind, and the run exits 1 naming every query that
  * threw. SPARK_GRAFT_ONLY limits the dump to a subset ([[Bench.picked]]);
  * check_oracle.py works on such a dump. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    val picked = SparkEntry.queries.filter { case (n, _) => Bench.picked(n) }
    val failed = Seq.newBuilder[String]
    picked.foreach { case (name, fn) =>
      try {
        JavaUtils.deleteRecursively(new java.io.File(s"$outDir/$name"))
        fn(spark, sfDir).coalesce(1).write.parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // Cache hygiene (VERDICT r8; rule 3 of docs/CACHE_POLICY.md):
      // query-scoped persists otherwise accumulate across 255 queries
      // in this one JVM. Aux.share/shareBuilt stages are parquet-backed
      // and unaffected (Aux.writeOnce skips the rewrite; readers
      // re-read from disk). The sweep also frees iterative operators'
      // per-round localCheckpoints, which the catalog cache never
      // tracks.
      Caches.releaseAll(spark)
    }
    val json = SparkEntry.oracleSqlFor(sfDir)
      .filter { case (k, _) => Bench.picked(k) }
      // Json.str escapes ALL control chars (<0x20): a tab or CR in an
      // oracle's SQL would otherwise make oracle_sql.json unparseable.
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val names = failed.result()
    if (names.nonEmpty) {
      System.err.println(s"[verify] ${names.size} queries failed: ${names.mkString(", ")}")
      sys.exit(1)
    }
  }
}
