package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StructureStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def structures = {
    import spark.implicits._
    (1 to 300).map { i =>
      (s"s$i", Seq("alexandria", "oqmd", "cod")(i % 3), s"F$i")
    }.toDF("id", "provider", "formula")
  }

  test("partitioned layout prunes to one provider's files") {
    val path = Files.createTempDirectory("graft-structs").toString
    StructureStore.writePartitioned(structures, path)
    val allFiles = StructureStore.filesScanned(
      StructureStore.readPartitioned(spark, path))
    val pruned = readAndFilter(path)
    val prunedFiles = StructureStore.filesScanned(pruned)
    assert(prunedFiles > 0 && prunedFiles < allFiles,
      s"pruned=$prunedFiles all=$allFiles")
    // plan carries the partition filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("oqmd"), plan)
    assert(pruned.count() == 100)
  }

  private def readAndFilter(path: String) =
    StructureStore.readPartitioned(spark, path)
      .filter(col("provider") === "oqmd")

  private def dropManaged(table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // a previously failed create can leave an orphan location behind
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (loc.exists()) rm(loc)
  }

  test("bucketed tables join without a shuffle exchange") {
    dropManaged("structs_a"); dropManaged("structs_b")
    StructureStore.writeBucketed(structures, "structs_a", "id", numBuckets = 4)
    StructureStore.writeBucketed(structures, "structs_b", "id", numBuckets = 4)
    val a = spark.table("structs_a")
    val b = spark.table("structs_b")
    val joined = a.join(b, "id")
    assert(joined.count() == 300)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }
}
