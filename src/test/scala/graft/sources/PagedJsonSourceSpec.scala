package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PagedJsonSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private lazy val dbDir =
    java.nio.file.Files.createTempDirectory("test-paged-json").toString
  private lazy val dbPath = s"$dbDir/provider.jsonl"
  private val ddl = "id BIGINT, name STRING, band_gap DOUBLE, elements ARRAY<STRING>"

  private def writeDb(): Unit =
    PagedJsonClient.writeJsonl(
      (0 until 37).map { i =>
        Map[String, Any]("id" -> i.toLong, "name" -> s"mat-$i",
          "band_gap" -> (if (i % 7 == 0) null else i * 0.1),
          "elements" -> Seq("Si", if (i % 2 == 0) "O" else "C"))
      },
      Seq("id", "name", "band_gap", "elements"), dbPath)

  private def load() = {
    writeDb()
    spark.read.format("graft.sources.PagedJsonSource")
      .option("path", dbPath).option("schemaDDL", ddl)
      .option("pageLimit", "10").load()
  }

  test("reads all rows, paged into parallel partitions") {
    val df = load()
    assert(df.count() == 37)
    // 37 rows / pageLimit 10 → 4 page partitions, read in parallel
    assert(df.rdd.getNumPartitions == 4)
    val r5 = df.filter(col("id") === 5).collect().head
    assert(r5.getAs[String]("name") == "mat-5")
    assert(r5.getSeq[String](r5.fieldIndex("elements")) == Seq("Si", "C"))
  }

  test("comparison filters push to the provider and shrink the page plan") {
    val df = load().filter(col("band_gap") > 3.0) // server-side evaluation
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("pushed"),
      s"no pushdown marker in plan:\n$plan")
    // provider returns 6 rows (ids 31..36 minus null-gap id 35 → check) —
    // the page plan is computed AFTER filtering: 1 partition, not 4
    assert(df.rdd.getNumPartitions == 1)
    val ids = df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == (31 to 36).filterNot(_ % 7 == 0).map(_.toLong).toSet)
  }

  test("IS NULL / IS NOT NULL push; unsupported predicates stay residual") {
    val nulls = load().filter(col("band_gap").isNull)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(nulls == (0 until 37).filter(_ % 7 == 0).map(_.toLong).toSet)
    // array_contains is not in the provider's filter language → Spark
    // evaluates it post-scan; results must still be exact
    val withC = load().filter(array_contains(col("elements"), "C"))
    assert(withC.count() == (0 until 37).count(_ % 2 == 1))
  }

  test("LIMIT pushdown caps the page plan at n_results") {
    // 37 matching rows, limit 12, pageLimit 10 → scan plans 2 pages
    // (the post-limit RDD collapses partitions, so assert on the scan
    // itself via its description in the executed plan)
    val df = load().limit(12)
    assert(df.collect().length == 12)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("limit=Some(12)"),
      s"limit not pushed to the provider scan:\n${plan.take(3000)}")
    // limit composes with pushed filters: provider stops early on the
    // filtered stream
    val filtered = load().filter(col("band_gap") > 0.5).limit(3)
    assert(filtered.collect().length == 3)
    assert(filtered.queryExecution.executedPlan.toString.contains("limit=Some(3)"))
  }

  test("pushed equality on BIGINT beyond 2^53 stays exact") {
    val bigPath = s"$dbDir/big.jsonl"
    val a = (1L << 53) + 1 // collapses onto 2^53 as a double
    val b = 1L << 53
    PagedJsonClient.writeJsonl(
      Seq(Map[String, Any]("id" -> a, "name" -> "a"),
          Map[String, Any]("id" -> b, "name" -> "b")),
      Seq("id", "name"), bigPath)
    val df = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", bigPath).option("schemaDDL", "id BIGINT, name STRING")
      .load()
    // Spark trusts the pushed filter — the provider must not return the
    // 2^53 row for the 2^53+1 equality
    val names = df.filter(col("id") === a)
      .select("name").collect().map(_.getString(0)).toSeq
    assert(names == Seq("a"), s"double-collapsed comparison: $names")
    assert(df.filter(col("id") > b).count() == 1)
  }

  test("column pruning mirrors response_fields") {
    val df = load().select("name")
    assert(df.schema.fieldNames.toSeq == Seq("name"))
    assert(df.collect().length == 37)
  }

  test("connector source plugs into Federation.fanOut") {
    import graft.federate.Federation
    val res = Federation.fanOut(spark, Seq(
      Federation.Source("sim-provider", "jsonl://provider", () =>
        load().select(col("id").cast("string").as("id"), col("name").as("payload")))))
    assert(res.failures.isEmpty)
    assert(res.data.count() == 37)
    assert(res.data.columns.contains("provider_rank"))
  }
}
