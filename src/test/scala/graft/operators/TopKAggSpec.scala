package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("matches the window formulation on random groups, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(117)
    val rows = (1L to 2000L).map(i =>
      (rnd.nextInt(40).toLong, i, rnd.nextInt(500).toLong))
    for (parts <- Seq(1, 13)) {
      val df = rows.toDF("g", "id", "v").repartition(parts)
      val got = collect(TopKAgg.topKPerGroup(df, "g", "v", "id", 5)
        .select("g", "rnk", "id", "v"))
      val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
      val expect = collect(rows.toDF("g", "id", "v")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5).select("g", "rnk", "id", "v"))
      assert(got == expect, s"parts=$parts")
    }
  }

  test("groups smaller than k emit all rows; ties break by id ascending") {
    import spark.implicits._
    val df = Seq((1L, 10L, 7L), (1L, 11L, 7L), (1L, 12L, 3L)).toDF("g", "id", "v")
    val got = TopKAgg.topKPerGroup(df, "g", "v", "id", 5)
      .orderBy("rnk")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 10L, 7L), (2L, 11L, 7L), (3L, 12L, 3L)))
  }

  test("nulls in value or id are skipped, not ranked") {
    import spark.implicits._
    val df = Seq((Some(1L), Some(1L), Some(5L)), (Some(1L), Some(2L), None),
      (Some(1L), None, Some(9L)), (Some(1L), Some(3L), Some(4L)))
      .toDF("g", "id", "v")
    val got = TopKAgg.topKPerGroup(df, "g", "v", "id", 2)
      .orderBy("rnk")
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 5L), (3L, 4L)))
  }
}
