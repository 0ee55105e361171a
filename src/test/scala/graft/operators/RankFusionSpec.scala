package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RankFusionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def ranking(rows: Seq[(Long, Long, Int)]) =
    rows.toDF("query_id", "id", "rank")

  test("rrf ≡ driver-side floor-reciprocal sums; absent list → rank 0") {
    val a = ranking(Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3)))
    val b = ranking(Seq((0L, 11L, 1), (0L, 13L, 2)))
    val got = RankFusion.rrf(Seq("a" -> a, "b" -> b), kRrf = 60L)
      .orderBy(col("rrf_scaled").desc, col("id"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    def c(rank: Long) = RankFusion.Scale / (60L + rank)
    // 11 in both lists dominates; ties impossible here
    assert(got.toSeq == Seq(
      (11L, 2L, c(2) + c(1), 2L, 1L),
      (10L, 1L, c(1), 1L, 0L),
      (13L, 1L, c(2), 0L, 2L),
      (12L, 1L, c(3), 3L, 0L)))
  }

  test("multi-query fusion groups per (query_id, id)") {
    val a = ranking(Seq((0L, 1L, 1), (1L, 1L, 2)))
    val b = ranking(Seq((1L, 1L, 1)))
    val got = RankFusion.rrf(Seq("a" -> a, "b" -> b))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 1L, 1L), (1L, 1L, 2L)))
  }

  test("contributions are exact integer floors (div, not double /)") {
    val a = ranking(Seq((0L, 7L, 7)))
    val row = RankFusion.rrf(Seq("a" -> a), kRrf = 60L).collect().head
    assert(row.getLong(3) == 1000000L / 67L) // 14925, floored
  }

  test("duplicate ranking names rejected") {
    val a = ranking(Seq((0L, 1L, 1)))
    intercept[IllegalArgumentException] {
      RankFusion.rrf(Seq("a" -> a, "a" -> a))
    }
  }
}
