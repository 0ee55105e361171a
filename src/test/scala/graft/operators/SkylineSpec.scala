package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkylineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("pareto: hand case with max/min mix, duplicates and nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, 10.0, Some(5.0)),  // dominated by 3 (price and cost both worse)
      (2L, 20.0, Some(9.0)),  // dominated by 3 (equal price, higher cost)
      (3L, 20.0, Some(3.0)),
      (4L, 20.0, Some(3.0)),  // duplicate dims of 3: both survive
      (5L, 5.0, Some(1.0)),   // cheapest: incomparable with 3
      (6L, 99.0, None)        // null dim excluded
    ).toDF("id", "price", "cost")
    val got = Skyline.pareto(df, Seq(("price", true), ("cost", false)))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 4L, 5L))
  }

  test("pareto: matches brute-force dominance on random data, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val rows = (1L to 600L).map(i =>
      (i, rnd.nextInt(50).toDouble, rnd.nextInt(50).toDouble, rnd.nextInt(50).toDouble))
    def dom(a: (Double, Double, Double), b: (Double, Double, Double)) =
      a._1 >= b._1 && a._2 >= b._2 && a._3 <= b._3 &&
        (a._1 > b._1 || a._2 > b._2 || a._3 < b._3)
    val expected = rows.filter { r =>
      val v = (r._2, r._3, r._4)
      !rows.exists(o => dom((o._2, o._3, o._4), v))
    }.map(_._1).toSet
    for (parts <- Seq(1, 3, 7)) {
      val df = rows.toDF("id", "x", "y", "z").repartition(parts)
      val got = Skyline.pareto(df,
        Seq(("x", true), ("y", true), ("z", false)))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"parts=$parts")
    }
    assert(expected.nonEmpty && expected.size < 600)
  }
}
