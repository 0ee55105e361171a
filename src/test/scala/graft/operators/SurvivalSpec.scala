package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SurvivalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def run(rows: Seq[(String, Long, Long)]): Map[(String, Long), (Long, Long, Long)] = {
    import spark.implicits._
    Survival.kmComponents(rows.toDF("g", "dur", "ev"), "g", "dur", "ev")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
  }

  test("kmComponents: textbook hand case") {
    // durations (g=a): events at 2,2,5; censored at 3,5,7
    val rows = Seq(("a", 2L, 1L), ("a", 2L, 1L), ("a", 3L, 0L),
      ("a", 5L, 1L), ("a", 5L, 0L), ("a", 7L, 0L))
    val got = run(rows)
    assert(got === Map(
      ("a", 2L) -> ((2L, 0L, 6L)),   // all 6 at risk at t=2
      ("a", 3L) -> ((0L, 1L, 4L)),
      ("a", 5L) -> ((1L, 1L, 3L)),
      ("a", 7L) -> ((0L, 1L, 1L))))
  }

  test("kmComponents ≡ brute-force risk-set count on random subjects") {
    val rnd = new scala.util.Random(0x5A)
    val rows = for {
      g <- Seq("a", "b")
      _ <- 0 until (40 + rnd.nextInt(40))
    } yield (g, rnd.nextInt(15).toLong, rnd.nextInt(2).toLong)
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.map(_._2).distinct.map { t =>
        val d = rs.count(r => r._2 == t && r._3 == 1L).toLong
        val c = rs.count(r => r._2 == t && r._3 == 0L).toLong
        val atRisk = rs.count(_._2 >= t).toLong
        (g, t) -> ((d, c, atRisk))
      }
    }
    assert(run(rows) === expect)
  }

  test("kmComponents plan: the risk-set window is stratum-partitioned, never global") {
    import spark.implicits._
    val df = Survival.kmComponents(
      Seq(("a", 1L, 1L)).toDF("g", "dur", "ev"), "g", "dur", "ev")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
  }
}
