package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class ActivitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  // midnight-ish UTC timestamps `day` days after 2023-11-14
  private def ts(day: Int, hour: Int = 3) =
    new Timestamp(1699920000000L + day * 86400000L + hour * 3600000L)

  private def run(rows: Seq[(Long, Timestamp)], w: Int): Map[String, (Long, Long)] = {
    import spark.implicits._
    Activity.rollingActive(rows.toDF("user_id", "ts"), "user_id", "ts", w)
      .collect()
      .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getLong(2))))
      .toMap
  }

  test("rollingActive: window accumulates then forgets; only observed days emitted") {
    // u1 on day 0; u2 on day 1; nothing day 2; u3 on day 3
    val rows = Seq((1L, ts(0)), (2L, ts(1)), (3L, ts(3)))
    val got = run(rows, 3)
    // day 2 has no activity → no output row even though windows cover it
    assert(got == Map(
      "2023-11-14" -> ((1L, 1L)),   // {u1}
      "2023-11-15" -> ((2L, 1L)),   // {u1,u2}
      "2023-11-17" -> ((2L, 1L)))) // {u2 (day1 in [1,3]), u3}; u1's day-0 aged out
  }

  test("rollingActive: multiple events per user-day collapse to one") {
    val rows = Seq((1L, ts(0, 1)), (1L, ts(0, 5)), (1L, ts(0, 9)))
    assert(run(rows, 7) == Map("2023-11-14" -> ((1L, 1L))))
  }

  test("rollingActive matches driver brute force on random activity") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val w = 1 + rnd.nextInt(9)
      val rows = Seq.fill(300)((rnd.nextInt(20).toLong, ts(rnd.nextInt(25))))
      val byDay = rows.groupBy(r => r._2.getTime / 86400000L)
        .map { case (d, rs) => d -> rs.map(_._1).toSet }
      val expect = byDay.keys.map { d =>
        val win = ((d - w + 1) to d).flatMap(byDay.get).flatten.toSet
        d -> ((win.size.toLong, byDay(d).size.toLong))
      }.toMap
      val got = run(rows, w).map { case (day, v) =>
        java.time.LocalDate.parse(day).toEpochDay -> v
      }
      assert(got == expect, s"trial=$trial w=$w")
    }
  }

  test("rollingActive plan: no window function, no cartesian product") {
    import spark.implicits._
    val df = Activity.rollingActive(
      Seq((1L, ts(0))).toDF("user_id", "ts"), "user_id", "ts", 7)
    val plan = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    assert(plan.collect { case w: LWindow => w }.isEmpty,
      "scatter formulation must not plan a window")
    val joins = plan.collect { case j: Join => j }
    assert(joins.forall(_.condition.nonEmpty), "no cartesian joins")
  }
}
