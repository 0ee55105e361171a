package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class StreaksSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def run(rows: Seq[(Long, Long)]): Map[Long, (Long, Long, Long, Long)] = {
    import spark.implicits._
    Streaks.dailyStreaks(rows.toDF("u", "day"), "u", "day")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
  }

  /** (n_days, n_streaks, max_streak, last_day) by direct run-splitting. */
  private def brute(days: Seq[Long]): (Long, Long, Long, Long) = {
    val ds = days.distinct.sorted
    val runs = ds.foldLeft(List.empty[List[Long]]) {
      case (acc @ (h :: t), d) if h.nonEmpty && d == h.head + 1 => (d :: h) :: t
      case (acc, d) => List(d) :: acc
    }
    (ds.size.toLong, runs.size.toLong, runs.map(_.size).max.toLong, ds.max)
  }

  test("dailyStreaks: hand case with duplicates and two islands") {
    // user 1: days 3,4,5 and 8 (dup 4) → 4 days, 2 streaks, max 3, last 8
    val got = run(Seq((1L, 3L), (1L, 4L), (1L, 4L), (1L, 5L), (1L, 8L),
      (2L, 10L)))
    assert(got === Map(
      1L -> ((4L, 2L, 3L, 8L)),
      2L -> ((1L, 1L, 1L, 10L))))
  }

  test("dailyStreaks ≡ brute-force run splitting on random activity") {
    val rnd = new scala.util.Random(0x57)
    val rows = for {
      u <- 1L to 5L
      _ <- 0 until (20 + rnd.nextInt(60))
    } yield (u, rnd.nextInt(40).toLong)
    val expect = rows.groupBy(_._1).map { case (u, rs) => u -> brute(rs.map(_._2)) }
    assert(run(rows) === expect)
  }

  test("dailyStreaks plan: island window is user-partitioned, never global") {
    import spark.implicits._
    val df = Streaks.dailyStreaks(Seq((1L, 1L)).toDF("u", "day"), "u", "day")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
  }
}
