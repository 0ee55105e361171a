package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BalanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def run(rows: Seq[(String, Long, Long)]): Map[(String, Long), Long] = {
    import spark.implicits._
    Balance.clampedRunning(rows.toDF("k", "i", "flow"), "k", Seq("i"), "flow")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
  }

  private def fold(flows: Seq[Long]): Seq[Long] =
    flows.scanLeft(0L)((s, x) => math.max(0L, s + x)).drop(1)

  test("clampedRunning: withdrawals against empty stock are lost") {
    val flows = Seq(5L, -10L, 3L, -10L, 20L)
    val got = run(flows.zipWithIndex.map { case (f, i) => ("a", i.toLong, f) })
    val expect = fold(flows) // 5, 0, 3, 0, 20
    assert(expect === Seq(5L, 0L, 3L, 0L, 20L))
    assert(got === expect.zipWithIndex.map { case (v, i) => ("a", i.toLong) -> v }.toMap)
  }

  test("clampedRunning ≡ the sequential recurrence on random flows per key") {
    val rnd = new scala.util.Random(0xBA1)
    for (trial <- 1 to 3) {
      val rows = for {
        k <- Seq("a", "b", "c")
        i <- 0 until (30 + rnd.nextInt(50))
      } yield (k, i.toLong, rnd.nextInt(41).toLong - 20L)
      val expect = rows.groupBy(_._1).flatMap { case (k, rs) =>
        val ordered = rs.sortBy(_._2)
        ordered.map(_._2).zip(fold(ordered.map(_._3)))
          .map { case (i, v) => (k, i) -> v }
      }
      assert(run(rows) === expect, s"trial=$trial")
    }
  }

  test("clampedRunning plan: both windows share one key partition, never global") {
    import spark.implicits._
    val df = Balance.clampedRunning(
      Seq(("a", 1L, 2L)).toDF("k", "i", "flow"), "k", Seq("i"), "flow")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
  }

  private def ddBrute(flows: Seq[Long]): (Long, Long, Long) = {
    val prefix = flows.scanLeft(0L)(_ + _).drop(1)
    val peaks = prefix.scanLeft(Long.MinValue)(math.max).drop(1)
    (prefix.max, prefix.last, peaks.zip(prefix).map { case (p, v) => p - v }.max)
  }

  test("maxDrawdown: hand case — deepest fall from a running peak") {
    import spark.implicits._
    // prefix: 10, 4, 12, 3, 8 → peak 12, final 8, maxdd = 12-3 = 9
    val rows = Seq(10L, -6L, 8L, -9L, 5L).zipWithIndex
      .map { case (f, i) => ("a", i.toLong, f) }
    val got = Balance.maxDrawdown(rows.toDF("k", "i", "flow"), "k", Seq("i"), "flow")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map("a" -> ((12L, 8L, 9L))))
  }

  test("maxDrawdown: all-ascending series reports zero drawdown") {
    import spark.implicits._
    val rows = Seq(1L, 2L, 3L).zipWithIndex.map { case (f, i) => ("a", i.toLong, f) }
    val got = Balance.maxDrawdown(rows.toDF("k", "i", "flow"), "k", Seq("i"), "flow")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got === Map("a" -> 0L))
  }

  test("maxDrawdown ≡ brute-force peak scan on random flows per key") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xDD)
    val rows = for {
      k <- Seq("a", "b", "c", "d")
      i <- 0 until (20 + rnd.nextInt(60))
    } yield (k, i.toLong, rnd.nextInt(41).toLong - 20L)
    val expect = rows.groupBy(_._1).map { case (k, rs) =>
      k -> ddBrute(rs.sortBy(_._2).map(_._3))
    }
    val got = Balance.maxDrawdown(rows.toDF("k", "i", "flow"), "k", Seq("i"), "flow")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === expect)
  }
}
