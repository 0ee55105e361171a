package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class FunnelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)

  private def run(rows: Seq[(Long, Timestamp, String)]) = {
    import spark.implicits._
    Funnel.perKeyWithExclusion(rows.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", "A", "B", "C", horizonHours = 1)
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), r.getLong(3))))
      .toMap
  }

  test("perKeyWithExclusion: blockers counted only strictly between t1 and t2") {
    val rows = Seq(
      // u1: A@0, C@5, B@10 → converted with 1 blocker
      (1L, ts(0), "A"), (1L, ts(5), "C"), (1L, ts(10), "B"),
      // u2: clean conversion; C before A and C at exactly t2 don't count
      (2L, ts(-5), "C"), (2L, ts(0), "A"), (2L, ts(10), "B"), (2L, ts(10), "C"),
      // u3: B outside the 1h horizon → stalled, blockers report 0
      (3L, ts(0), "A"), (3L, ts(30), "C"), (3L, ts(90), "B"),
      // u4: no A at all → absent from output
      (4L, ts(0), "B"))
    val got = run(rows)
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L)._3 === 1L && got(1L)._2.nonEmpty)
    assert(got(2L)._3 === 0L && got(2L)._2.nonEmpty)
    assert(got(3L)._2.isEmpty && got(3L)._3 === 0L)
  }

  test("perKeyWithExclusion: earliest A and earliest qualifying B are chosen") {
    val rows = Seq(
      (1L, ts(20), "A"), (1L, ts(0), "A"), // earliest A at t=0
      (1L, ts(25), "B"), (1L, ts(40), "B"), // earliest B after t1 = 25
      (1L, ts(30), "C")) // after chosen B → not a blocker
    val got = run(rows)
    assert(got(1L)._1.get === ts(0))
    assert(got(1L)._2.get === ts(25))
    assert(got(1L)._3 === 0L)
  }
}
