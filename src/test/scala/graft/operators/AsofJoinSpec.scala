package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class AsofJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)

  test("asofMatch: latest right ≤ left per key, inclusive, inner, tie-reduced") {
    import spark.implicits._
    val left = Seq(
      (1L, ts(10), 100L), // after rights at 5, 8 → matches 8's row
      (1L, ts(8), 101L),  // EQUAL ts to a right row → inclusive match
      (1L, ts(3), 102L),  // before any right → dropped (inner)
      (2L, ts(50), 103L), // other key → matches its own right only
      (3L, ts(50), 104L)  // key with no rights at all → dropped
    ).toDF("user_id", "ts", "event_id")
    val right = Seq(
      (1L, ts(5), 200L),
      (1L, ts(8), 201L),
      (1L, ts(8), 202L),  // duplicate (key, ts) → reduced to max id 202
      (1L, ts(12), 203L), // later than every left → never matched
      (2L, ts(49), 204L)
    ).toDF("user_id", "ts", "event_id")

    val out = AsofJoin.asofMatch(left, right, "user_id", "ts", "ts",
        "event_id", "event_id")
      .collect().map(r => (r.getLong(1), r.getLong(3))).toMap
    assert(out == Map(100L -> 202L, 101L -> 202L, 103L -> 204L))
  }

  test("asofMatchBounded: left outer, stale matches nulled, ages exact") {
    import spark.implicits._
    val left = Seq(
      (1L, ts(10), 100L), // latest right at 8 → age 2s, inside 5s horizon
      (1L, ts(20), 101L), // latest right at 8 → age 12s, stale → NULL
      (1L, ts(8), 102L),  // equal ts → inclusive, age 0
      (2L, ts(50), 103L), // no right for key 2 → NULL (left outer)
      (3L, ts(7), 104L)   // right only later (t=9) → NULL
    ).toDF("user_id", "ts", "event_id")
    val right = Seq(
      (1L, ts(5), 200L),
      (1L, ts(8), 201L),
      (1L, ts(8), 202L),  // duplicate (key, ts) → reduced to max id 202
      (3L, ts(9), 203L)
    ).toDF("user_id", "ts", "event_id")

    val out = AsofJoin.asofMatchBounded(left, right, "user_id", "ts", "ts",
        "event_id", "event_id", horizonMs = 5000L)
      .collect()
      .map(r => r.getLong(1) -> ((Option(r.get(3)), Option(r.get(4)))))
      .toMap
    assert(out == Map(
      100L -> ((Some(202L), Some(2000L))),
      101L -> ((None, None)),
      102L -> ((Some(202L), Some(0L))),
      103L -> ((None, None)),
      104L -> ((None, None))))
  }

  test("asofMatchBounded with a huge horizon ≡ asofMatch on matched rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val left = Seq.fill(120)(
      (rnd.nextInt(5).toLong, ts(rnd.nextInt(100).toLong), rnd.nextInt(10000).toLong + 100000L)
    ).toDF("user_id", "ts", "event_id")
    val right = Seq.fill(80)(
      (rnd.nextInt(5).toLong, ts(rnd.nextInt(100).toLong), rnd.nextInt(10000).toLong)
    ).toDF("user_id", "ts", "event_id")
    val bounded = AsofJoin.asofMatchBounded(left, right, "user_id", "ts", "ts",
        "event_id", "event_id", horizonMs = Long.MaxValue / 4)
      .filter("right_id IS NOT NULL")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val inner = AsofJoin.asofMatch(left, right, "user_id", "ts", "ts",
        "event_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(bounded == inner)
  }

  test("asofMatchBounded plan: no join operator, windows key-partitioned") {
    import spark.implicits._
    val left = Seq((1L, ts(1), 1L)).toDF("user_id", "ts", "event_id")
    val right = Seq((1L, ts(0), 2L)).toDF("user_id", "ts", "event_id")
    val plan = AsofJoin.asofMatchBounded(left, right, "user_id", "ts", "ts",
      "event_id", "event_id", 1000L).queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    assert(plan.collect { case j: Join => j }.isEmpty, "asof must not plan a join")
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
  }

  test("nearestMatch: picks the closer side, earlier on ties, outer on no-rights") {
    import spark.implicits._
    val left = Seq(
      (1L, ts(10), 100L), // rights at 8 and 13: prev d=2 < next d=3 → 8
      (1L, ts(12), 101L), // prev(8) d=4, next(13) d=1 → 13
      (1L, ts(3), 102L),  // nothing before → next 8
      (1L, ts(50), 103L), // nothing after → prev 13
      (2L, ts(7), 104L),  // equidistant rights 5 and 9 → earlier (5)
      (3L, ts(1), 105L)   // no rights for key → NULL
    ).toDF("user_id", "ts", "event_id")
    val right = Seq(
      (1L, ts(8), 200L), (1L, ts(8), 201L), // tie-reduced to 201
      (1L, ts(13), 202L),
      (2L, ts(5), 203L), (2L, ts(9), 204L)
    ).toDF("user_id", "ts", "event_id")
    val out = AsofJoin.nearestMatch(left, right, "user_id", "ts", "ts",
        "event_id", "event_id")
      .collect()
      .map(r => r.getLong(1) -> ((Option(r.get(3)), Option(r.get(4)))))
      .toMap
    assert(out === Map(
      100L -> ((Some(201L), Some(2000000L))),
      101L -> ((Some(202L), Some(-1000000L))),
      102L -> ((Some(201L), Some(-5000000L))),
      103L -> ((Some(202L), Some(37000000L))),
      104L -> ((Some(203L), Some(2000000L))),
      105L -> ((None, None))))
  }

  test("nearestMatch ≡ driver brute force on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xF00D)
    val left = Seq.fill(100)(
      (rnd.nextInt(4).toLong, ts(rnd.nextInt(200).toLong), 1000L + rnd.nextInt(100000)))
      .groupBy(_._3).map(_._2.head).toSeq // unique left ids
    val right = Seq.fill(60)(
      (rnd.nextInt(4).toLong, ts(rnd.nextInt(200).toLong), rnd.nextInt(1000).toLong))
    // driver reference: reduce rights per (key, ts) to max id, then scan
    val reduced = right.groupBy(r => (r._1, r._2.getTime))
      .map { case ((k, t), rs) => (k, t, rs.map(_._3).max) }.toSeq
    val expect = left.map { case (k, lts, lid) =>
      val cands = reduced.filter(_._1 == k)
      if (cands.isEmpty) lid -> None
      else {
        val best = cands.minBy { case (_, t, rid) =>
          (math.abs(t - lts.getTime), t, -rid) }
        // tie between equal |d|: earlier right wins (smaller t)
        lid -> Some((best._3, (lts.getTime - best._2) * 1000L))
      }
    }.toMap
    val got = AsofJoin.nearestMatch(left.toDF("user_id", "ts", "event_id"),
        right.toDF("user_id", "ts", "event_id"),
        "user_id", "ts", "ts", "event_id", "event_id")
      .collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(3)) None
        else Some((r.getLong(3), r.getLong(4))))).toMap
    assert(got === expect)
  }

  test("asofMatch plan: one key shuffle, window partitioned, no join operator") {
    import spark.implicits._
    val left = Seq((1L, ts(1), 1L)).toDF("user_id", "ts", "event_id")
    val right = Seq((1L, ts(0), 2L)).toDF("user_id", "ts", "event_id")
    val plan = AsofJoin.asofMatch(left, right, "user_id", "ts", "ts",
      "event_id", "event_id").queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    assert(plan.collect { case j: Join => j }.isEmpty, "asof must not plan a join")
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
  }
}
