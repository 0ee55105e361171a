package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class RangeJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("pointInInterval: containment incl. boundaries, multi-chunk spans, no dups") {
    import spark.implicits._
    // chunk width 100: interval B spans chunks 0-2 and must still match
    // each contained point exactly once
    val points = Seq(
      (1L, 50L, 10L),   // in A [40,60] and B [0,250]
      (1L, 40L, 11L),   // ON A's start boundary
      (1L, 250L, 12L),  // ON B's end boundary (chunk 2)
      (1L, 300L, 13L),  // outside everything
      (2L, 50L, 14L)    // other key: no intervals → dropped
    ).toDF("k", "ts", "pid")
    val intervals = Seq(
      (1L, 40L, 60L, 100L),  // A
      (1L, 0L, 250L, 101L)   // B
    ).toDF("k", "s", "e", "iid")

    val out = RangeJoin.pointInInterval(points, intervals, "k", "ts", "s", "e", 100L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((10L, 100L), (10L, 101L), (11L, 100L), (11L, 101L),
      (12L, 101L)))
  }

  test("pathological open-ended interval fails fast with a named error") {
    import spark.implicits._
    val points = Seq((1L, 50L, 10L)).toDF("k", "ts", "pid")
    val intervals = Seq((1L, 0L, Long.MaxValue / 2, 100L)).toDF("k", "s", "e", "iid")
    val ex = intercept[Throwable] {
      RangeJoin.pointInInterval(points, intervals, "k", "ts", "s", "e", 100L)
        .collect()
    }
    val messages = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("pointInInterval"),
      s"expected the guard's named error, got:\n$messages")
  }

  test("plan: equi-join on (key, chunk), no cartesian") {
    import spark.implicits._
    val points = Seq((1L, 50L, 10L)).toDF("k", "ts", "pid")
    val intervals = Seq((1L, 0L, 99L, 100L)).toDF("k", "s", "e", "iid")
    val plan = RangeJoin.pointInInterval(points, intervals, "k", "ts", "s", "e", 100L)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty && joins.forall(_.condition.nonEmpty),
      "chunked range join must be a conditioned equi-join")
  }

  private def overlaps(a: Seq[(Long, Long, Long, Long)],
                       b: Seq[(Long, Long, Long, Long)],
                       width: Long) = {
    import spark.implicits._
    RangeJoin.intervalOverlap(
        a.toDF("k", "aid", "s", "e"), b.toDF("k", "bid", "s2", "e2"),
        "k", "s", "e", "s2", "e2", chunkWidth = width)
      .collect().map(r => (r.getLong(1), r.getLong(4))).toSet
      // (aid, bid)
  }

  test("intervalOverlap: inclusive bounds, disjoint pairs excluded") {
    val a = Seq((1L, 10L, 100L, 200L))
    val b = Seq(
      (1L, 20L, 200L, 300L),  // touches at 200 — inclusive overlap
      (1L, 21L, 201L, 300L),  // disjoint by 1
      (1L, 22L, 0L, 99L),     // disjoint below
      (1L, 23L, 0L, 100L),    // touches at 100
      (1L, 24L, 120L, 130L),  // contained
      (2L, 25L, 100L, 200L))  // other key
    assert(overlaps(a, b, 50L) === Set((10L, 20L), (10L, 23L), (10L, 24L)))
  }

  test("intervalOverlap: a pair spanning many shared chunks emits ONCE") {
    // overlap [100, 400] covers chunks 2,3,4,5,6,7,8 at width 50 —
    // the first-shared-chunk residual must still emit exactly one row
    import spark.implicits._
    val a = Seq((1L, 10L, 100L, 400L)).toDF("k", "aid", "s", "e")
    val b = Seq((1L, 20L, 50L, 500L)).toDF("k", "bid", "s2", "e2")
    val got = RangeJoin.intervalOverlap(a, b, "k", "s", "e", "s2", "e2", 50L)
      .collect()
    assert(got.length === 1)
  }

  test("intervalOverlap: matches the brute-force overlap join on random data") {
    val rnd = new scala.util.Random(11)
    val a = (1 to 60).map { i =>
      val s = rnd.nextInt(500).toLong
      (rnd.nextInt(3).toLong, 100L + i, s, s + rnd.nextInt(80))
    }
    val b = (1 to 60).map { i =>
      val s = rnd.nextInt(500).toLong
      (rnd.nextInt(3).toLong, 200L + i, s, s + rnd.nextInt(80))
    }
    val expect = (for {
      (ka, aid, s, e) <- a
      (kb, bid, s2, e2) <- b
      if ka == kb && s <= e2 && s2 <= e
    } yield (aid, bid)).toSet
    assert(overlaps(a, b, 64L) === expect)
    assert(expect.nonEmpty)
  }
}
