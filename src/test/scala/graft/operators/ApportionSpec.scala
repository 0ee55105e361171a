package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ApportionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def run(rows: Seq[(String, String, Long)], seats: Int): Map[(String, String), (Long, Long)] = {
    import spark.implicits._
    Apportion.largestRemainder(rows.toDF("g", "id", "w"), "g", "id", "w", seats)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(3), r.getLong(4))))
      .toMap
  }

  /** Driver-side Hamilton reference. */
  private def brute(ws: Seq[(String, Long)], seats: Int): Map[String, Long] = {
    val tot = ws.map(_._2).sum
    val base = ws.map { case (id, w) => id -> (seats * w / tot) }
    val rem = ws.map { case (id, w) => id -> (seats * w % tot) }
    val spare = seats - base.map(_._2).sum
    val bonus = rem.sortBy { case (id, r) => (-r, id) }.take(spare.toInt).map(_._1).toSet
    base.map { case (id, b) => id -> (b + (if (bonus(id)) 1L else 0L)) }.toMap
  }

  test("largestRemainder: hand case — spare seats go to largest remainders") {
    // weights 5,3,2 over 10 seats: exact shares 5,3,2 — no remainders
    val exact = run(Seq(("a", "x", 5L), ("a", "y", 3L), ("a", "z", 2L)), 10)
    assert(exact.map { case (k, v) => k -> v._2 } ===
      Map(("a", "x") -> 5L, ("a", "y") -> 3L, ("a", "z") -> 2L))
    // weights 5,4,3 over 7: quotas 2.91,2.33,1.75 → floors 2,2,1, spare 2
    // to remainders .91 (x) and .75 (z)
    val frac = run(Seq(("a", "x", 5L), ("a", "y", 4L), ("a", "z", 3L)), 7)
    assert(frac.map { case (k, v) => k -> v._2 } ===
      Map(("a", "x") -> 3L, ("a", "y") -> 2L, ("a", "z") -> 2L))
  }

  test("largestRemainder: Σ alloc = seats per group, exactly, on random weights") {
    val rnd = new scala.util.Random(0xA9)
    val rows = for {
      g <- Seq("a", "b", "c")
      i <- 1 to (3 + rnd.nextInt(12))
    } yield (g, f"m$i%02d", 1L + rnd.nextInt(1000).toLong)
    val seats = 17
    val got = run(rows, seats)
    val perGroup = got.groupBy(_._1._1).map { case (g, m) => g -> m.values.map(_._2).sum }
    assert(perGroup.values.forall(_ == seats.toLong), perGroup)
    // and every member matches the driver-side Hamilton reference
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      brute(rs.map(r => (r._2, r._3)), seats).map { case (id, a) => (g, id) -> a }
    }
    assert(got.map { case (k, v) => k -> v._2 } === expect)
  }

  test("largestRemainder: seats·weight beyond Long range survives (decimal carry)") {
    // 9e15-scale weights × 1,000,000 seats ≈ 9e21 ≫ Long.Max — the long
    // form would throw ARITHMETIC_OVERFLOW under ANSI; the decimal carry
    // must still apportion exactly (ratios 2:1:1 → 500k/250k/250k)
    val w = 9_000_000_000_000_000L
    val got = run(Seq(("a", "x", 2 * w), ("a", "y", w), ("a", "z", w)), 1000000)
    assert(got.map { case (k, v) => k -> v._2 } ===
      Map(("a", "x") -> 500000L, ("a", "y") -> 250000L, ("a", "z") -> 250000L))
  }

  test("largestRemainder: remainder ties break by member id") {
    // equal weights, 5 seats over 4 members: floors 1 each, 1 spare →
    // all remainders equal → lexicographically first id gets it
    val got = run(Seq(("a", "m1", 10L), ("a", "m2", 10L),
      ("a", "m3", 10L), ("a", "m4", 10L)), 5)
    assert(got.map { case (k, v) => k -> v._2 } ===
      Map(("a", "m1") -> 2L, ("a", "m2") -> 1L, ("a", "m3") -> 1L, ("a", "m4") -> 1L))
  }
}
