package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class LpaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def sym(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  private def run(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    Lpa.communities(sym(pairs).toDF("src", "dst"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side reference: the same synchronous rule (most frequent
    * neighbor label, tie -> smallest), restated independently. */
  private def ref(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = sym(pairs).filter(e => e._1 != e._2).distinct
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var lab: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (n, nbrs) =>
        val counts = nbrs.map(lab).groupBy(identity).map { case (l, xs) => l -> xs.size }
        n -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    lab
  }

  test("two disjoint triangles converge to their min node id") {
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    assert(run(g, 3) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("star graph: synchronous rounds oscillate exactly as specified") {
    // hub 1 with leaves 2..5. Round 1: hub adopts min leaf label 2
    // (all counts tie), leaves adopt 1. Round 2: hub sees all-1 -> 1,
    // leaves see hub's round-1 label 2 -> 2. Locks in BOTH the
    // smallest-label tie-break and the synchronous (not in-place)
    // update order.
    val g = (2L to 5L).map(l => (1L, l))
    assert(run(g, 1) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    assert(run(g, 2) === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 2L))
  }

  test("tie-break: equal neighbor-label counts pick the smallest label") {
    // node 1 adjacent to 5 and 7 only: round 1 -> label 5
    val g = Seq((1L, 5L), (1L, 7L))
    assert(run(g, 1)(1L) === 5L)
  }

  test("matches the driver-side reference on random graphs") {
    val rnd = new scala.util.Random(0xC0FFEE)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(p => p._1 != p._2)
      val rounds = 1 + rnd.nextInt(4)
      assert(run(pairs, rounds) === ref(pairs, rounds), s"trial=$trial rounds=$rounds")
      assert(NoBroadcast(spark)(run(pairs, rounds)) === ref(pairs, rounds),
        s"hint-free trial=$trial rounds=$rounds")
    }
  }

  test("oracleSql round count must be >= 1, as must communities'") {
    intercept[IllegalArgumentException](Lpa.communities(
      Seq((1L, 2L)).toDF("src", "dst"), rounds = 0))
  }
}
