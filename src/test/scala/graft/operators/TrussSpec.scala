package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TrussSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], k: Int) =
    Truss.ktruss(edges.toDF("u", "v"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("multi-round cascade: a triangle strip peels to empty while an " +
      "attached 4-clique survives") {
    // strip 1..8: edges (i,i+1) support 2 inside, (i,i+2) support 1 —
    // round 1 drops every skip edge, round 2 starves the rest; the
    // disjoint K4 keeps support 2 on all 6 edges forever
    val strip = (1L to 7L).map(i => (i, i + 1)) ++
      (1L to 6L).map(i => (i, i + 2))
    val k4 = Seq((100L, 101L), (100L, 102L), (100L, 103L),
      (101L, 102L), (101L, 103L), (102L, 103L))
    val got = run(strip ++ k4, k = 4)
    assert(got == k4.map(_ -> 2L).toMap)
  }

  test("whole graph peels to empty when no edge has enough witnesses") {
    val strip = (1L to 7L).map(i => (i, i + 1)) ++
      (1L to 6L).map(i => (i, i + 2))
    assert(run(strip, k = 4).isEmpty)
  }

  test("matches a driver-side peel on a random graph") {
    val rnd = new scala.util.Random(29)
    val edges = (for (a <- 0L until 30L; b <- (a + 1) until 30L
      if rnd.nextDouble() < 0.25) yield (a, b)).toSeq
    // driver support: for edge (u,v), common neighbors w with (u,w),(v,w)
    def peelRef(es: Set[(Long, Long)], k: Int): Map[(Long, Long), Long] = {
      def has(cur: Set[(Long, Long)], a: Long, b: Long) =
        cur.contains((math.min(a, b), math.max(a, b)))
      var cur = es
      while (true) {
        val nodes = cur.flatMap(e => Seq(e._1, e._2))
        val sup = cur.toSeq.map { case (u, v) =>
          (u, v) -> nodes.count(w => w != u && w != v &&
            has(cur, u, w) && has(cur, v, w)).toLong
        }.toMap
        val next = cur.filter(e => sup(e) >= k - 2)
        if (next.size == cur.size)
          return sup.filter { case (_, s) => s >= k - 2 }
        cur = next
      }
      Map.empty
    }
    val expect = peelRef(edges.toSet, 4)
    assert(run(edges, 4) == expect)
  }

  test("rejects k < 3") {
    assertThrows[IllegalArgumentException] {
      Truss.ktruss(Seq((1L, 2L)).toDF("u", "v"), k = 2)
    }
  }
}
