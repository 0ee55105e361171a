package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class KcoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def sym(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  private def run(pairs: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    Kcore.kcore(sym(pairs).toDF("src", "dst"), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side reference peel on an undirected simple graph. */
  private def brute(pairs: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var e = sym(pairs).distinct.filter(p => p._1 != p._2)
    var done = false
    while (!done) {
      val deg = e.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
      val keep = deg.filter(_._2 >= k).keySet
      val e2 = e.filter(p => keep(p._1) && keep(p._2))
      if (e2 == e) done = true
      e = e2
      if (e.isEmpty) done = true
    }
    e.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
      .filter(_._2 >= k)
  }

  test("triangle+tail: 2-core is the triangle, tail peeled in cascade") {
    // 1-2-3 triangle, with a chain 3-4-5 hanging off
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    assert(run(g, 2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // 3-core empty: peeling cascades to nothing
    assert(run(g, 3) === Map.empty[Long, Long])
  }

  test("self-loops and parallel edges do not inflate coreness") {
    val g = Seq((1L, 2L), (1L, 2L), (1L, 1L), (2L, 3L), (1L, 3L))
    assert(run(g, 2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("random graphs match the driver-side peel at several k") {
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2)
      for (k <- Seq(2, 3, 4))
        assert(run(pairs, k) === brute(pairs, k), s"trial=$trial k=$k")
    }
  }

  test("maxRounds breach raises instead of returning a non-fixpoint") {
    // a 12-node path at k=2 peels one layer per round from the ends
    // (internal degrees are 2): depth ≈ n/2 rounds, so maxRounds=2
    // must raise rather than return a non-fixpoint set
    val path = (1L to 12L).sliding(2).map(p => (p(0), p(1))).toSeq
    val ex = intercept[IllegalArgumentException](
      Kcore.kcore(sym(path).toDF("src", "dst"), k = 2, maxRounds = 2).count())
    assert(ex.getMessage.contains("still peeling"))
  }
}
