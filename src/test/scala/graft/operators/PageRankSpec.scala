package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class PageRankSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val SCALE = 1000000000L

  /** Driver-side reference with the identical integer semantics —
    * independent implementation (mutable maps, no Spark). */
  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var rank = nodes.map(_ -> SCALE).toMap
    for (_ <- 1 to iters) {
      val mass = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((s, d) <- edges) mass(d) += rank(s) / outdeg(s)
      rank = nodes.map(n => n -> (150000000L + 85L * mass(n) / 100L)).toMap
    }
    rank
  }

  test("ranks: a pure cycle is an exact fixpoint at scale") {
    import spark.implicits._
    // outdeg 1 everywhere: rank' = 0.15*scale + 0.85*scale = scale, exactly
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = PageRank.ranks(edges, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> SCALE, 2L -> SCALE, 3L -> SCALE))
  }

  test("ranks: star graph — hub gains leaf mass, leaves decay to base chain") {
    import spark.implicits._
    val edges = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("src", "dst")
    val got = PageRank.ranks(edges, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // iter1: leaves 0.15 (no in-edges), hub 0.15 + 0.85*3.0 = 2.70
    // iter2: leaves 0.15, hub 0.15 + 0.85*(3*0.15) (sink drops its own mass)
    assert(got == reference(Seq((1L, 9L), (2L, 9L), (3L, 9L)), 2))
    assert(got(9L) == 150000000L + 85L * (3L * 150000000L) / 100L)
    assert(got(1L) == 150000000L)
  }

  test("ranks: random digraph matches the driver-side reference exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .distinct.filter(e => e._1 != e._2)
    val got = PageRank.ranks(edges.toDF("src", "dst"), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == reference(edges, 3))
    // ranks genuinely differentiated (not all base / all scale)
    assert(got.values.toSet.size > 5)
    val plain = NoBroadcast(spark) {
      PageRank.ranks(edges.toDF("src", "dst"), iters = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(plain == got)
  }
}
