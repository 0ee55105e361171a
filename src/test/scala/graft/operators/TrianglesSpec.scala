package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TrianglesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("enumerate: hand graph — K4 minus an edge, dup/reversed/self inputs") {
    import spark.implicits._
    // K4 on {1,2,3,4} minus edge (1,4): triangles {1,2,3} and {2,3,4}
    val edges = Seq(
      (1L, 2L), (2L, 1L),   // duplicate + reversed
      (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 3L)              // self-loop dropped
    ).toDF("a", "b")
    val got = Triangles.enumerate(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (2L, 3L, 4L)))
  }

  test("enumerate: random graph matches brute-force, each triangle once") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val es = (1 to 160).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val got = Triangles.enumerate(es.toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val set = es.toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val expected = for {
      i <- nodes; j <- nodes if j > i && set((i, j))
      k <- nodes if k > j && set((i, k)) && set((j, k))
    } yield (i, j, k)
    assert(got.sorted == expected.sorted.toList) // list equality: no dups
    assert(expected.nonEmpty)
  }

  test("enumerate: star graph (max skew) has no triangles and no blow-up") {
    import spark.implicits._
    val edges = (1L to 200L).map(i => (0L, i)).toDF("a", "b")
    assert(Triangles.enumerate(edges).count() == 0L)
  }
}
