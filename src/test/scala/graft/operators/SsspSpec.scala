package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

class SsspSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def run(edges: Seq[(Long, Long, Long)], sources: Seq[Long],
                  maxRounds: Int = 60): Map[Long, Long] =
    Sssp.shortestPaths(edges.toDF("src", "dst", "w"),
        sources.toDF("node"), maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side Dijkstra reference. */
  private def dijkstra(edges: Seq[(Long, Long, Long)],
                       sources: Seq[Long]): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(e => (e._2, e._3)) }
    val dist = mutable.Map[Long, Long](sources.map(_ -> 0L): _*)
    val pq = mutable.PriorityQueue[(Long, Long)](
      sources.map(s => (0L, s)): _*)(Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, n) = pq.dequeue()
      if (dist(n) == d)
        adj.getOrElse(n, Nil).foreach { case (m, w) =>
          if (!dist.contains(m) || d + w < dist(m)) {
            dist(m) = d + w; pq.enqueue((d + w, m))
          }
        }
    }
    dist.toMap
  }

  test("hand graph: weighted shortcut beats fewer hops") {
    // 1 -> 2 (w=10) vs 1 -> 3 -> 2 (w=2+3): the longer-hop path wins
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 3L))
    assert(run(edges, Seq(1L)) === Map(1L -> 0L, 3L -> 2L, 2L -> 5L))
  }

  test("multi-source takes the minimum over sources; unreachable absent") {
    val edges = Seq((1L, 2L, 5L), (10L, 2L, 1L), (20L, 21L, 7L))
    assert(run(edges, Seq(1L, 10L)) === Map(1L -> 0L, 10L -> 0L, 2L -> 1L))
  }

  test("parallel edges collapse to min weight; zero weights allowed") {
    val edges = Seq((1L, 2L, 9L), (1L, 2L, 4L), (2L, 3L, 0L))
    assert(run(edges, Seq(1L)) === Map(1L -> 0L, 2L -> 4L, 3L -> 4L))
  }

  test("randomized graphs match driver-side Dijkstra") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(160)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, rnd.nextInt(9).toLong + 1))
      val sources = Seq(0L, 1L)
      assert(run(edges, sources) === dijkstra(edges, sources))
    }
  }

  test("hint-free (shuffled fallback) run is bit-identical") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(160)(
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong, rnd.nextInt(9).toLong + 1))
    val plain = NoBroadcast(spark) {
      Sssp.shortestPaths(edges.toDF("src", "dst", "w"), Seq(0L, 1L).toDF("node"), 60)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(plain === dijkstra(edges, Seq(0L, 1L)))
  }

  test("negative weights raise; non-converged maxRounds raises") {
    intercept[IllegalArgumentException] {
      run(Seq((1L, 2L, -1L)), Seq(1L))
    }
    intercept[IllegalArgumentException] {
      // a 5-hop chain cannot converge in 2 rounds
      run(Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L),
        (5L, 6L, 1L)), Seq(1L), maxRounds = 2)
    }
  }
}
