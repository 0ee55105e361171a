package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BfsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def undirected(pairs: (Long, Long)*): Seq[(Long, Long)] =
    pairs ++ pairs.map(_.swap)

  test("hand graph: levels, tie-breaking by shortest path, unreachable absent") {
    import spark.implicits._
    //   1 - 2 - 3 - 4      7 - 8 (unreachable island)
    //       |       |
    //       5 ------+   (5 gives 4 a 3-hop path; direct chain is 3 hops too)
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L), (5L, 4L),
      (7L, 8L)).toDF("src", "dst")
    val got = Bfs.distances(edges, Seq(1L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 5L -> 2L, 4L -> 3L))
  }

  test("multi-source: dist is the min over sources") {
    import spark.implicits._
    // chain 0-1-2-3-4-5 with sources at both ends
    val edges = undirected((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = Bfs.distances(edges, Seq(0L, 5L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("random graph matches a driver-side BFS, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val n = 120
    val pairs = (0 until 260).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(p => p._1 != p._2)
    // driver-side reference over the adjacency map
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).distinct }
    val expected = scala.collection.mutable.Map(0L -> 0L, 7L -> 0L)
    var frontier = Set(0L, 7L)
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
        .filterNot(expected.contains)
      frontier.foreach(v => expected(v) = d)
    }
    for (parts <- Seq(1, 7)) {
      val edges = undirected(pairs: _*).toDF("src", "dst").repartition(parts)
      val got = Bfs.distances(edges, Seq(0L, 7L).toDF("node"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected.toMap, s"parts=$parts")
    }
  }

  test("directed edges are honored (no implicit symmetry)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Bfs.distances(edges, Seq(3L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 0L)) // nothing flows against the arrows
  }

  test("maxDepth below the eccentricity raises instead of truncating") {
    import spark.implicits._
    val edges = undirected((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Bfs.distances(edges, Seq(0L).toDF("node"), maxDepth = 2).collect()
    }
    assert(e.getMessage.contains("frontier still non-empty"))
  }

  test("landmarkDistances: per-seed BFS on a path, disconnected seed isolated") {
    import spark.implicits._
    // path 0-1-2-3 plus isolated seed 9
    val edges = undirected((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Bfs.landmarkDistances(edges, Seq(0L, 3L, 9L).toDF("node"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expect = Map(
      (0L, 0L) -> 0L, (1L, 0L) -> 1L, (2L, 0L) -> 2L, (3L, 0L) -> 3L,
      (3L, 3L) -> 0L, (2L, 3L) -> 1L, (1L, 3L) -> 2L, (0L, 3L) -> 3L,
      (9L, 9L) -> 0L)
    assert(got === expect)
  }

  test("landmarkDistances ≡ one distances() run per seed on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x1a2)
    val pairs = Seq.fill(60)((rnd.nextInt(22).toLong, rnd.nextInt(22).toLong))
      .filter(p => p._1 != p._2)
    val edges = undirected(pairs: _*).toDF("src", "dst")
    val seeds = Seq(0L, 5L, 13L)
    val expect = seeds.flatMap { s =>
      Bfs.distances(edges, Seq(s).toDF("node"))
        .collect().map(r => (r.getLong(0), s) -> r.getLong(1))
    }.toMap
    val got = Bfs.landmarkDistances(edges, seeds.toDF("node"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expect)
    val plain = NoBroadcast(spark) {
      Bfs.landmarkDistances(edges, seeds.toDF("node"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    assert(plain === expect)
  }

  test("depth-200 chain at maxDepth=250: bounded plan depth via periodic compaction") {
    import spark.implicits._
    // a path graph 0→1→…→200 forces 200 frontier rounds — the
    // high-diameter (road-network) regime the CheckpointEvery compaction
    // exists for. Without it the visited set would be a 200-level Union.
    val edges = (0L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    val dist = Bfs.distances(edges, Seq(0L).toDF("node"), maxDepth = 250)
    val unions = dist.queryExecution.logical.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    // ≤ CheckpointEvery rounds since the last compaction contribute a
    // Union level each; everything older is a checkpointed leaf
    assert(unions.size <= Bfs.CheckpointEvery,
      s"plan carries ${unions.size} unions — compaction not bounding depth")
    val got = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 200L).map(i => i -> i).toMap)
  }
}
