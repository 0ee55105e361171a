package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraphStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def sym(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  test("twoHopCounts: path graph — ends see one 2-hop, middle sees both ends") {
    // path 1-2-3: 1's 2-hop = {3}, 3's = {1}, 2's = {} (1,3 adjacent to 2)
    val g = sym(Seq((1L, 2L), (2L, 3L)))
    val got = GraphStats.twoHopCounts(g.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 3L -> 1L))
  }

  test("twoHopCounts: direct neighbors and self are excluded") {
    // triangle 1-2-3: every 2-hop target is also a direct neighbor
    val g = sym(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(GraphStats.twoHopCounts(g.toDF("src", "dst")).count() === 0L)
  }

  test("twoHopCounts matches driver-side brute force on random graphs") {
    val rnd = new scala.util.Random(83)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(80)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(p => p._1 != p._2)
      val adj = sym(pairs).distinct.groupBy(_._1)
        .map { case (n, es) => n -> es.map(_._2).toSet }
      val expect = adj.flatMap { case (n, nbrs) =>
        val twoHop = nbrs.flatMap(m => adj.getOrElse(m, Set.empty)) - n -- nbrs
        if (twoHop.nonEmpty) Some(n -> twoHop.size.toLong) else None
      }
      val got = GraphStats.twoHopCounts(sym(pairs).toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expect, s"trial=$trial")
    }
  }

  test("degreeHistogram: star graph — hub degree n, leaves degree 1") {
    val g = sym((2L to 7L).map(i => (1L, i)))
    val got = GraphStats.degreeHistogram(g.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(6L -> 1L, 1L -> 6L))
  }

  test("clusteringComponents: triangle with a pendant node") {
    val g = sym(Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)))
    val got = GraphStats.clusteringComponents(g.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((3L, 1L)), 2L -> ((2L, 1L)),
      3L -> ((2L, 1L)), 4L -> ((1L, 0L))))
  }

  test("clusteringComponents: two triangles sharing an edge") {
    val g = sym(Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)))
    val got = GraphStats.clusteringComponents(g.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((3L, 2L)), 2L -> ((3L, 2L)),
      3L -> ((2L, 1L)), 4L -> ((2L, 1L))))
  }

  test("assortativityComponents: star graph — disassortative components") {
    // star hub 1 with 5 leaves: hub deg 5, leaves deg 1; 10 directed edges
    val n = 5L
    val g = sym((2L to 6L).map(i => (1L, i)))
    val Array(r) = GraphStats.assortativityComponents(g.toDF("src", "dst")).collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((2 * n, 2 * n * n, n * n + n, n * n * n + n)))
  }

  test("assortativityComponents matches brute force on random graphs") {
    val rnd = new scala.util.Random(911)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(70)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(p => p._1 != p._2)
      val edges = sym(pairs).distinct
      val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
      val expect = (
        edges.size.toLong,
        edges.map { case (a, b) => deg(a) * deg(b) }.sum,
        edges.map { case (a, _) => deg(a) }.sum,
        edges.map { case (a, _) => deg(a) * deg(a) }.sum)
      val Array(r) = GraphStats.assortativityComponents(edges.toDF("src", "dst"))
        .collect()
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === expect,
        s"trial=$trial")
    }
  }

  test("clusteringComponents matches brute force on random graphs") {
    val rnd = new scala.util.Random(331)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(60)((rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
        .filter(p => p._1 != p._2)
      val adj = sym(pairs).distinct.groupBy(_._1)
        .map { case (n, es) => n -> es.map(_._2).toSet }
      val expect = adj.map { case (n, nbrs) =>
        val tri = nbrs.toSeq.combinations(2)
          .count { case Seq(x, y) => adj(x)(y) }
        n -> ((nbrs.size.toLong, tri.toLong))
      }
      val got = GraphStats.clusteringComponents(sym(pairs).toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === expect, s"trial=$trial")
    }
  }

  test("reciprocityComponents: hand case — mutual pair, one-way edge, self-loop dropped") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (4L, 4L), (1L, 2L))
      .toDF("src", "dst")
    val got = GraphStats.reciprocityComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(got === ((3L, 2L))) // edges 1→2, 2→1, 1→3; mutual: both of the pair
  }

  test("reciprocityComponents ≡ brute force on random directed graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x6C)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(80)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
        .filter(p => p._1 != p._2).distinct
      val set = pairs.toSet
      val expect = (pairs.size.toLong,
        pairs.count(p => set((p._2, p._1))).toLong)
      val got = GraphStats.reciprocityComponents(pairs.toDF("src", "dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).head
      assert(got === expect, s"trial=$trial")
    }
  }

  private def histo(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    val sym = edges ++ edges.map(_.swap)
    GraphStats.pseudoDiameter(sym.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pseudoDiameter: path graph — second sweep spans the full diameter") {
    // 1-2-3-4-5: sweep 1 from node 1 finds far node 5; sweep 2 from 5
    // reaches one node at each distance 0..4
    val got = histo(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(got === Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("pseudoDiameter: mid-path seed still lands the true path diameter") {
    // min node 1 sits mid-path (3-1-2-4-5 relabeled): first sweep from 1
    // must pick the FARTHER end before the second sweep measures 4
    val got = histo(Seq((3L, 1L), (1L, 2L), (2L, 4L), (4L, 5L)))
    assert(got.keys.max === 4L)
    assert(got.values.sum === 5L)
  }

  test("pseudoDiameter: star graph has eccentricity 2 from any leaf") {
    val got = histo((2L to 6L).map(i => (1L, i)))
    assert(got === Map(0L -> 1L, 1L -> 1L, 2L -> 4L))
  }

  test("pseudoDiameter: only the seed's component is profiled") {
    // component {1,2} (contains min node) + far component {10,11,12}
    val got = histo(Seq((1L, 2L), (10L, 11L), (11L, 12L)))
    assert(got === Map(0L -> 1L, 1L -> 1L))
  }

  test("pseudoDiameter: empty edge frame yields an empty profile") {
    assert(histo(Nil) === Map.empty)
  }

  test("pseudoDiameter: far-node tie breaks to the smaller node id") {
    // star from 1: leaves 2..4 all at dist 1; far node must be 2 —
    // pin by checking the histogram equals BFS-from-2's profile
    val got = histo(Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    assert(got === Map(0L -> 1L, 1L -> 1L, 2L -> 2L))
  }

  private def rects(edges: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long)] =
    GraphStats.fourCycles(edges.toDF("a", "b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap

  test("fourCycles: C4 — both opposite pairs see 2 paths, 1 rectangle") {
    val got = rects(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(got === Map((1L, 3L) -> ((2L, 1L)), (2L, 4L) -> ((2L, 1L))))
  }

  test("fourCycles: K4 has 3 rectangles, each counted under 2 pairs") {
    val got = rects(Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(got.size === 6 && got.values.forall(_ == ((2L, 1L))))
    assert(got.values.map(_._2).sum === 6L) // = 2 × 3 four-cycles
  }

  test("fourCycles: tree has none") {
    assert(rects(Seq((1L, 2L), (2L, 3L), (2L, 4L), (4L, 5L))).isEmpty)
  }

  test("fourCycles ≡ brute-force common-neighbor census on a random graph") {
    val rnd = new scala.util.Random(0x4C)
    val edges = (for (a <- 1L to 14L; b <- (a + 1) to 14L
      if rnd.nextInt(100) < 30) yield (a, b)).distinct
    val nbr = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).toSet }
      .withDefaultValue(Set.empty[Long])
    val expect = (for {
      u <- 1L to 14L; w <- (u + 1) to 14L
      p = (nbr(u) intersect nbr(w)).size.toLong
      if p >= 2
    } yield (u, w) -> ((p, p * (p - 1) / 2))).toMap
    assert(rects(edges) === expect)
  }

  private def bip(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    GraphStats.bipartiteComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("bipartiteComponents: even cycle yes, odd cycle no, path yes") {
    val got = bip(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), // C4 → bipartite
      (10L, 11L), (11L, 12L), (12L, 10L),     // triangle → odd cycle
      (20L, 21L), (21L, 22L)))                // path → bipartite
    assert(got === Map(1L -> ((4L, 1L)), 10L -> ((3L, 0L)), 20L -> ((3L, 1L))))
  }

  test("bipartiteComponents: odd cycle anywhere poisons its whole component") {
    // triangle with a long bipartite tail hanging off it
    val got = bip(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)))
    assert(got === Map(1L -> ((6L, 0L))))
  }

  test("bipartiteComponents ≡ brute 2-coloring on a random graph") {
    val rnd = new scala.util.Random(0x5E)
    val edges = (for (a <- 1L to 20L; b <- (a + 1) to 20L
      if rnd.nextInt(100) < 12) yield (a, b)).distinct
    val nbr = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).toSet }
      .withDefaultValue(Set.empty[Long])
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    // brute: BFS components + 2-coloring
    var seen = Set.empty[Long]
    val expect = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    nodes.foreach { s =>
      if (!seen(s)) {
        var color = Map(s -> 0)
        var frontier = List(s); var ok = true
        while (frontier.nonEmpty) {
          val v = frontier.head; frontier = frontier.tail
          nbr(v).foreach { u =>
            if (!color.contains(u)) {
              color += u -> (1 - color(v)); frontier ::= u
            } else if (color(u) == color(v)) ok = false
          }
        }
        seen ++= color.keySet
        expect(color.keys.min) = ((color.size.toLong, if (ok) 1L else 0L))
      }
    }
    assert(bip(edges) === expect.toMap)
  }
}
