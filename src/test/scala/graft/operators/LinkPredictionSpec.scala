package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class LinkPredictionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def sym(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    (es ++ es.map(e => (e._2, e._1))).toDF("src", "dst")
  }

  test("hand graph: counts common neighbors, drops existing edges") {
    // path 1-2-3 plus 1-4, 3-4: non-edge (1,3) has witnesses {2,4};
    // (2,4) has witnesses {1,3}; edge (1,4) itself must not appear
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L), (3L, 4L))
    val got = GraphStats.linkPrediction(sym(edges), hubCap = 64, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 3L) -> 2L, (2L, 4L) -> 2L))
  }

  test("hubCap suppresses high-degree witnesses only") {
    // star center 99 connects 1..5 (deg 5); 1-2 also share low-deg 50
    val edges = (1L to 5L).map(i => (99L, i)) ++ Seq((50L, 1L), (50L, 2L))
    val capped = GraphStats.linkPrediction(sym(edges), hubCap = 4, topK = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 99 (deg 5) excluded as a middle: (1,2) keeps only witness 50;
    // (50,99) keeps both its witnesses 1 and 2 (deg 2 each)
    assert(capped == Map((1L, 2L) -> 1L, (50L, 99L) -> 2L))
    val uncapped = GraphStats.linkPrediction(sym(edges), hubCap = 64, topK = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(uncapped((1L, 2L)) == 2L)   // both 99 and 50 witness
    assert(uncapped((3L, 4L)) == 1L)
    assert(uncapped((50L, 99L)) == 2L)
  }

  test("RA variant weights witnesses by 10^9 div degree") {
    // non-edge (1,3) has witnesses 2 (deg 2) and 4 (deg 3):
    // ra = 1e9/2 + 1e9/3 (floored) — the deg-2 witness counts more
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L), (3L, 4L), (4L, 5L))
    val got = GraphStats.linkPredictionRa(sym(edges), hubCap = 64, topK = 10)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got((1L, 3L)) == ((2L, 500000000L + 333333333L)))
    // (2,4)'s witnesses are 1 and 3, both deg 2
    assert(got((2L, 4L)) == ((2L, 1000000000L)))
    // (1,5) and (3,5) share only deg-3 witness 4
    assert(got((1L, 5L)) == ((1L, 333333333L)))
    assert(got((3L, 5L)) == ((1L, 333333333L)))
    assert(!got.contains((2L, 5L)) || got((2L, 5L))._1 == 0L)
  }

  test("edgeEmbeddedness: triangle edges embedded, bridge at cn 0") {
    // triangle 1-2-3 plus pendant 3-4: edge (3,4) is a local bridge
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val got = GraphStats.edgeEmbeddedness(sym(edges), hubCap = 64, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      (3L, 4L) -> ((0L, 3L, 1L)),
      (1L, 2L) -> ((1L, 2L, 2L)),
      (1L, 3L) -> ((1L, 2L, 3L)),
      (2L, 3L) -> ((1L, 2L, 3L))))
    // the weakest tie orders first
    val first = GraphStats.edgeEmbeddedness(sym(edges), hubCap = 64, topK = 1)
      .collect().head
    assert((first.getLong(0), first.getLong(1)) == ((3L, 4L)))
  }

  test("random graph matches brute force under the cap") {
    val rnd = new scala.util.Random(7)
    val es = (1 to 200).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val cap = 6L
    val adj = es.flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val deg = adj.map { case (k, v) => k -> v.size.toLong }
    val set = es.toSet
    val expected = (for {
      a <- adj.keys; b <- adj.keys if a < b && !set((a, b))
      cn = adj(a).intersect(adj(b)).count(m => deg(m) <= cap)
      if cn > 0
    } yield (a, b) -> cn.toLong).toMap
    val got = GraphStats.linkPrediction(sym(es), hubCap = cap, topK = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }
}
