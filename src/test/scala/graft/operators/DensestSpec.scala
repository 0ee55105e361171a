package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class DensestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def profile(edges: Seq[(Long, Long)], maxRounds: Int = 30) = {
    import spark.implicits._
    val sym = edges ++ edges.map(_.swap)
    Densest.peelProfile(sym.toDF("src", "dst"), maxRounds)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toList
  }

  /** Driver re-implementation of the same peel for reference. */
  private def reference(edges: Seq[(Long, Long)]): List[(Int, Long, Long)] = {
    var es = (edges ++ edges.map(_.swap)).filter(p => p._1 != p._2).distinct
    val out = scala.collection.mutable.ListBuffer.empty[(Int, Long, Long)]
    var round = 0
    while (es.nonEmpty) {
      val deg = es.groupBy(_._1).map { case (n, xs) => n -> xs.size.toLong }
      val n = deg.size.toLong
      val m2 = deg.values.sum
      out += ((round, n, m2 / 2))
      val keep = deg.filter { case (_, d) => d * n * 2 > 3 * m2 }.keySet
      es = es.filter(p => keep(p._1) && keep(p._2))
      round += 1
    }
    out.toList
  }

  test("clique + pendant path: the peel strips the path, keeps the clique") {
    // K8 on 1..8 plus a 20-node path hanging off node 8: clique degrees
    // (7–8) clear the 1.5·avg ≈ 5.1 bar, path degrees (1–2) don't
    val k8 = for (i <- 1L to 8L; j <- (i + 1) to 8L) yield (i, j)
    val path = (0L until 20L).map(i =>
      (if (i == 0) 8L else 100L + i - 1, 100L + i))
    val edges = k8 ++ path
    val got = profile(edges)
    assert(got === reference(edges))
    // round 1 retains exactly the 8-clique core
    assert(got.find(_._1 == 1).get === ((1, 8L, 28L)))
  }

  test("a regular graph (cycle) peels to empty in one round") {
    val n = 8L
    val cycle = (0L until n).map(i => (i, (i + 1) % n))
    // every deg = 2 = avg → 2·deg·n = 4n·? ≤ 3·m2 ⇔ 4·2·n ≤ 3·2n·2... all removed
    assert(profile(cycle) === List((0, n, n)))
  }

  test("matches the driver reference on random graphs") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(120)(
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(p => p._1 != p._2).distinct
      assert(profile(edges) === reference(edges), s"trial=$trial")
    }
  }

  test("maxRounds raise names the operator") {
    // K8 + path needs two peel rounds; maxRounds = 1 must raise
    val k8 = for (i <- 1L to 8L; j <- (i + 1) to 8L) yield (i, j)
    val edges = k8 ++ (0L until 20L).map(i =>
      (if (i == 0) 8L else 100L + i - 1, 100L + i))
    val ex = intercept[Exception] { profile(edges, maxRounds = 1) }
    assert(ex.getMessage.contains("peelProfile"))
  }

  test("empty input yields an empty profile") {
    assert(profile(Nil) === Nil)
  }
}
