package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HierarchySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("rootAndDepth: hand forest with null-parent and self-parent roots") {
    import spark.implicits._
    // two trees: 1 <- 2 <- 4, 1 <- 3  (root 1, self-parent)
    //            10 <- 11           (root 10, null parent)
    val nodes = Seq(
      (1L, Some(1L)), (2L, Some(1L)), (3L, Some(1L)), (4L, Some(2L)),
      (10L, None: Option[Long]), (11L, Some(10L))
    ).toDF("id", "parent")
    val got = Hierarchy.rootAndDepth(nodes, "id", "parent")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 1L), (4L, 1L, 2L),
      (10L, 10L, 0L), (11L, 10L, 1L)))
  }

  test("rootAndDepth: deep chain needs O(log depth) rounds, matches walk") {
    import spark.implicits._
    // one chain 0 <- 1 <- 2 <- ... <- 200: depth(k) = k
    val n = 200
    val nodes = (0 to n).map(k => (k.toLong, math.max(0, k - 1).toLong))
      .toDF("id", "parent").repartition(5)
    val got = Hierarchy.rootAndDepth(nodes, "id", "parent")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == n + 1)
    assert(got.forall { case (id, root, depth) => root == 0L && depth == id })
    // a one-step walk would need 200 rounds; the default maxRounds=40
    // passing at depth 200 is itself evidence of doubling
  }

  test("rootAndDepth: random forest matches driver-side walk, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // parent(k) < k guarantees a DAG/forest; k < 5 are roots
    val parents = (0 until 300).map(k =>
      if (k < 5) k.toLong else rnd.nextInt(k).toLong).toArray
    def walk(k: Int): (Long, Long) = {
      var cur = k; var d = 0L
      while (parents(cur) != cur) { cur = parents(cur).toInt; d += 1 }
      (cur.toLong, d)
    }
    val expected = (0 until 300).map(k => (k.toLong, walk(k)._1, walk(k)._2)).toSet
    for (parts <- Seq(1, 7)) {
      val nodes = (0 until 300).map(k => (k.toLong, parents(k)))
        .toDF("id", "parent").repartition(parts)
      val got = Hierarchy.rootAndDepth(nodes, "id", "parent")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"parts=$parts")
    }
  }

  test("rootAndDepth/subtreeAgg: shuffled fallbacks (no broadcast hints) are bit-identical") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val parents = (0 until 120).map(k =>
      if (k < 3) k.toLong else rnd.nextInt(k).toLong).toArray
    val nodes = (0 until 120).map(k => (k.toLong, parents(k), k.toLong % 7))
      .toDF("id", "parent", "v")
    val rdHint = Hierarchy.rootAndDepth(nodes, "id", "parent")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rdPlain = NoBroadcast(spark) {
      Hierarchy.rootAndDepth(nodes, "id", "parent")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(rdPlain === rdHint)
    val saHint = Hierarchy.subtreeAgg(nodes, "id", "parent", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val saPlain = NoBroadcast(spark) {
      Hierarchy.subtreeAgg(nodes, "id", "parent", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(saPlain === saHint)
  }

  test("rootAndDepth: a cycle fails the convergence guard instead of looping") {
    import spark.implicits._
    val nodes = Seq((1L, 2L), (2L, 1L)).toDF("id", "parent")
    val e = intercept[IllegalArgumentException] {
      Hierarchy.rootAndDepth(nodes, "id", "parent", maxRounds = 6).collect()
    }
    assert(e.getMessage.contains("not converged"))
  }

  private def subtree(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    Hierarchy.subtreeAgg(rows.toDF("id", "parent", "v"), "id", "parent", "v")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("subtreeAgg: hand tree — counts and sums include the whole subtree") {
    //        1(10)
    //       /     \
    //     2(20)   3(30)
    //     /  \
    //   4(40) 5(50)
    val rows = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L),
      (4L, 2L, 40L), (5L, 2L, 50L))
    assert(subtree(rows) == Map(
      1L -> (5L, 150L), 2L -> (3L, 110L), 3L -> (1L, 30L),
      4L -> (1L, 40L), 5L -> (1L, 50L)))
  }

  test("subtreeAgg: matches a driver-side walk on a random forest, deep chain included") {
    import spark.implicits._
    val rnd = new scala.util.Random(116)
    // 3 roots; node i attaches to a random earlier node — plus a long
    // chain hanging off node 50 to force several squaring rounds
    val base = (1L to 3L).map(i => (i, i, i * 100)) ++
      (4L to 120L).map(i => (i, 1L + rnd.nextInt(i.toInt - 1), i)) ++
      (200L to 260L).map(i => (i, if (i == 200L) 50L else i - 1, 1L))
    val parentOf = base.map(r => r._1 -> r._2).toMap
    def ancs(x: Long): Seq[Long] =
      if (parentOf(x) == x) Seq(x) else x +: ancs(parentOf(x))
    val expect = base.map { case (id, _, _) =>
      val inSub = base.filter(r => ancs(r._1).contains(id))
      id -> (inSub.size.toLong, inSub.map(_._3).sum)
    }.toMap
    assert(subtree(base) == expect)
  }

  test("subtreeAgg: cycles and dangling parents raise") {
    import spark.implicits._
    val cyc = Seq((1L, 2L, 1L), (2L, 1L, 1L))
    val e1 = intercept[IllegalArgumentException] { subtree(cyc) }
    assert(e1.getMessage.contains("cycle") || e1.getMessage.contains("not converged"))
    val dang = Seq((1L, 1L, 1L), (2L, 99L, 1L))
    val e2 = intercept[IllegalArgumentException] { subtree(dang) }
    assert(e2.getMessage.contains("not themselves nodes"))
  }
}
