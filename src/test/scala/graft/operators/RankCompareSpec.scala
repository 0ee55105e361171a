package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class RankCompareSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val S = RankCompare.Scale

  private def table(rows: Seq[(String, Long, Long)], k: Int) = {
    import spark.implicits._
    RankCompare.rboDepthTable(rows.toDF("item", "a", "b"), "item", "a", "b", k)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
  }

  test("identical rankings: overlap d at every depth, weights halve") {
    val rows = Seq(("x", 30L, 300L), ("y", 20L, 200L), ("z", 10L, 100L))
    val got = table(rows, k = 3)
    // d=2: (2S div 2) >> 1 = S/2 ; d=3: (3S div 3) >> 2 = S/4
    assert(got === Array(
      (1, 1L, S), (2, 2L, S / 2), (3, 3L, S / 4)))
  }

  test("reversed rankings: overlap grows only where prefixes meet") {
    val rows = Seq(("x", 30L, 100L), ("y", 20L, 200L), ("z", 10L, 300L))
    // A: x y z ; B: z y x → overlaps at d=1: 0, d=2: {x,y}∩{z,y}=1, d=3: 3
    val got = table(rows, k = 3)
    assert(got === Array(
      (1, 0L, 0L), (2, 1L, S / 2 / 2), (3, 3L, S / 4)))
  }

  test("score ties break by item name ascending in both rankings") {
    val rows = Seq(("b", 10L, 10L), ("a", 10L, 10L), ("c", 99L, 1L))
    // A: c a b ; B: a b c
    val got = table(rows, k = 2)
    assert(got === Array((1, 0L, 0L), (2, 1L, S / 2 / 2)))
  }

  test("k beyond the item count pads overlap at the full intersection") {
    val rows = Seq(("x", 1L, 1L))
    val got = table(rows, k = 3)
    assert(got === Array((1, 1L, S), (2, 1L, S / 2 / 2), (3, 1L, S / 3 / 4)))
  }

  test("matches a driver RBO reference on a permuted 8-item universe") {
    val items = ('a' to 'h').map(_.toString)
    val a = items.zipWithIndex.map { case (s, i) => s -> (100L - i) }.toMap
    val perm = Seq("c", "a", "h", "b", "f", "g", "d", "e")
    val b = perm.zipWithIndex.map { case (s, i) => s -> (100L - i) }.toMap
    val rows = items.map(s => (s, a(s), b(s)))
    val topA = items.sortBy(s => (-a(s), s))
    val topB = items.sortBy(s => (-b(s), s))
    val expect = (1 to 8).map { d =>
      val ov = topA.take(d).toSet.intersect(topB.take(d).toSet).size.toLong
      (d, ov, (ov * S / d) >> (d - 1))
    }
    assert(table(rows, k = 8).toSeq === expect)
  }
}
