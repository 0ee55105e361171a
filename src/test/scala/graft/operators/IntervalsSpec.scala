package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  test("mergeIntervals: overlap merges, touching chains, gap splits") {
    val df = Seq(
      // key a: [0,10) + [5,15) overlap; [15,20) touches (half-open ->
      // same island); [25,30) gaps -> second island
      ("a", 1L, 0L, 10L), ("a", 2L, 5L, 15L), ("a", 3L, 15L, 20L),
      ("a", 4L, 25L, 30L),
      // key b: nested interval stays inside its container
      ("b", 5L, 0L, 100L), ("b", 6L, 10L, 20L))
      .toDF("k", "id", "s", "e")
    val out = Intervals.mergeIntervals(df, "k", "id", "s", "e")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out === Map(
      ("a", 1L) -> ((0L, 20L, 3L)),
      ("a", 2L) -> ((25L, 30L, 1L)),
      ("b", 1L) -> ((0L, 100L, 2L))))
  }

  test("mergeIntervals matches a driver-side sweep on random intervals") {
    val rnd = new scala.util.Random(29)
    val rows = for (k <- 0 until 6; i <- 0 until (rnd.nextInt(30) + 1)) yield {
      val s = rnd.nextInt(200).toLong
      (s"k$k", (k * 1000 + i).toLong, s, s + 1 + rnd.nextInt(20))
    }
    def sweep(iv: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
      val sorted = iv.sorted
      val islands = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      for ((s, e) <- sorted) {
        if (islands.nonEmpty && s <= islands.last._2) {
          val (is, ie, n) = islands.last
          islands(islands.size - 1) = (is, math.max(ie, e), n + 1)
        } else islands += ((s, e, 1L))
      }
      islands.toSeq
    }
    val expect = rows.groupBy(_._1).flatMap { case (k, rs) =>
      sweep(rs.map(r => (r._3, r._4))).zipWithIndex.map { case ((s, e, n), i) =>
        (k, i + 1L) -> ((s, e, n))
      }
    }
    val got = Intervals.mergeIntervals(rows.toDF("k", "id", "s", "e"),
        "k", "id", "s", "e")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expect)
  }
}
