package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ChangepointSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def run(rows: Seq[(String, Long, Long)]): Map[String, (Long, Long, Long, String)] = {
    import spark.implicits._
    Changepoint.cusumArgmax(rows.toDF("g", "o", "v"), "g", "o", "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
  }

  test("planted level shift: peak lands at the shift boundary") {
    // 5 points of 10 then 5 points of 110 — the deviation from uniform
    // growth peaks at the last low point (i=5): |10·50 − 5·600| = 2500
    val rows = (1L to 5L).map(i => ("a", i, 10L)) ++
      (6L to 10L).map(i => ("a", i, 110L))
    assert(run(rows) == Map("a" -> ((10L, 600L, 5L, "2500"))))
  }

  test("uniform series: statistic is zero everywhere, argmax = first point") {
    val rows = (1L to 8L).map(i => ("u", i, 7L))
    assert(run(rows) == Map("u" -> ((8L, 56L, 1L, "0"))))
  }

  test("matches a driver-side brute force on random series (incl. ties)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 10) {
      val n = 2 + rnd.nextInt(30)
      // small value domain to provoke statistic ties
      val vs = (1 to n).map(_ => rnd.nextInt(4).toLong)
      val rows = vs.zipWithIndex.map { case (v, i) => ("g", (i + 1).toLong, v) }
      val tot = vs.sum
      val stats = vs.scanLeft(0L)(_ + _).drop(1).zipWithIndex.map {
        case (s, i0) => math.abs(n.toLong * s - (i0 + 1).toLong * tot)
      }
      val mx = stats.max
      val peak = (stats.indexWhere(_ == mx) + 1).toLong
      assert(run(rows) == Map("g" -> ((n.toLong, tot, peak, mx.toString))),
        s"trial $trial vs=$vs")
    }
  }

  test("groups are independent") {
    val rows = Seq(("a", 1L, 0L), ("a", 2L, 100L), ("b", 1L, 5L))
    val got = run(rows)
    // a: stats |2·0−1·100|=100 at i=1, |2·100−2·100|=0 → peak ord 1
    assert(got("a") == ((2L, 100L, 1L, "100")))
    // single-point group: stat |1·5−1·5| = 0
    assert(got("b") == ((1L, 5L, 1L, "0")))
  }

  private def alarms(rows: Seq[(String, Long, Long, Long)], ref: Long,
                     h: Long): Seq[(String, Long, Long, Long, Long)] = {
    import spark.implicits._
    Changepoint.cusumAlarms(rows.toDF("g", "us", "id", "v"),
        "g", "us", "id", "v", ref, h)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sortBy(t => (t._1, t._2))
  }

  /** Page recursion reference: gap_i = max(0, gap_{i-1} + (v_i − ref)). */
  private def brutePage(vs: Seq[(Long, Long, Long)], ref: Long,
                        h: Long): Seq[(Long, Long, Long)] = {
    var gap = 0L; var cum = 0L
    vs.sortBy(t => (t._1, t._2)).flatMap { case (us, id, v) =>
      cum += v - ref
      gap = math.max(0L, gap + (v - ref))
      if (gap >= h) Some((us, id, gap)) else None
    }
  }

  test("cusumAlarms ≡ Page's recursion gap = max(0, gap + d) per group") {
    val rnd = new scala.util.Random(0x6F)
    val rows = for {
      g <- Seq("g1", "g2", "g3"); i <- 1L to 60L
    } yield (g, 1000L * i, i, rnd.nextLong(200).abs)
    val got = alarms(rows, ref = 90L, h = 300L)
    val expect = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      brutePage(rs.map(t => (t._2, t._3, t._4)), 90L, 300L)
        .map { case (us, id, gap) => (g, us, id, gap) }
    }.sortBy(t => (t._1, t._2))
    assert(got.map(t => (t._1, t._2, t._3, t._5)) === expect)
  }

  test("cusumAlarms: S₀ = 0 baseline — a lone first spike below h stays quiet") {
    // first value +100 over ref: with a bare window min the baseline
    // would be the spike itself (gap 0 forever after); with S₀ = 0 the
    // spike IS the gap
    val got = alarms(Seq(("s", 1L, 1L, 100L), ("s", 2L, 2L, 0L)), 0L, 150L)
    assert(got.isEmpty)
    val got2 = alarms(Seq(("s", 1L, 1L, 100L), ("s", 2L, 2L, 100L)), 0L, 150L)
    assert(got2.map(t => (t._3, t._5)) === Seq((2L, 200L)))
  }

  test("firstAlarms: first crossing by (us, id) + total alarm-row count") {
    import spark.implicits._
    val rows = Seq(("g", 10L, 1L, 50L), ("g", 20L, 2L, 50L),
      ("g", 30L, 3L, 50L), ("x", 10L, 9L, 1L))
    val got = Changepoint.firstAlarms(rows.toDF("g", "us", "id", "v"),
        "g", "us", "id", "v", ref = 0L, threshold = 100L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map("g" -> ((20L, 2L, 100L, 2L))))
  }
}
