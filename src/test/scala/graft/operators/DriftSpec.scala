package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class DriftSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def run(rows: Seq[(String, Long, String)]): Map[(String, Long), (Long, Long, Long)] = {
    import spark.implicits._
    Drift.l1Adjacent(rows.toDF("e", "p", "b"), "e", "p", "b")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
  }

  test("l1Adjacent: hand case — shifted mass, vanished bucket, first period vs empty") {
    // p=1: x:2 y:1; p=2: x:1 z:2  → l1(2) = |1-2| + |0-1| + |2-0| = 4
    val rows = Seq(("e", 1L, "x"), ("e", 1L, "x"), ("e", 1L, "y"),
      ("e", 2L, "x"), ("e", 2L, "z"), ("e", 2L, "z"))
    val got = run(rows)
    assert(got(("e", 1L)) === ((3L, 3L, 0L)))  // drifts against empty p=0
    assert(got(("e", 2L)) === ((4L, 3L, 3L)))
    assert(got(("e", 3L)) === ((3L, 0L, 3L)))  // p=2's counts seen from empty p=3
  }

  test("l1Adjacent: identical adjacent periods drift zero") {
    val rows = Seq(("e", 5L, "x"), ("e", 5L, "y"), ("e", 6L, "x"), ("e", 6L, "y"))
    assert(run(rows)(("e", 6L)) === ((0L, 2L, 2L)))
  }

  test("l1Adjacent: non-adjacent periods never pair (calendar, not last-observed)") {
    // p=1 and p=5: no (prev+1 = cur) pair exists between them
    val rows = Seq(("e", 1L, "x"), ("e", 5L, "x"))
    val got = run(rows)
    assert(got(("e", 1L)) === ((1L, 1L, 0L)))
    assert(got(("e", 5L)) === ((1L, 1L, 0L)))  // vs empty p=4, NOT vs p=1
    assert(got(("e", 2L)) === ((1L, 0L, 1L)))
    assert(got(("e", 6L)) === ((1L, 0L, 1L)))
  }

  test("l1Adjacent ≡ driver-side reference on random histograms") {
    val rnd = new scala.util.Random(0xD1)
    val rows = for {
      e <- Seq("a", "b")
      _ <- 1 to 300
    } yield (e, (1 + rnd.nextInt(6)).toLong, s"b${rnd.nextInt(5)}")
    val expect = rows.groupBy(_._1).flatMap { case (e, rs) =>
      val byPB = rs.groupBy(r => (r._2, r._3)).map { case (k, v) => k -> v.size.toLong }
      val periods = rs.map(_._2).distinct.flatMap(p => Seq(p, p + 1)).distinct
      periods.map { p =>
        val buckets = (byPB.keySet.filter(_._1 == p) ++
          byPB.keySet.filter(_._1 == p - 1).map(k => (p, k._2))).map(_._2)
        val l1 = buckets.toSeq.map { b =>
          math.abs(byPB.getOrElse((p, b), 0L) - byPB.getOrElse((p - 1, b), 0L))
        }.sum
        val nc = byPB.collect { case ((pp, _), n) if pp == p => n }.sum
        val np = byPB.collect { case ((pp, _), n) if pp == p - 1 => n }.sum
        (e, p) -> ((l1, nc, np))
      }.filter { case (_, (l1, nc, np)) => l1 != 0 || nc != 0 || np != 0 }
    }
    assert(run(rows) === expect)
  }
}
