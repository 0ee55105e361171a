package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class RankStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def run(rows: Seq[(String, String, Long)]): Map[String, (Long, Long, Long)] = {
    import spark.implicits._
    RankStats.mannWhitney2U(rows.toDF("st", "fl", "v"), "st", "fl", "v", "A", "B")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  /** 2U_A by the definition: 2·#{(a,b): a > b} + #{ties}. */
  private def brute(as: Seq[Long], bs: Seq[Long]): Long =
    as.map(a => 2L * bs.count(_ < a) + bs.count(_ == a)).sum

  test("mannWhitney2U: hand case with ties across sides") {
    // A = {3, 5}, B = {3, 4}: pairs — (3,3) tie, (3,4) less, (5,3) greater,
    // (5,4) greater → 2U = 2*2 + 1 = 5
    val got = run(Seq(("s", "A", 3L), ("s", "A", 5L), ("s", "B", 3L), ("s", "B", 4L)))
    assert(got === Map("s" -> ((2L, 2L, 5L))))
  }

  test("mannWhitney2U: one-sided stratum (no A rows) gives 2U = 0") {
    val got = run(Seq(("s", "B", 1L), ("s", "B", 2L)))
    assert(got === Map("s" -> ((0L, 2L, 0L))))
  }

  test("mannWhitney2U: rows outside {A, B} are excluded") {
    val got = run(Seq(("s", "A", 2L), ("s", "B", 1L), ("s", "C", 100L)))
    assert(got === Map("s" -> ((1L, 1L, 2L))))
  }

  test("mannWhitney2U ≡ brute-force pair count on random strata") {
    val rnd = new scala.util.Random(0x2B)
    val rows = for {
      st <- Seq("s1", "s2", "s3")
      _ <- 1 to (30 + rnd.nextInt(70))
    } yield (st, if (rnd.nextBoolean()) "A" else "B", rnd.nextInt(20).toLong)
    val expect = rows.groupBy(_._1).map { case (st, rs) =>
      val as = rs.filter(_._2 == "A").map(_._3)
      val bs = rs.filter(_._2 == "B").map(_._3)
      st -> ((as.size.toLong, bs.size.toLong, brute(as, bs)))
    }
    assert(run(rows) === expect)
  }

  test("mannWhitney2U: complementary property 2U_A + 2U_B = 2·n_a·n_b on tie-free data") {
    val rnd = new scala.util.Random(0x2C)
    val vals = rnd.shuffle((1 to 60).toList).map(_.toLong)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      ("s", if (i % 3 == 0) "A" else "B", v)
    }
    val (na, nb, twoUA) = run(rows)("s")
    val swapped = rows.map { case (st, fl, v) => (st, if (fl == "A") "B" else "A", v) }
    val (_, _, twoUB) = run(swapped)("s")
    assert(twoUA + twoUB === 2L * na * nb)
  }

  private def runKs(rows: Seq[(String, String, Long)])
      : Map[String, (Long, Long, String, String, Long)] = {
    import spark.implicits._
    RankStats.ksStat(rows.toDF("st", "fl", "v"), "st", "fl", "v", "A", "B")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getLong(5)))).toMap
  }

  /** KS by the definition: for every pooled distinct v, the exact gap
    * |n_b·cumA(v) − n_a·cumB(v)| as BigInt; return (max, smallest v at
    * max). */
  private def bruteKs(as: Seq[Long], bs: Seq[Long]): (BigInt, Long) = {
    val vs = (as ++ bs).distinct.sorted
    val gaps = vs.map { v =>
      val cumA = as.count(_ <= v); val cumB = bs.count(_ <= v)
      (BigInt(cumA) * bs.size - BigInt(cumB) * as.size).abs -> v
    }
    val m = gaps.map(_._1).max
    (m, gaps.filter(_._1 == m).map(_._2).min)
  }

  test("ksStat ≡ brute-force CDF gap on random strata with ties") {
    val rnd = new scala.util.Random(0x53)
    val rows = for {
      st <- Seq("s1", "s2", "s3")
      i <- 1 to (30 + rnd.nextInt(40))
    } yield (st, if (rnd.nextBoolean()) "A" else "B",
      // shifted distribution for B so D is nontrivial; small range
      // forces heavy ties
      (rnd.nextInt(12) + (if (st == "s2") 3 else 0)).toLong)
    val got = runKs(rows)
    Seq("s1", "s2", "s3").foreach { st =>
      val as = rows.filter(r => r._1 == st && r._2 == "A").map(_._3)
      val bs = rows.filter(r => r._1 == st && r._2 == "B").map(_._3)
      val (m, vAt) = bruteKs(as, bs)
      val (na, nb, num, den, v) = got(st)
      assert(na === as.size.toLong && nb === bs.size.toLong)
      assert(num === m.toString, s"$st num")
      assert(den === (BigInt(as.size) * bs.size).toString, s"$st den")
      assert(v === vAt, s"$st v_at_max")
    }
  }

  test("ksStat: NULL values are excluded from both samples") {
    import spark.implicits._
    // engines sort NULLs at opposite ends — a null row must not enter
    // either CDF (the Kmv null-key rule); with the nulls dropped this
    // is the identical-samples case
    val rows: Seq[(String, String, java.lang.Long)] = Seq(
      ("s", "A", java.lang.Long.valueOf(5L)), ("s", "B", java.lang.Long.valueOf(5L)),
      ("s", "A", null), ("s", "B", null), ("s", "B", null))
    val got = RankStats.ksStat(rows.toDF("st", "fl", "v"),
        "st", "fl", "v", "A", "B")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(got === ((1L, 1L, "0")))
  }

  test("ksStat: identical samples give D = 0; disjoint give D = n_a·n_b") {
    // identical A/B multisets → every gap 0, v_at_max = smallest value
    val same = Seq(("s", "A", 5L), ("s", "B", 5L), ("s", "A", 9L), ("s", "B", 9L))
    val (_, _, num0, _, v0) = runKs(same)("s")
    assert(num0 === "0" && v0 === 5L)
    // fully separated samples → sup gap = n_a·n_b at A's max
    val sep = Seq(("s", "A", 1L), ("s", "A", 2L), ("s", "B", 10L), ("s", "B", 11L))
    val (_, _, num1, den1, v1) = runKs(sep)("s")
    assert(num1 === "4" && den1 === "4" && v1 === 2L)
    graft.Caches.releaseAll(spark)
  }

  private def runKw(rows: Seq[(String, String, Long)]) = {
    import spark.implicits._
    RankStats.kruskalWallis(rows.toDF("st", "g", "v"), "st", "g", "v")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
  }

  test("kruskalWallis: doubled midranks match the naive per-value walk") {
    // stratum s: values A={1,3,3}, B={2,3} pooled {1,2,3,3,3}
    // midranks: 1→1, 2→2, 3→(3+4+5)/3=4 ⇒ doubled 2,4,8
    val got = runKw(Seq(("s", "A", 1L), ("s", "A", 3L), ("s", "A", 3L),
      ("s", "B", 2L), ("s", "B", 3L)))
    // A: 2 + 8 + 8 = 18; B: 4 + 8 = 12; ties: one value with t=3 → 24
    assert(got === Map(
      ("s", "A") -> ((3L, 18L, 5L, "24")),
      ("s", "B") -> ((2L, 12L, 5L, "24"))))
  }

  test("kruskalWallis: Σ r2_sum per stratum = n(n+1); brute midranks agree") {
    val rnd = new scala.util.Random(0x3C)
    val rows = for {
      st <- Seq("s1", "s2")
      g <- Seq("A", "B", "C")
      _ <- 1 to (20 + rnd.nextInt(30))
    } yield (st, g, rnd.nextInt(15).toLong)
    val got = runKw(rows)
    rows.groupBy(_._1).foreach { case (st, rs) =>
      val n = rs.size.toLong
      val pooled = rs.map(_._3)
      def dblMid(v: Long): Long =
        2L * pooled.count(_ < v) + pooled.count(_ == v) + 1L
      rs.groupBy(_._2).foreach { case (g, grs) =>
        val (nG, r2, nTot, _) = got((st, g))
        assert(nG === grs.size.toLong && nTot === n)
        assert(r2 === grs.map(r => dblMid(r._3)).sum)
      }
      val tieCubes = pooled.groupBy(identity).values
        .map(vs => { val t = vs.size.toLong; t * t * t - t }).sum
      assert(got((st, "A"))._4 === tieCubes.toString)
      assert(got.filter(_._1._1 == st).values.map(_._2).sum === n * (n + 1))
    }
  }

  test("kruskalWallis: NULL values are excluded from the pooled sample") {
    import spark.implicits._
    val df = Seq(("s", "A", Some(1L)), ("s", "A", None), ("s", "B", Some(2L)))
      .toDF("st", "g", "v")
    val got = RankStats.kruskalWallis(df, "st", "g", "v")
      .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getLong(4)))).toMap
    assert(got === Map("A" -> ((1L, 2L)), "B" -> ((1L, 2L))))
  }
}
