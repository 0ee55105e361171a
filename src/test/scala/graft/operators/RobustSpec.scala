package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class RobustSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  test("groupMedian picks the lower-median element per group") {
    val df = Seq(
      ("a", 10L, 1L), ("a", 20L, 2L), ("a", 30L, 3L), ("a", 40L, 4L),
      ("b", 7L, 5L)).toDF("g", "v", "id")
    val out = Robust.groupMedian(df, "g", "v", "id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // n=4 -> rank (4+1) div 2 = 2 -> value 20 (lower median); n=1 -> 7
    assert(out === Map("a" -> ((4L, 20L)), "b" -> ((1L, 7L))))
  }

  test("madOutliers: hand-computed median, MAD and outlier count") {
    // group g: values 0,10,10,10,10,10,10,1000 — med=10 (rank 4 of 8),
    // deviations 10,0,0,0,0,0,0,990 — mad=0 (rank 4), outliers = rows
    // with dev > 5*0 = 0 -> two rows (0 and 1000)
    val df = Seq(0L, 10L, 10L, 10L, 10L, 10L, 10L, 1000L).zipWithIndex
      .map { case (v, i) => ("g", v, i.toLong) }.toDF("g", "v", "id")
    val r = Robust.madOutliers(df, "g", "v", "id").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
      ((8L, 10L, 0L, 2L)))
  }

  test("quantileBands picks the values at ranks ceil(i*n/4)") {
    // n=7: ranks ceil(7/4)=2, ceil(14/4)=4, ceil(21/4)=6
    val df = Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L).zipWithIndex
      .map { case (v, i) => ("g", v, i.toLong) }.toDF("g", "v", "id")
    val r = Robust.quantileBands(df, "g", "v", "id").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
      ((7L, 20L, 40L, 60L)))
  }

  test("quantileBands matches a driver-side ceil-rank reference " +
      "on random groups incl. ties") {
    val rnd = new scala.util.Random(13)
    val rows = for (g <- 0 until 6; i <- 0 until (rnd.nextInt(25) + 1))
      yield (s"g$g", rnd.nextInt(20).toLong, (g * 1000 + i).toLong)
    def atRank(xs: Seq[Long], num: Int): Long = {
      val n = xs.size.toLong
      xs.sorted.apply(((num * n + 3) / 4 - 1).toInt)
    }
    val expect = rows.groupBy(_._1).map { case (g, rs) =>
      val vs = rs.map(_._2)
      g -> ((vs.size.toLong, atRank(vs, 1), atRank(vs, 2), atRank(vs, 3)))
    }
    val got = Robust.quantileBands(rows.toDF("g", "v", "id"), "g", "v", "id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expect)
  }

  test("theilSenScaled: exact slope on a clean trend, resists one outlier") {
    import org.apache.spark.sql.functions.col
    // y = 5x except one corrupted point; median pairwise slope stays 5
    val pts = Seq(1L -> 5L, 2L -> 10L, 3L -> 15L, 4L -> 1000L, 5L -> 25L)
      .map { case (x, y) => ("g", x, y) }.toDF("g", "x", "y")
    val r = Robust.theilSenScaled(pts, "g", "x", "y",
      scale = 1000L, shift = 100000L).collect().head
    assert(r.getLong(1) === 10L)            // C(5,2) pairs
    assert(r.getLong(4) === 5000L)          // slope 5.000
  }

  test("theilSenScaled matches a driver-side quantized reference") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(53)
    val scale = 1000L; val shift = 100000L
    val rows = for (g <- 0 until 4; x <- 1 to 20)
      yield (s"g$g", x.toLong, (x * (g + 2) + rnd.nextInt(40) - 20).toLong)
    val expect = rows.groupBy(_._1).map { case (g, ps) =>
      val pairs = for {
        (_, oi, vi) <- ps; (_, oj, vj) <- ps if oj > oi
      } yield {
        val (dv, dd) = (vj - vi, oj - oi)
        (((dv + shift * dd) * scale) / dd, dv, dd, oi, oj)
      }
      val sorted = pairs.sortBy(p => (p._1, p._2, p._3, p._4, p._5))
      val m = sorted(((sorted.size + 1) / 2 - 1).toInt)
      g -> ((sorted.size.toLong, m._2, m._3, m._1 - shift * scale))
    }
    val got = Robust.theilSenScaled(rows.toDF("g", "x", "y"), "g", "x", "y",
        scale, shift)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expect)
  }

  test("theilSenScaled raises when the shift cannot cover the dv range") {
    val pts = Seq(("g", 1L, 1000000L), ("g", 2L, 0L)).toDF("g", "x", "y")
    val ex = intercept[Exception] {
      Robust.theilSenScaled(pts, "g", "x", "y", 1000L, 10L).collect()
    }
    assert(ex.getMessage != null)
  }

  test("madOutliers matches a driver-side reference on random groups") {
    val rnd = new scala.util.Random(7)
    val rows = for (g <- 0 until 5; i <- 0 until (rnd.nextInt(20) + 1))
      yield (s"g$g", rnd.nextInt(1000).toLong, (g * 1000 + i).toLong)
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    val expect = rows.groupBy(_._1).map { case (g, rs) =>
      val vs = rs.map(_._2)
      val med = lowerMedian(vs)
      val mad = lowerMedian(vs.map(v => math.abs(v - med)))
      (g, (vs.size.toLong, med, mad,
        vs.count(v => math.abs(v - med) > 5 * mad).toLong))
    }
    val got = Robust.madOutliers(rows.toDF("g", "v", "id"), "g", "v", "id")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expect)
  }

  test("rollingMedian: trailing lower median over the (ord, id) order") {
    val df = Seq(
      ("a", 1L, 5L), ("a", 2L, 1L), ("a", 3L, 9L), ("a", 4L, 4L),
      ("a", 5L, 7L), ("b", 1L, 100L))
      .toDF("k", "i", "v")
    val got = Robust.rollingMedian(df, "k", Seq("i"), "v", lookback = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    // windows: [5],[5,1],[5,1,9],[1,9,4],[9,4,7] → meds 5,1,5,4,7
    assert(got === Map(("a", 1L) -> 5L, ("a", 2L) -> 1L, ("a", 3L) -> 5L,
      ("a", 4L) -> 4L, ("a", 5L) -> 7L, ("b", 1L) -> 100L))
  }

  test("rollingMedian matches a driver-side reference on random series") {
    val rnd = new scala.util.Random(59)
    val rows = for (k <- 0 until 4; i <- 0 until 40)
      yield (s"k$k", i.toLong, rnd.nextInt(1000).toLong)
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    val expect = rows.groupBy(_._1).flatMap { case (k, rs) =>
      val sorted = rs.sortBy(_._2)
      sorted.zipWithIndex.map { case ((_, i, _), idx) =>
        (k, i) -> lowerMedian(sorted.slice(math.max(0, idx - 4), idx + 1).map(_._3))
      }
    }
    val got = Robust.rollingMedian(rows.toDF("k", "i", "v"), "k", Seq("i"), "v",
        lookback = 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got === expect)
  }

  test("winsorizedSums: hand case, 5% on 1..20") {
    import spark.implicits._
    val df = (1L to 20L).map(v => ("g", v, v)).toDF("g", "v", "id")
    val r = Robust.winsorizedSums(df, "g", "v", "id", 1L, 20L).collect().head
    // lo_rank = ceil(20/20) = 1 -> lo = 1; hi_rank = ceil(19*20/20) = 19
    // -> hi = 19; sum_w = (1+..+19) + 19 = 209; one row clamped high
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) === ((20L, 1L, 19L, 209L, 0L, 1L)))
  }

  test("winsorizedSums: tiny groups clamp nothing") {
    import spark.implicits._
    val df = Seq(("g", 5L, 1L), ("g", 50L, 2L), ("g", 500L, 3L))
      .toDF("g", "v", "id")
    val r = Robust.winsorizedSums(df, "g", "v", "id", 1L, 20L).collect().head
    // n=3: lo_rank = max(ceil(3/20), 1) = 1, hi_rank = ceil(57/20) = 3
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) === ((3L, 5L, 500L, 555L, 0L, 0L)))
  }

  test("winsorizedSums matches a driver-side reference on random groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x3AD)
    val rows = for {
      g <- Seq("a", "b", "c")
      i <- 1 to (20 + rnd.nextInt(60))
    } yield (g, rnd.nextInt(1000).toLong - 200L, i.toLong)
    val (pn, pd) = (1L, 10L)
    val expect = rows.groupBy(_._1).map { case (g, rs) =>
      val sorted = rs.map(r => (r._2, r._3)).sortBy(identity).map(_._1)
      val n = sorted.size
      val loR = math.max((n * pn + pd - 1) / pd, 1L).toInt
      val hiR = ((n * (pd - pn) + pd - 1) / pd).toInt
      val (lo, hi) = (sorted(loR - 1), sorted(hiR - 1))
      g -> ((n.toLong, lo, hi,
        sorted.map(v => math.max(math.min(v, hi), lo)).sum,
        sorted.count(_ < lo).toLong, sorted.count(_ > hi).toLong))
    }
    val got = Robust.winsorizedSums(rows.toDF("g", "v", "id"), "g", "v", "id",
        pn, pd)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got === expect)
  }

  test("equiDepthBounds: quartiles of 1..8 land on actual values") {
    import spark.implicits._
    val df = (1L to 8L).map(v => ("g", v * 10, v)).toDF("g", "v", "id")
    val got = Robust.equiDepthBounds(df, "g", "v", "id", k = 4)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    // ranks ceil(j*8/4) = 2,4,6,8
    assert(got === Map(1 -> 20L, 2 -> 40L, 3 -> 60L, 4 -> 80L))
  }

  test("equiDepthBounds: group smaller than k repeats values, ends at max") {
    import spark.implicits._
    val df = Seq(("g", 5L, 1L), ("g", 9L, 2L)).toDF("g", "v", "id")
    val got = Robust.equiDepthBounds(df, "g", "v", "id", k = 4)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    // n=2: ranks ceil(j*2/4) = 1,1,2,2
    assert(got === Map(1 -> 5L, 2 -> 5L, 3 -> 9L, 4 -> 9L))
  }

  test("equiDepthBounds matches a driver-side reference on random groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xED)
    val rows = for {
      g <- Seq("a", "b")
      i <- 1 to (5 + rnd.nextInt(95))
    } yield (g, rnd.nextInt(500).toLong, i.toLong)
    val k = 10
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      val sorted = rs.map(r => (r._2, r._3)).sortBy(identity).map(_._1)
      val n = sorted.size.toLong
      (1 to k).map(j => (g, j) -> sorted(((j * n + k - 1) / k - 1).toInt))
    }
    val got = Robust.equiDepthBounds(rows.toDF("g", "v", "id"), "g", "v", "id", k)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === expect)
  }

  test("weightedMedian ≡ lower median of the weight-expanded multiset") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x3D)
    val rows = for {
      g <- Seq("a", "b", "c")
      _ <- 1 to (10 + rnd.nextInt(60))
    } yield (g, rnd.nextInt(50).toLong, 1L + rnd.nextInt(9).toLong)
    val expect = rows.groupBy(_._1).map { case (g, rs) =>
      val expanded = rs.flatMap(r => Seq.fill(r._3.toInt)(r._2)).sorted
      // lower median: element at index ceil(n/2) - 1
      val med = expanded((expanded.size + 1) / 2 - 1)
      g -> ((med, expanded.size.toLong))
    }
    val got = Robust.weightedMedian(rows.toDF("g", "v", "w"), "g", "v", "w")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expect)
  }

  test("weightedMedian: multi-band two-level scan ≡ single-window result, " +
      "negatives and band boundaries included") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x3E)
    // chunkWidth 4 over values in [-20, 30) forces ~12 bands per group,
    // with exact multiples of the width included (band-edge rows)
    val rows = for {
      g <- Seq("a", "b")
      _ <- 1 to 200
    } yield (g, (rnd.nextInt(50) - 20).toLong, 1L + rnd.nextInt(9).toLong)
    val expect = rows.groupBy(_._1).map { case (g, rs) =>
      val expanded = rs.flatMap(r => Seq.fill(r._3.toInt)(r._2)).sorted
      g -> ((expanded((expanded.size + 1) / 2 - 1), expanded.size.toLong))
    }
    val got = Robust.weightedMedian(rows.toDF("g", "v", "w"), "g", "v", "w",
        chunkWidth = 4L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expect)
  }

  test("weightedMedian: even split picks the lower of the two middles") {
    import spark.implicits._
    // multiset {1,1,9,9}: cum(1)=2, 2*2 >= 4 → wmedian 1
    val got = Robust.weightedMedian(
      Seq(("a", 1L, 2L), ("a", 9L, 2L)).toDF("g", "v", "w"), "g", "v", "w")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 1L))
  }

  private def qnorm(rows: Seq[(String, String, Long, Long)]) = {
    import spark.implicits._
    Robust.quantileNormalize(rows.toDF("g", "s", "id", "v"),
        "g", "s", "v", "id")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        ((r.getLong(4), r.getLong(5))))
      .toMap
  }

  test("quantileNormalize: a lone source maps onto itself (distinct values)") {
    val rows = Seq(("g", "s", 1L, 10L), ("g", "s", 2L, 20L), ("g", "s", 3L, 30L))
    val got = qnorm(rows)
    // src permilles 333/666/1000 = pooled permilles; self-mapping
    assert(got === Map(
      ("g", "s", 1L) -> ((333L, 10L)),
      ("g", "s", 2L) -> ((666L, 20L)),
      ("g", "s", 3L) -> ((30L * 100 / 3, 30L))))
  }

  test("quantileNormalize: two sources calibrate onto the pooled ladder") {
    // pooled (g): values 1,2,3,4 at permilles 250/500/750/1000
    val rows = Seq(
      ("g", "a", 1L, 1L), ("g", "a", 2L, 3L),   // a permilles 500, 1000
      ("g", "b", 3L, 2L), ("g", "b", 4L, 4L))   // b permilles 500, 1000
    val got = qnorm(rows)
    // p=500 → pooled value 2 (greatest pooled permille ≤ 500);
    // p=1000 → pooled value 4 — both sources land on the SAME scale
    assert(got === Map(
      ("g", "a", 1L) -> ((500L, 2L)), ("g", "a", 2L) -> ((1000L, 4L)),
      ("g", "b", 3L) -> ((500L, 2L)), ("g", "b", 4L) -> ((1000L, 4L))))
  }

  test("quantileNormalize: a 1-row source maps to the pooled max") {
    val rows = Seq(
      ("g", "big", 1L, 10L), ("g", "big", 2L, 20L), ("g", "big", 3L, 30L),
      ("g", "tiny", 9L, 15L)) // rank 1 of 1 → permille 1000
    val got = qnorm(rows)
    assert(got(("g", "tiny", 9L)) === ((1000L, 30L)))
  }

  test("quantileNormalize: groups are independent") {
    val rows = Seq(
      ("g1", "s", 1L, 5L), ("g1", "s", 2L, 6L),
      ("g2", "s", 3L, 500L))
    val got = qnorm(rows)
    assert(got(("g2", "s", 3L)) === ((1000L, 500L)))
    assert(got(("g1", "s", 2L)) === ((1000L, 6L)))
  }

  test("quantileNormalize: ids unique only PER GROUP do not duplicate rows") {
    import spark.implicits._
    // ids 1 and 2 appear in BOTH groups — the join-back must key on
    // (group, id), not id alone
    val rows = Seq(
      ("g1", "s", 1L, 5L), ("g1", "s", 2L, 6L),
      ("g2", "s", 1L, 50L), ("g2", "s", 2L, 60L))
    val out = Robust.quantileNormalize(rows.toDF("g", "s", "id", "v"),
      "g", "s", "v", "id")
    assert(out.count() === 4L)
    val got = qnorm(rows)
    assert(got(("g1", "s", 1L)) === ((500L, 5L)))
    assert(got(("g2", "s", 2L)) === ((1000L, 60L)))
  }

  test("quantileNormalize: matches a driver reference on random groups") {
    val rnd = new scala.util.Random(7)
    val rows = for {
      g <- Seq("g1", "g2"); s <- Seq("a", "b", "c")
      i <- 1 to (3 + rnd.nextInt(6))
    } yield (g, s, rnd.nextLong().abs % 100000, rnd.nextInt(50).toLong)
    val byId = rows.zipWithIndex.map { case ((g, s, _, v), i) =>
      (g, s, i.toLong * 7 + 1, v) // unique ids
    }
    val expect = byId.groupBy(_._1).flatMap { case (g, grp) =>
      val pooled = grp.map(t => (t._4, t._3)).sortBy(identity)
      val n = pooled.size
      val pdist = pooled.zipWithIndex
        .map { case ((v, _), i) => ((i + 1).toLong * 1000 / n, v) }
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).max }
      val ps = pdist.keys.toSeq.sorted
      grp.groupBy(_._2).flatMap { case (s, sub) =>
        val ordered = sub.map(t => (t._4, t._3)).sortBy(identity)
        val m = ordered.size
        ordered.zipWithIndex.map { case ((v, id), i) =>
          val p = (i + 1).toLong * 1000 / m
          val pick = ps.filter(_ <= p).max
          (g, s, id) -> ((p, pdist(pick)))
        }
      }
    }
    assert(qnorm(byId) === expect)
  }
}
