package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CountMinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def skewedKeys(n: Int, seed: Int): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    // zipf-ish: key k with weight ~ 1/(k+1)
    (0 until n).map(_ => (math.pow(rnd.nextDouble(), 3) * 50).toLong)
  }

  test("estimate is an upper bound on the true count, exact sans collision") {
    import spark.implicits._
    val keys = skewedKeys(5000, 11)
    val df = keys.toDF("k").repartition(6)
    val sk = CountMin.sketch(df, col("k"), w = 64)
    val est = CountMin.estimate(sk, df, "k", w = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(est.keySet == truth.keySet)
    truth.foreach { case (k, t) =>
      assert(est(k) >= t, s"CMS under-counted key $k: ${est(k)} < $t")
    }
    // with 51 keys in 64 buckets most keys should still be exact
    val exact = truth.count { case (k, t) => est(k) == t }
    assert(exact > truth.size / 2)
  }

  test("sketch is partitioning-invariant and cell count is bounded by d*w") {
    import spark.implicits._
    val keys = skewedKeys(2000, 12)
    def cells(parts: Int): Set[(Int, Long, Long)] =
      CountMin.sketch(keys.toDF("k").repartition(parts), col("k"), w = 32)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val a = cells(1)
    assert(a == cells(8))
    assert(a.size <= CountMin.seeds.size * 32)
    // every input row lands in every sketch row: per-row counts sum to n
    CountMin.seeds.indices.foreach { r =>
      assert(a.toSeq.filter(_._1 == r).map(_._3).sum == 2000L)
    }
  }

  test("sketches merge by cell-wise addition") {
    import spark.implicits._
    val k1 = skewedKeys(1500, 13); val k2 = skewedKeys(1500, 14)
    val s1 = CountMin.sketch(k1.toDF("k"), col("k"), w = 32)
    val s2 = CountMin.sketch(k2.toDF("k"), col("k"), w = 32)
    val merged = s1.unionByName(s2).groupBy("r", "bucket")
      .agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val whole = CountMin.sketch((k1 ++ k2).toDF("k"), col("k"), w = 32)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == whole)
  }

  test("unseen probe keys estimate 0 when their cells are empty") {
    import spark.implicits._
    val sk = CountMin.sketch(Seq(1L, 1L, 2L).toDF("k"), col("k"), w = 1024)
    val est = CountMin.estimate(sk, Seq(999999L).toDF("k"), "k", w = 1024)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // w=1024 with 2 distinct keys: overwhelmingly likely all 4 cells of
    // the probe are empty; if one collides the estimate is still <= 2
    assert(est(999999L) <= 2L)
  }

  /** Driver reference of the sketch inner product via bucketJvm. */
  private def bruteInnerProduct(a: Seq[Long], b: Seq[Long], w: Int): BigInt = {
    def grid(ks: Seq[Long]): Map[(Int, Int), Long] =
      ks.flatMap(k => CountMin.seeds.zipWithIndex.map { case (s, r) =>
        (r, CountMin.bucketJvm(k, s, w))
      }).groupBy(identity).map { case (cell, xs) => cell -> xs.size.toLong }
    val (ga, gb) = (grid(a), grid(b))
    CountMin.seeds.indices.map { r =>
      ga.iterator.collect { case ((rr, bkt), cA) if rr == r =>
        BigInt(cA) * BigInt(gb.getOrElse((rr, bkt), 0L))
      }.sum
    }.min
  }

  test("innerProduct ≡ driver reference and upper-bounds the exact join size") {
    import spark.implicits._
    val a = skewedKeys(3000, 21)
    val b = skewedKeys(2000, 22).map(_ + 10) // overlapping, shifted
    val w = 64
    val est = CountMin.innerProduct(
        CountMin.sketch(a.toDF("k"), col("k"), w),
        CountMin.sketch(b.toDF("k"), col("k"), w))
      .collect().head.getString(0)
    assert(BigInt(est) === bruteInnerProduct(a, b, w))
    val ca = a.groupBy(identity).view.mapValues(_.size).toMap
    val exact = b.groupBy(identity).map { case (k, xs) =>
      BigInt(ca.getOrElse(k, 0)) * xs.size
    }.sum
    assert(BigInt(est) >= exact)
  }

  test("innerProduct: disjoint cells and empty sides estimate 0") {
    import spark.implicits._
    // empty B side: sketch has no rows → every row's overlap is empty
    val skA = CountMin.sketch(Seq(1L, 2L, 3L).toDF("k"), col("k"), w = 64)
    val skEmpty = CountMin.sketch(
      Seq.empty[Long].toDF("k"), col("k"), w = 64)
    val e1 = CountMin.innerProduct(skA, skEmpty).collect().head.getString(0)
    assert(e1 === "0")
    // both empty: the final coalesce still yields a "0" row
    val e2 = CountMin.innerProduct(skEmpty, skEmpty).collect().head.getString(0)
    assert(e2 === "0")
  }
}
