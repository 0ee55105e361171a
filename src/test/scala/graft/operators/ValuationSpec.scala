package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class ValuationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private val Scale = 1000000000L

  private def embDf(vs: Seq[(Long, Seq[Float], Int)]) =
    vs.toDF("vec_id", "embedding", "label")

  private def quant(e: Seq[Float]): Seq[Long] =
    e.map(x => math.floor(x.toDouble * 1000000L).toLong)

  private def d2(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** Exact Shapley by the subset-sum definition, utility
    * v(S) = #{agree among the min(K,|S|) nearest of S} / K, nearest by
    * (d2, id) — the unweighted-KNN utility of Jia et al. VLDB'19. */
  private def bruteShapley(train: Seq[(Long, Seq[Long], Int)],
                           test: (Seq[Long], Int), k: Int): Map[Long, Double] = {
    val n = train.size
    def fact(m: Int): Double = (1 to m).map(_.toDouble).product
    def v(s: Seq[(Long, Seq[Long], Int)]): Double =
      if (s.isEmpty) 0.0
      else s.sortBy(p => (d2(p._2, test._1), p._1)).take(k)
        .count(_._3 == test._2).toDouble / k
    train.map { i =>
      val rest = train.filterNot(_._1 == i._1)
      val sv = rest.indices.inclusive.flatMap { sz =>
        rest.combinations(sz).map { s =>
          fact(sz) * fact(n - sz - 1) / fact(n) * (v(s :+ i) - v(s))
        }
      }.sum
      i._1 -> sv
    }.toMap
  }

  test("knnShapley ≡ exact permutation Shapley on a tiny instance") {
    val rnd = new scala.util.Random(0x6E)
    val vs: Seq[(Long, Seq[Float], Int)] = (0L to 6L).map(i =>
      (i, Seq.fill(4)(rnd.nextFloat()), rnd.nextInt(2)))
    val test = vs.head // vec_id 0 is the probe
    val train = vs.tail.map(v => (v._1, quant(v._2), v._3))
    val expect = bruteShapley(train, (quant(test._2), test._3), k = 2)
    val got = Valuation.knnShapley(embDf(vs), col("vec_id") === 0L,
        kNeighbors = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got.keySet === expect.keySet)
    // each of ≤N suffix terms is floored once → |err| < N/scale
    got.foreach { case (id, s) =>
      assert(math.abs(s.toDouble / Scale - expect(id)) <= 7.0 / Scale,
        s"vec $id: got ${s.toDouble / Scale}, exact ${expect(id)}")
    }
  }

  test("knnShapley efficiency: Σ values ≈ Σ per-test full-set utility") {
    val rnd = new scala.util.Random(0x7F)
    val vs: Seq[(Long, Seq[Float], Int)] = (0L until 33L).map(i =>
      (i, Seq.fill(5)(rnd.nextFloat()), rnd.nextInt(3)))
    val isTest = col("vec_id") % 11 === 0 // 3 probes
    val tests = vs.filter(_._1 % 11 == 0)
    val train = vs.filterNot(_._1 % 11 == 0).map(v => (v._1, quant(v._2), v._3))
    val k = 5
    val vFull = tests.map { t =>
      train.sortBy(p => (d2(p._2, quant(t._2)), p._1)).take(k)
        .count(_._3 == t._3).toLong * Scale / k
    }.sum
    val rows = Valuation.knnShapley(embDf(vs), isTest, k).collect()
    assert(rows.forall(_.getLong(2) === 3L)) // n_tests
    val total = rows.map(_.getLong(3)).sum
    // flooring loses < 1 per term, ≤ N terms per test
    assert(math.abs(total - vFull) <= tests.size.toLong * train.size,
      s"Σshap $total vs Σv(N) $vFull")
  }

  test("knnShapley: a training point identical to an agreeing test gets the top value") {
    val vs: Seq[(Long, Seq[Float], Int)] = Seq(
      (0L, Seq(0.5f, 0.5f), 1), // probe
      (1L, Seq(0.5f, 0.5f), 1), // clone, same label → most valuable
      (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.1f, 0.9f), 0),
      (4L, Seq(0.8f, 0.8f), 1))
    val got = Valuation.knnShapley(embDf(vs), col("vec_id") === 0L, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got(1L) === got.values.max)
    assert(got(1L) > 0L)
  }
}
