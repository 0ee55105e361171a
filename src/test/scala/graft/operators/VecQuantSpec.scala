package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VecQuantSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def df(vecs: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    vecs.toDF("vec_id", "embedding")
  }

  test("codebook: discrete-rank bounds on a hand case, duplicates kept") {
    // dim 0 values sorted: 1..8 over 8 vecs; B=4 → ranks ceil(8j/4)=2,4,6
    val vecs = (1L to 8L).map(i => (i, Seq(i.toDouble, 10.0)))
    val got = VecQuant.codebook(df(vecs), "vec_id", "embedding", 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got(0L) == Seq(2.0, 4.0, 6.0))
    // dim 1 is constant: all three bounds equal (duplicates kept)
    assert(got(1L) == Seq(10.0, 10.0, 10.0))
  }

  test("codes: count of bounds ≤ val, constant dim collapses to extremes") {
    val vecs = (1L to 8L).map(i => (i, Seq(i.toDouble, 10.0)))
    val got = VecQuant.codes(df(vecs), "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // val=1 < bound 2 → 0; val=2 → 1; val=4 → 2; val=8 → 3
    assert(got((1L, 0L)) == 0L && got((2L, 0L)) == 1L &&
      got((4L, 0L)) == 2L && got((8L, 0L)) == 3L)
    // constant dim: every val equals all 3 bounds → code 3 everywhere
    assert((1L to 8L).forall(i => got((i, 1L)) == 3L))
  }

  test("quantizedTopK ≡ driver brute force on random vectors") {
    val rnd = new scala.util.Random(0x21)
    val n = 60; val d = 6; val b = 8; val k = 4
    val vecs = (1L to n.toLong).map(i => (i, Seq.fill(d)(rnd.nextInt(1000).toDouble)))
    val got = VecQuant.quantizedTopK(df(vecs), "vec_id", "embedding", b,
        col("vec_id") <= 3L, k)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> ((r.getLong(1), r.getLong(2))))
      .toMap

    // driver reference
    val byDim = (0 until d).map { dd =>
      val sorted = vecs.map { case (id, v) => (v(dd), id) }.sorted
      (1 until b).map(j => sorted(((n * j + b - 1) / b) - 1)._1)
    }
    def codeOf(v: Seq[Double]): Seq[Int] =
      (0 until d).map(dd => byDim(dd).count(_ <= v(dd)))
    val codes = vecs.map { case (id, v) => id -> codeOf(v) }.toMap
    for (qid <- 1L to 3L) {
      val dists = vecs.filter(_._1 != qid).map { case (cid, _) =>
        (codes(qid).zip(codes(cid)).map { case (a, bb) => math.abs(a - bb) }.sum.toLong, cid)
      }.sorted.take(k)
      dists.zipWithIndex.foreach { case ((dist, cid), i) =>
        assert(got((qid, (i + 1).toLong)) == ((cid, dist)),
          s"qid=$qid rank=${i + 1}")
      }
    }
  }

  test("codes are monotone in value within a dim") {
    val rnd = new scala.util.Random(0x22)
    val vecs = (1L to 40L).map(i => (i, Seq(rnd.nextInt(50).toDouble)))
    val got = VecQuant.codes(df(vecs), "vec_id", "embedding", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val byVal = vecs.sortBy(_._2.head)
    byVal.sliding(2).foreach { case Seq((a, av), (bb, bv)) =>
      assert(got(a) <= got(bb), s"$av→$bv")
      if (av == bv) assert(got(a) == got(bb))
    }
    assert(got.values.forall(c => c >= 0 && c <= 3))
  }
}
