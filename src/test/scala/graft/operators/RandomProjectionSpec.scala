package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class RandomProjectionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private val dim = 8
  private val planes = Dedup.hyperplanes(dim, 4)
  private val vecs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(0x314)
    (0L until 12L).map(i => i -> Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
  }
  private lazy val emb = vecs.toDF("vec_id", "embedding")

  /** Driver reference with the SAME left-to-right fold order. */
  private def refProj(v: Seq[Float], p: Seq[Double]): Long =
    math.floor(v.zip(p).map { case (x, y) => x.toDouble * y }
      .foldLeft(0.0)(_ + _) * 1000000L).toLong

  test("projectQuantized ≡ driver fold (coords and projections)") {
    val got = RandomProjection.projectQuantized(emb, planes)
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1).toSeq, r.getSeq[Long](2).toSeq))).toMap
    vecs.foreach { case (id, v) =>
      val (qa, pj) = (got(id)._1, got(id)._2)
      assert(qa == v.map(x => math.floor(x.toDouble * 1000000L).toLong))
      assert(pj == planes.map(p => refProj(v, p)))
    }
  }

  test("pairAudit: all a<b pairs, exact integer distances") {
    val rows = RandomProjection.pairAudit(
        RandomProjection.projectQuantized(emb, planes))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(rows.size == 12 * 11 / 2)
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val q = vecs.map { case (id, v) =>
      id -> (v.map(x => math.floor(x.toDouble * 1000000L).toLong),
        planes.map(p => refProj(v, p)))
    }.toMap
    for (a <- 0L until 12L; b <- (a + 1) until 12L) {
      val (exp0, exp1) = (d2(q(a)._1, q(b)._1), d2(q(a)._2, q(b)._2))
      assert(rows((a, b)) == ((exp0, exp1)), s"pair ($a,$b)")
    }
  }

  test("JL sanity: identical vectors project to distance 0; " +
      "projection never inflates an all-zero distance") {
    val dup = (vecs :+ (100L -> vecs.head._2)).toDF("vec_id", "embedding")
    val rows = RandomProjection.pairAudit(
        RandomProjection.projectQuantized(dup, planes))
      .filter(org.apache.spark.sql.functions.col("id_b") === 100L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val self = rows.find(_._1 == 0L).get
    assert(self._2 == 0L && self._3 == 0L)
  }
}
