package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class CoresetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def embDf(vs: Seq[(Long, Seq[Float], Int)]) =
    vs.toDF("vec_id", "embedding", "label")

  /** Sequential Gonzalez on the same floor quantization. */
  private def brute(vs: Seq[(Long, Seq[Float], Int)], k: Int): Seq[(Long, Long, Long)] = {
    val q = vs.map { case (id, e, _) =>
      id -> e.map(x => math.floor(x.toDouble * 1000000L).toLong)
    }.sortBy(_._1)
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var centers = List(q.head)
    var mind = q.map { case (id, e) => (id, e, d2(e, q.head._2)) }
    var out = List((1L, q.head._1, 0L))
    for (r <- 2 to k) {
      val far = mind.minBy { case (id, _, m) => (-m, id) }
      out ::= ((r.toLong, far._1, far._3))
      centers ::= ((far._1, far._2))
      mind = mind.map { case (id, e, m) => (id, e, math.min(m, d2(e, far._2))) }
    }
    out ::= ((k + 1L, -1L, mind.map(_._3).max))
    out.reverse
  }

  private val vecs: Seq[(Long, Seq[Float], Int)] = {
    val rnd = new scala.util.Random(0x5D)
    (0L until 40L).map(i =>
      (i, Seq.fill(6)(rnd.nextFloat() * 2f - 1f), rnd.nextInt(3)))
  }

  private def run(vs: Seq[(Long, Seq[Float], Int)], k: Int) =
    Coreset.kcenter(embDf(vs), k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("kcenter ≡ sequential Gonzalez on random vectors (k=5)") {
    assert(run(vecs, 5) === brute(vecs, 5))
  }

  test("kcenter k=1: seed is the smallest id, radius row follows") {
    val got = run(vecs, 1)
    assert(got.length === 2 && got.head === ((1L, 0L, 0L)))
    assert(got(1)._1 === 2L && got(1)._2 === -1L && got(1)._3 > 0L)
  }

  test("kcenter: sel_dist is non-increasing over rounds (greedy max-min)") {
    val got = run(vecs, 6)
    val sels = got.filter(r => r._1 >= 2 && r._2 >= 0).map(_._3)
    assert(sels === sels.sorted.reverse)
    // final radius ≤ last selection distance
    assert(got.last._3 <= sels.last)
  }

  test("kcenter: k ≥ distinct points covers exactly (radius 0)") {
    val tiny = Seq(
      (10L, Seq(0f, 0f), 0), (20L, Seq(1f, 0f), 0), (30L, Seq(0f, 1f), 0))
    val got = run(tiny, 3)
    assert(got.last === ((4L, -1L, 0L)))
    assert(got.map(_._2).take(3).toSet === Set(10L, 20L, 30L))
  }
}
