package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class MmrSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private val dim = 6
  private val vecs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(0x316)
    (0L until 30L).map(i => i -> Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
  }
  private lazy val emb = vecs.toDF("vec_id", "embedding")

  /** Sequential reference on the same quantization. */
  private def ref(kCand: Int, kSel: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000000L).toLong)
    }.toMap
    def dot(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val qa = q(0L)
    val cands = q.keys.filter(_ != 0L).toSeq
      .sortBy(id => (-dot(qa, q(id)), id)).take(kCand)
    var sel = List.empty[Long]
    (1 to kSel).map { r =>
      val (id, rel, pen, mmr) = cands.filterNot(sel.contains)
        .map { id =>
          val rel = dot(qa, q(id))
          val pen = if (sel.isEmpty) 0L else sel.map(s => dot(q(id), q(s))).max
          (id, rel, pen, rel - pen)
        }
        .minBy { case (id, _, _, mmr) => (-mmr, id) }
      sel ::= id
      (r.toLong, id, rel, pen, mmr)
    }
  }

  test("diverseTopK ≡ sequential reference (incl. negative penalties)") {
    val got = Mmr.diverseTopK(emb, 0L, kCand = 12, kSel = 5)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == ref(12, 5))
    // diversity actually BINDS on this fixture: the MMR pick sequence
    // differs from the pure-relevance prefix, and at least one round's
    // penalty term is nonzero (a pen-always-0 regression would pass a
    // weaker subset check)
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000000L).toLong)
    }.toMap
    def dot(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val byRel = q.keys.filter(_ != 0L).toSeq
      .sortBy(id => (-dot(q(0L), q(id)), id)).take(5)
    assert(got.map(_._2) != byRel, "fixture degenerate: MMR ≡ plain top-k")
    assert(got.exists(_._4 != 0L), "no round engaged the penalty term")
  }

  test("round 1 is the relevance argmax; kSel = kCand selects everything") {
    val got = Mmr.diverseTopK(emb, 0L, kCand = 4, kSel = 4)
      .orderBy("round").collect()
    assert(got.length == 4)
    assert(got.map(_.getLong(1)).distinct.length == 4)
    assert(got.head.getLong(3) == 0L) // first pick has zero penalty
  }

  test("missing query vector rejected") {
    intercept[IllegalArgumentException] {
      Mmr.diverseTopK(emb, 999L, 5, 2)
    }
  }
}
