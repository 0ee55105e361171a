package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ChunkerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def chunksOf(text: String, w: Int, s: Int): Seq[(Long, Long, Long, String)] = {
    import spark.implicits._
    Chunker.slidingChunks(Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text", w, s)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
  }

  test("short doc: one whole chunk") {
    assert(chunksOf("a b c", 5, 2) == Seq((0L, 1L, 3L, "a b c")))
  }

  test("exact multiple: full windows, clamped tail") {
    // n=10, W=4, S=3 → m = ceil(6/3)=2 → starts 0,3,6; lens 4,4,4
    assert(chunksOf("t1 t2 t3 t4 t5 t6 t7 t8 t9 t10", 4, 3) == Seq(
      (0L, 1L, 4L, "t1 t2 t3 t4"),
      (1L, 4L, 4L, "t4 t5 t6 t7"),
      (2L, 7L, 4L, "t7 t8 t9 t10")))
  }

  test("tail clamps below window and still introduces new tokens") {
    // n=7, W=4, S=4 → starts 0,4; lens 4,3 — non-overlapping stride
    assert(chunksOf("a b c d e f g", 4, 4) == Seq(
      (0L, 1L, 4L, "a b c d"),
      (1L, 5L, 3L, "e f g")))
  }

  test("schedule invariants on random sizes: coverage, overlap, no dead tail") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 20) {
      val n = 1 + rnd.nextInt(60)
      val w = 1 + rnd.nextInt(12)
      val s = 1 + rnd.nextInt(w)
      val toks = (1 to n).map(i => s"w$i")
      val got = chunksOf(toks.mkString(" "), w, s)
      // every token covered exactly by the union of [start, start+len)
      val covered = got.flatMap { case (_, st, ln, _) => st until (st + ln) }.toSet
      assert(covered == (1L to n.toLong).toSet, s"n=$n w=$w s=$s coverage")
      // chunk text matches its offsets
      got.foreach { case (_, st, ln, txt) =>
        assert(txt == toks.slice(st.toInt - 1, st.toInt - 1 + ln.toInt).mkString(" "))
      }
      // last chunk reaches the end; no chunk is empty
      assert(got.last._2 + got.last._3 - 1 == n.toLong)
      assert(got.forall(_._3 >= 1))
      // starts advance by exactly stride
      assert(got.map(_._2) == got.indices.map(i => i.toLong * s + 1))
    }
  }
}
