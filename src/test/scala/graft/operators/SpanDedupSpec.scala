package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SpanDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def run(docs: Seq[(Long, String)], k: Int): Map[Long, (Long, Long, Long)] =
    SpanDedup.dupSpanStats(docs.toDF("doc_id", "text"), "doc_id", "text", k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("cross-doc shared span is counted for both documents") {
    // k=3 spans: A = {a b c, b c d}; B = {b c d, c d e}; shared: "b c d"
    val got = run(Seq(1L -> "a b c d", 2L -> "b c d e"), k = 3)
    assert(got === Map(1L -> ((2L, 1L, 1L)), 2L -> ((2L, 1L, 1L))))
  }

  test("within-document repetition alone is NOT duplication") {
    // only one doc: its repeated "x y" span has df=1
    val got = run(Seq(1L -> "x y x y x y"), k = 2)
    assert(got === Map(1L -> ((5L, 0L, 0L))))
  }

  test("a span repeated in-doc AND present elsewhere counts every position") {
    // A's spans (k=2): "p q", "q p", "p q"; B's: "p q", "q z"
    // dup span "p q": A has 2 positions of it, B has 1
    val got = run(Seq(1L -> "p q p q", 2L -> "p q z"), k = 2)
    assert(got === Map(1L -> ((3L, 2L, 1L)), 2L -> ((2L, 1L, 1L))))
  }

  test("short docs (< k tokens) contribute their whole text as one span") {
    // shinglesOf contract: len < k -> the single whole-text shingle
    val got = run(Seq(1L -> "hello world", 2L -> "hello world",
      3L -> "hello there"), k = 5)
    assert(got === Map(1L -> ((1L, 1L, 1L)), 2L -> ((1L, 1L, 1L)),
      3L -> ((1L, 0L, 0L))))
  }

  test("matches a driver-side reference on random word-salad corpora") {
    val rnd = new scala.util.Random(0x5A17)
    val vocab = Vector("red", "blue", "ox", "fox", "hen", "owl")
    for (trial <- 1 to 3) {
      val docs = (1L to 12L).map { id =>
        id -> Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val k = 2 + rnd.nextInt(2)
      val spans = docs.map { case (id, t) => id -> Dedup.shinglesOf(t, k).toSeq }
      val dfm = spans.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.size }
      val expect = spans.map { case (id, ss) =>
        val dupPos = ss.count(s => dfm(s) >= 2)
        val dupSpans = ss.distinct.count(s => dfm(s) >= 2)
        id -> ((ss.size.toLong, dupPos.toLong, dupSpans.toLong))
      }.toMap
      assert(run(docs, k) === expect, s"trial=$trial k=$k")
    }
  }
}
