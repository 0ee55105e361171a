package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def counts(texts: Seq[String]) = {
    import spark.implicits._
    Bpe.adjacentPairCounts(texts.toDF("text"), "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  test("pair counts match a driver-side sliding count") {
    val texts = Seq("a b a b c", "b c b c", "a", "", "x y")
    val expect = texts.map(_.split(" ", -1).toSeq).filter(_.size >= 2)
      .flatMap(ts => ts.zip(ts.tail))
      .groupBy(identity).map { case (p, o) => p -> o.size.toLong }
    assert(counts(texts) == expect)
  }

  test("repeated token runs count every adjacent occurrence") {
    assert(counts(Seq("a a a a")) == Map(("a", "a") -> 3L))
  }

  test("applyMerge is left-greedy: consumed tokens cannot re-match") {
    import spark.implicits._
    val out = Bpe.applyMerge(Seq("a a a", "a a a a", "b a a c").toDF("text"),
        "text", "a", "a", "aa")
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("aa a", "aa aa", "b aa c"))
  }

  test("one full merge round: top pair merged, recount reflects it") {
    import spark.implicits._
    val docs = Seq("t h e", "t h i s", "o t h e r").toDF("text")
    val top = Bpe.adjacentPairCounts(docs, "text")
      .orderBy(org.apache.spark.sql.functions.col("cnt").desc,
        org.apache.spark.sql.functions.col("w1"),
        org.apache.spark.sql.functions.col("w2"))
      .head()
    assert((top.getString(0), top.getString(1), top.getLong(2)) == ("t", "h", 3L))
    val merged = Bpe.applyMerge(docs, "text", "t", "h", "th")
    val again = Bpe.adjacentPairCounts(merged, "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(again == Map(("th", "e") -> 2L, ("th", "i") -> 1L, ("i", "s") -> 1L,
      ("o", "th") -> 1L, ("e", "r") -> 1L))
  }

  /** Driver-side reference of the full training loop: argmax by
    * (cnt DESC, (w1, w2) ASC), left-greedy merge, `rounds` times. */
  private def refTrain(texts: Seq[String], rounds: Int): (Seq[(Long, String, String, Long)], Long) = {
    var corpus = texts.map(_.split(" ", -1).toSeq)
    val merges = (1 to rounds).map { r =>
      val pc = corpus.filter(_.size >= 2)
        .flatMap(ts => ts.zip(ts.tail))
        .filter { case (a, b) => a != "" && b != "" }
        .groupBy(identity).map { case (p, o) => p -> o.size.toLong }
      val ((w1, w2), cnt) = pc.minBy { case ((a, b), c) => (-c, a, b) }
      corpus = corpus.map { ts =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < ts.length) {
          if (i + 1 < ts.length && ts(i) == w1 && ts(i + 1) == w2) {
            out += w1 + "_" + w2; i += 2
          } else { out += ts(i); i += 1 }
        }
        out.toSeq
      }
      (r.toLong, w1, w2, cnt)
    }
    (merges, corpus.flatten.count(_ != ""))
  }

  test("trainMerges ≡ driver reference across rounds, incl. identical-" +
      "halves overlap runs and tie-breaks") {
    import spark.implicits._
    // 'a a a a a' exercises run parity each round (merge (a,a) → a_a,
    // then (a_a, a_a)); 'x y x y' + 'y x y x' tie on count → pair order
    val texts = Seq("a a a a a", "x y x y x", "y x y x y",
      "t h e", "t h i s", "", "solo")
    val (refMerges, refTotal) = refTrain(texts, 4)
    val got = Bpe.trainMerges(texts.toDF("text"), "text", rounds = 4)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.take(4).toSeq == refMerges)
    assert(got(4) == ((5L, "__total__", "__total__", refTotal)))
  }

  test("trainMerges ≡ driver reference PAST the rebase cadence " +
      "(rounds > RebaseEvery exercises the checkpoint-and-tail path)") {
    import spark.implicits._
    // a diverse corpus that stays mergeable for 12 rounds
    val texts = Seq("a b c d e f g h i j k l m",
      "a b c d e f g h", "a b c d", "m l k j i h g f e d c b a",
      "a a a a a a a a a a", "p q p q p q p q", "q p q p q p",
      "t h e q u i c k b r o w n f o x", "")
    val (refMerges, refTotal) = refTrain(texts, 12)
    val got = Bpe.trainMerges(texts.toDF("text"), "text", rounds = 12)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.take(12).toSeq == refMerges)
    assert(got(12) == ((13L, "__total__", "__total__", refTotal)))
  }

  test("applyMerges (one-pass encode) ≡ sequential applyMerge folds, " +
      "and learnMerges ≡ trainMerges' merge rows") {
    import spark.implicits._
    val texts = Seq("a a a a a", "x y x y x", "a a x y", "", "q")
    val df = texts.toDF("text")
    val merges = Bpe.learnMerges(df, "text", rounds = 3)
    // same merge table as the full training query reports
    val fromTrain = Bpe.trainMerges(df, "text", rounds = 3)
      .filter(org.apache.spark.sql.functions.col("w1") =!= "__total__")
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(merges == fromTrain)
    val ms = merges.map { case (w1, w2, _) => (w1, w2, w1 + "_" + w2) }
    val onePass = Bpe.applyMerges(df, "text", ms)
      .collect().map(_.getString(0)).toSeq
    val folded = ms.foldLeft(df) { case (acc, (w1, w2, j)) =>
      Bpe.applyMerge(acc, "text", w1, w2, j)
    }.collect().map(_.getString(0)).toSeq
    assert(onePass == folded)
    // merge 2+ can consume merge 1's outputs (order is semantics)
    assert(onePass != texts || ms.isEmpty)
  }
}
