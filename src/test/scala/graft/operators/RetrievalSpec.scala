package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RetrievalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("bigramsOf: adjacent pairs, empty-token filtering, short-doc guard") {
    import spark.implicits._
    val rows = Seq("a b c", "a  b", "solo", "", "x y x y")
      .toDF("text")
      .select(Retrieval.cleanTokens(col("text")).as("toks"))
      .select(Retrieval.bigramsOf(col("toks")).as("bg"))
      .collect().map(_.getSeq[String](0).toList)
    assert(rows(0) == List("a b", "b c"))
    assert(rows(1) == List("a b")) // double space yields no empty token
    assert(rows(2) == Nil && rows(3) == Nil)
    assert(rows(4) == List("x y", "y x", "x y"))
  }

  test("bigramCountOfCounts: Σ r·N_r = total bigrams; values match brute force") {
    import spark.implicits._
    val docs = Seq("a b a b", "a b c", "c c c c").toDF("text")
    // bigrams: (a b, b a, a b), (a b, b c), (c c, c c, c c)
    // counts: "a b"->3, "b a"->1, "b c"->1, "c c"->3 → r=1:2, r=3:2
    val got = Retrieval.bigramCountOfCounts(docs, "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toList
    assert(got == List(1L -> 2L, 3L -> 2L))
    assert(got.map { case (r, n) => r * n }.sum == 8)
  }

  test("rankedRetrieval: tf saturation + rational idf ranks as designed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark spark"), // high tf, one term
      (2L, "spark join window pad"),   // all three terms once, same length
      (3L, "pad pad pad pad"),         // no terms: absent from output
      (4L, "join join join join"),
      (5L, "spark join window pad")    // identical to 2 ⇒ tie broken by id
    ).toDF("doc_id", "text")
    val got = Retrieval.rankedRetrieval(docs, "doc_id", "text",
      Seq("spark", "join", "window"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSet == Set(1L, 2L, 4L, 5L))
    // docs 2 and 5 are identical texts: same score, id ascending
    val i2 = got.indexWhere(_._1 == 2L); val i5 = got.indexWhere(_._1 == 5L)
    assert(i2 >= 0 && i5 == i2 + 1 && got(i2)._2 == got(i5)._2)
    // three distinct once-each terms (df=3 each) outscore four of one
    // term: saturation caps the tf contribution at (k1+1)·idf
    assert(got.head._1 == 2L)
    // the window term is rarest (df=2) so doc 1 (spark, df=3) and doc 4
    // (join, df=3) score identically by symmetry: tie broken by id
    val s1 = got.find(_._1 == 1L).get._2; val s4 = got.find(_._1 == 4L).get._2
    assert(s1 == s4 && got.indexWhere(_._1 == 1L) < got.indexWhere(_._1 == 4L))
  }

  test("rankedRetrieval: scores invariant under repartitioning (fixed-order sum)") {
    import spark.implicits._
    val docs = (0L until 200L)
      .map(i => (i, s"spark ${"join " * (i % 5).toInt}window pad${i % 7} end"))
      .toDF("doc_id", "text")
    def run(parts: Int) =
      Retrieval.rankedRetrieval(docs.repartition(parts), "doc_id", "text",
        Seq("spark", "join", "window"), topK = 50)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(run(1) == run(7)) // bit-identical, not approximately equal
  }

  test("phraseSearch: hand-checked counts, incl. OVERLAPPING occurrences") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a"),     // "a b a" at pos 0 AND pos 2 (overlap) → 2
      (2L, "x a b a y"),     // one occurrence → 1
      (3L, "a b b a"),       // broken sequence → no match
      (4L, "b a a b a")      // "a b a" at pos 2 → 1
    ).toDF("doc_id", "text")
    val got = Retrieval.phraseSearch(docs, "doc_id", "text", Seq("a", "b", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 4L -> 1L))
    // absent phrase → empty result, not an error
    assert(Retrieval.phraseSearch(docs, "doc_id", "text",
      Seq("a", "z")).count() == 0L)
  }

  test("phraseSearch: matches are position-exact vs a regex reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocab = Seq("tab", "table", "hash", "hashed", "x")
    val docs = (0L until 120L).map { i =>
      (i, Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val got = Retrieval.phraseSearch(docs, "doc_id", "text", Seq("table", "hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // reference: count token-exact adjacency by hand on the driver —
    // substring tricks would also hit "table hashed" / "tab table hash"
    val expected = docs.collect().map { r =>
      val toks = r.getString(1).split(" ")
      r.getLong(0) -> toks.sliding(2).count(p =>
        p.length == 2 && p(0) == "table" && p(1) == "hash").toLong
    }.filter(_._2 > 0).toMap
    assert(got == expected)
    assert(expected.nonEmpty) // the comparison is not vacuous
  }

  test("collocationStats: counts and marginals match a driver reference") {
    import spark.implicits._
    val docs = Seq(
      "new york new york city",
      "york new york",
      "quiet  day").toDF("text") // double space → empty token dropped
    val got = Retrieval.collocationStats(docs, "text", minPair = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // tokens: 5 + 3 + 2 = 10; "new york" ×3, "york new" ×2 (others <2)
    assert(got === Map(
      ("new", "york") -> ((3L, 3L, 4L, 10L)),
      ("york", "new") -> ((2L, 4L, 3L, 10L))))
  }

  test("booleanSearch: AND semantics, token-exact, occurrence totals") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a"),        // has a,b,c → hits a,a,b,c = 4
      (2L, "a b"),            // missing c → out
      (3L, "c b a"),          // order-free → 3
      (4L, "ab bc ca"),       // substrings, not tokens → out
      (5L, "c c b a z")       // 4 hits
    ).toDF("doc_id", "text")
    val got = Retrieval.booleanSearch(docs, "doc_id", "text", Seq("a", "b", "c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 4L, 3L -> 3L, 5L -> 4L))
  }

  test("booleanSearch: matches a driver-side reference on random docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = Seq("a", "b", "c", "d", "e")
    val docs = (0L until 150L).map { i =>
      (i, Seq.fill(8)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val terms = Seq("a", "b")
    val expected = docs.collect().flatMap { r =>
      val toks = r.getString(1).split(" ")
      if (terms.forall(toks.contains))
        Some(r.getLong(0) -> toks.count(terms.contains).toLong)
      else None
    }.toMap
    val got = Retrieval.booleanSearch(docs, "doc_id", "text", terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
    assert(expected.nonEmpty)
  }

  test("keywordExtract: rarity-weighted top terms, hand case") {
    import spark.implicits._
    val docs = Seq((1L, "apple apple rare"), (2L, "apple banana"),
      (3L, "apple")).toDF("doc_id", "text")
    // df: apple=3, rare=1, banana=1; doc1 scores rare 1.0 > apple 2/3
    val got = Retrieval.keywordExtract(docs, "doc_id", "text", topN = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      (1L, 1) -> (("rare", 1L, 1L)), (1L, 2) -> (("apple", 2L, 3L)),
      (2L, 1) -> (("banana", 1L, 1L)), (2L, 2) -> (("apple", 1L, 3L)),
      (3L, 1) -> (("apple", 1L, 3L))))
  }

  test("keywordExtract: equal scores break ties by term, empties dropped") {
    import spark.implicits._
    val docs = Seq((1L, "y  x")).toDF("doc_id", "text")
    val got = Retrieval.keywordExtract(docs, "doc_id", "text", topN = 5)
      .collect().map(r => r.getInt(4) -> r.getString(1)).toMap
    assert(got === Map(1 -> "x", 2 -> "y"))
  }

  test("keywordExtract matches a driver-side reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (1L to 15L).map { id =>
      id -> Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    val tf = docs.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).groupBy(identity)
        .map { case (w, xs) => (id, w, xs.length.toLong) }
    }
    val dfm = tf.groupBy(_._2).map { case (w, xs) => w -> xs.size.toLong }
    val expect = tf.groupBy(_._1).flatMap { case (id, ts) =>
      ts.map { case (_, w, n) => (w, n, dfm(w)) }
        .sortBy { case (w, n, df) => (-n.toDouble / df, w) }
        .take(3).zipWithIndex
        .map { case ((w, n, df), i) => (id, i + 1) -> ((w, n, df)) }
    }
    val got = Retrieval.keywordExtract(docs.toDF("doc_id", "text"),
        "doc_id", "text", topN = 3)
      .collect().map(r => (r.getLong(0), r.getInt(4)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expect)
  }

  test("bigramLmScores: hand add-one probabilities, OOV floor, holdout split") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c"),  // holdout (id % 5 == 0)
      (1L, "a b a"),  // train: unigrams a2 b1; bigrams "a b","b a"
      (2L, "b c"),    // train: unigrams b1 c1; bigram "b c"
      (5L, "z q"),    // holdout: fully OOV pair
      (10L, "a"),     // holdout, <2 tokens: no row
      (15L, null.asInstanceOf[String]) // holdout, null text: no row
    ).toDF("doc_id", "text")
    // train model: c(a)=2, c(b)=2, c(c)=1 → V=3;
    // c("a b")=1, c("b a")=1, c("b c")=1
    val got = Retrieval.bigramLmScores(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 0 pairs: ("a","a b") → (1+1)·1e9 div (2+3) = 400000000
    //             ("b","b c") → (1+1)·1e9 div (2+3) = 400000000
    // doc 5 pair: ("z","z q") → (0+1)·1e9 div (0+3) = 333333333
    assert(got === Array(
      (0L, 2L, 800000000L, 400000000L),
      (5L, 1L, 333333333L, 333333333L)))
  }

  test("bigramLmScores: train docs never score, holdout never trains") {
    import spark.implicits._
    // the only holdout doc repeats a bigram that appears once in train;
    // if holdout leaked into training, c("x y") would be 3 not 1
    val docs = Seq((0L, "x y x y"), (1L, "x y")).toDF("doc_id", "text")
    // train: c(x)=1, c(y)=1, V=2; c("x y")=1
    // doc0 pairs: ("x","x y")→2e9 div 3=666666666, ("y","y x")→1e9 div 3
    //             =333333333, ("x","x y")→666666666
    val got = Retrieval.bigramLmScores(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got === Array((0L, 3L, 666666666L + 333333333L + 666666666L)))
  }
}
