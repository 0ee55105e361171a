package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class RepetitionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("grams: start positions with multiplicity, short docs empty") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "z")).toDF("doc_id", "text")
    val g2 = Repetition.grams(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(g2.sorted == Seq((1L, "a b"), (1L, "a b"), (1L, "b a")))
    assert(Repetition.grams(docs, "doc_id", "text", 5).count() == 0)
  }

  test("docRepetition on planted fixtures") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),    // top "a b"×3; both 5-grams unique
      (2L, "x x x x x x"),    // top "x x"×5; 5-gram "x x x x x"×2
      (3L, "p q"),            // no 5-grams
      (4L, "z")               // no 2-grams at all
    ).toDF("doc_id", "text")
    val got = Repetition.docRepetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((6L, 3L, 0L)),
      2L -> ((6L, 5L, 2L)),
      3L -> ((2L, 1L, 0L)),
      4L -> ((1L, 0L, 0L))))
  }

  test("boilerplateCoverage: shared 3-gram crosses the doc-frequency bar") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),   // "a b c" + "b c d"
      (2L, "x a b c"),   // "x a b" + "a b c"
      (3L, "q r s"),
      (4L, "t u")        // too short for 3-grams
    ).toDF("doc_id", "text")
    // denom=2 → threshold ⌈4/2⌉=2 docs: only "a b c" qualifies
    val got = Repetition.boilerplateCoverage(docs, "doc_id", "text", n = 3, denom = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((4L, 1L)), 2L -> ((4L, 1L)), 3L -> ((3L, 0L)), 4L -> ((2L, 0L))))
  }

  test("position multiplicity counts double-occurrences inside one doc") {
    import spark.implicits._
    // "m n o" appears twice in doc 1 → bp_hits counts BOTH positions
    val docs = Seq((1L, "m n o m n o"), (2L, "m n o")).toDF("doc_id", "text")
    val got = Repetition.boilerplateCoverage(docs, "doc_id", "text", n = 3, denom = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // boilerplate = grams in ≥1 doc? threshold ⌈2/2⌉=1: every gram.
    // doc 1 has 4 gram positions ("m n o", "n o m", "o m n", "m n o")
    assert(got == Map(1L -> 4L, 2L -> 1L))
  }

  test("noveltyRate: first-seen ownership, repeats inside a doc count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),      // 2 grams, both novel
      (2L, "a b c"),        // 1 gram, seen in doc 1 → 0 novel
      (3L, "b c d x y z"),  // 4 grams: "b c d" seen; other 3 novel
      (4L, "q r")           // no 3-grams → absent
    ).toDF("doc_id", "text")
    val got = Repetition.noveltyRate(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((2L, 2L)), 2L -> ((1L, 0L)), 3L -> ((4L, 3L))))
  }

  test("crossSourceOverlap: distinct shared grams per source pair") {
    import spark.implicits._
    val docs = Seq(
      // s1/s2 share "a b c" (s1 carries it twice across docs — counted ONCE)
      ("s1", "a b c d"), ("s1", "a b c"), ("s2", "a b c"),
      // s2/s3 share "x y z"; s1/s3 share nothing
      ("s2", "x y z"), ("s3", "x y z w")
    ).toDF("source", "text")
    val got = Repetition.crossSourceOverlap(docs, "source", "text", 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("s1", "s2") -> 1L, ("s2", "s3") -> 1L))
  }

  test("crossSourceOverlap matches a driver brute force on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val words = Vector("a", "b", "c", "d", "e")
    val docs = (1 to 40).map { _ =>
      val src = s"s${rnd.nextInt(4)}"
      src -> Seq.fill(3 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" ")
    }
    def gramsOf(t: String) =
      t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val bySrc = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.map(d => gramsOf(d._2)).foldLeft(Set.empty[String])(_ ++ _)
    }
    val expected = (for {
      a <- bySrc.keys; b <- bySrc.keys if a < b
      n = bySrc(a).intersect(bySrc(b)).size if n > 0
    } yield (a, b) -> n.toLong).toMap
    val got = Repetition.crossSourceOverlap(docs.toDF("source", "text"),
        "source", "text", 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  test("splitRejoinCandidates: tail=head bridges, df cap, no self-pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "x y a b c"),       // tail "a b c"
      (2L, "a b c p q"),       // head "a b c" → (1,2)
      (3L, "m n a b c"),       // tail "a b c" too → (3,2)
      (4L, "k k k"),           // tail = head = "k k k" — self only, excluded
      (5L, "z z"))             // too short
      .toDF("doc_id", "text")
    val got = Repetition.splitRejoinCandidates(docs, "doc_id", "text", 3, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (3L, 2L)))
    // a boilerplate bridge above the df cap contributes nothing
    val boiler = (10L until 30L).map(i => (i, s"head tag one filler$i body"))
      .toDF("doc_id", "text")
      .unionByName(Seq((50L, "ends with head tag one")).toDF("doc_id", "text"))
    // 20 heads share "head tag one"? no — heads are first 3 tokens,
    // all "head tag one": df=20 > 16 → capped out
    val none = Repetition.splitRejoinCandidates(boiler, "doc_id", "text", 3, 16)
    assert(none.count() == 0)
    val some = Repetition.splitRejoinCandidates(boiler, "doc_id", "text", 3, 32)
    assert(some.count() == 20) // cap lifted: doc 50's tail joins all 20 heads
  }

  test("referenceCoverage: per-doc known-gram positions vs the ref side") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "ref", "a b c"),      // ref grams: "a b", "b c"
      (2L, "ref", "c d"),        // ref gram: "c d"
      (3L, "eval", "a b c d"),   // positions: a b✓, b c✓, c d✓ → 3/3
      (4L, "eval", "a b x y"),   // a b✓, b x✗, x y✗ → 1/3
      (5L, "eval", "q r"),       // q r✗ → 0/1
      (6L, "eval", "z"))         // too short → absent
      .toDF("doc_id", "side", "text")
    val got = Repetition.referenceCoverage(
        docs, "doc_id", "text", col("side") === "ref", n = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(3L -> ((3L, 3L)), 4L -> ((3L, 1L)), 5L -> ((1L, 0L))))
  }
}
