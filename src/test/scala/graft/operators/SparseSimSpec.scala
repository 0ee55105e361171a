package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SparseSimSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def runTf(rows: Seq[(Long, String, Long)], maxDf: Long, minDot: Long)
      : Map[(Long, Long), (Long, Long, Long)] = {
    import spark.implicits._
    SparseSim.cosineComponentsOfTf(rows.toDF("id", "term", "tf"), maxDf, minDot)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
  }

  test("cosineComponentsOfTf: hand case — tf weighting, full-vocab norms") {
    // doc 1: {a:2, b:1} ; doc 2: {a:1, b:2} ; dot = 2 + 2 = 4; norms 5, 5
    val got = runTf(Seq((1L, "a", 2L), (1L, "b", 1L), (2L, "a", 1L), (2L, "b", 2L)),
      maxDf = 10L, minDot = 1L)
    assert(got === Map((1L, 2L) -> ((4L, 5L, 5L))))
  }

  test("cosineComponentsOfTf: df cap drops common terms from the DOT, not the norms") {
    // 'x' in all 3 docs (df 3 > cap 2) → no dot contribution; 1,2 share 'y'
    val got = runTf(Seq((1L, "x", 1L), (1L, "y", 1L), (2L, "x", 1L), (2L, "y", 1L),
      (3L, "x", 1L), (3L, "z", 1L)), maxDf = 2L, minDot = 1L)
    assert(got === Map((1L, 2L) -> ((1L, 2L, 2L))))
  }

  test("cosineComponentsOfTf: a duplicated (id, term) row never pairs an id with itself") {
    // breaks the one-row-per-(id, term) contract: id 1 appears twice in
    // term a's posting list
    val got = runTf(Seq((1L, "a", 1L), (1L, "a", 1L), (2L, "a", 1L)),
      maxDf = 10L, minDot = 1L)
    assert(got.nonEmpty)
    assert(got.keys.forall { case (a, b) => a < b }, got)
  }

  test("cosineComponents (text): bigram terms, hand case") {
    import spark.implicits._
    // doc 1 "a b a b": bigrams {a b: 2, b a: 1}; doc 2 "a b b": {a b: 1, b b: 1}
    // dot = 2·1 = 2; norms 5, 2
    val got = SparseSim.cosineComponents(
        Seq((1L, "a b a b"), (2L, "a b b")).toDF("doc_id", "text"),
        "doc_id", "text", maxDf = 10L, minDot = 1L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map((1L, 2L) -> ((2L, 5L, 2L))))
  }

  test("cosineComponentsOfTf ≡ brute-force capped dot on random tf vectors") {
    val rnd = new scala.util.Random(0x5C)
    val vocab = (0 until 40).map(i => s"w$i")
    val tfs: Map[Long, Map[String, Long]] = (1L to 40L).map { id =>
      id -> rnd.shuffle(vocab).take(3 + rnd.nextInt(8))
        .map(w => w -> (1L + rnd.nextInt(3))).toMap
    }.toMap
    val rows = tfs.toSeq.flatMap { case (id, m) =>
      m.toSeq.map { case (w, tf) => (id, w, tf) }
    }
    val maxDf = 6L; val minDot = 2L
    val dfOf = tfs.values.flatMap(_.keys).groupBy(identity)
      .map { case (w, v) => w -> v.size.toLong }
    val ids = tfs.keys.toSeq.sorted
    val expect = (for {
      a <- ids; b <- ids if a < b
      // .toSeq before map: mapping a Set would collapse EQUAL products
      dot = tfs(a).keySet.intersect(tfs(b).keySet).toSeq
        .filter(w => dfOf(w) <= maxDf)
        .map(w => tfs(a)(w) * tfs(b)(w)).sum
      if dot >= minDot
    } yield (a, b) -> ((dot,
      tfs(a).values.map(v => v * v).sum,
      tfs(b).values.map(v => v * v).sum))).toMap
    assert(runTf(rows, maxDf, minDot) === expect)
    assert(expect.nonEmpty)
  }

  private def runWj(rows: Seq[(Long, String, Long)], maxDf: Long,
                    minShared: Long) = {
    import spark.implicits._
    SparseSim.weightedJaccardComponentsOfTf(
        rows.toDF("id", "term", "tf"), maxDf, minShared)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
  }

  test("weightedJaccard: hand case — Σmin over shared, sizes over full vocab") {
    val rows = Seq(
      (1L, "x", 3L), (1L, "y", 1L), (1L, "z", 2L),   // sz 6
      (2L, "x", 1L), (2L, "y", 4L),                  // sz 5
      (3L, "q", 9L))                                 // sz 9, no shared
    val got = runWj(rows, maxDf = 16L, minShared = 1L)
    // pair (1,2): min(3,1) + min(1,4) = 2; J_w = 2/(6+5-2) = 2/9
    assert(got === Map((1L, 2L) -> ((2L, 6L, 5L))))
  }

  test("weightedJaccard: the df cap drops the numerator term, never the sizes") {
    val rows = Seq(
      (1L, "common", 5L), (1L, "rare", 2L),
      (2L, "common", 5L), (2L, "rare", 3L),
      (3L, "common", 5L))
    val got = runWj(rows, maxDf = 2L, minShared = 1L) // "common" df=3 > 2
    // only "rare" joins: num = min(2,3) = 2; sizes keep "common"
    assert(got === Map((1L, 2L) -> ((2L, 7L, 8L))))
  }

  test("weightedJaccard: matches a driver reference on a random tf corpus") {
    val rnd = new scala.util.Random(23)
    val vocab = ('a' to 'j').map(_.toString)
    val tfs = (1L to 12L).map { id =>
      id -> vocab.filter(_ => rnd.nextBoolean())
        .map(w => w -> (1L + rnd.nextInt(5))).toMap
    }.toMap
    val rows = tfs.toSeq.flatMap { case (id, m) =>
      m.toSeq.map { case (w, tf) => (id, w, tf) } }
    val dfOf = vocab.map(w =>
      w -> tfs.values.count(_.contains(w)).toLong).toMap
    val maxDf = 7L
    val expect = (for {
      a <- tfs.keys.toSeq.sorted; b <- tfs.keys.toSeq.sorted if a < b
      num = tfs(a).keySet.intersect(tfs(b).keySet).toSeq
        .filter(w => dfOf(w) <= maxDf)
        .map(w => math.min(tfs(a)(w), tfs(b)(w))).sum
      if num >= 2L
    } yield (a, b) -> ((num, tfs(a).values.sum, tfs(b).values.sum))).toMap
    assert(runWj(rows, maxDf, 2L) === expect)
    assert(expect.nonEmpty)
  }
}
