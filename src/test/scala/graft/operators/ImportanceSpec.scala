package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ImportanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("decimal div matches the BIGINT integral quotient (oracle bridge)") {
    // the weight formula carries cnt·SCALE as DECIMAL(38,0) for 100-TB
    // headroom; the oracle mirrors it with HUGEINT `//`. Both must be
    // the plain floor quotient on non-negative operands.
    import spark.implicits._
    val rows = Seq((0L, 7L), (1L, 7L), (6L, 7L), (7L, 7L), (8L, 7L)).toDF("c", "n")
    val got = rows.select(
        expr(s"cast(c as decimal(38,0)) * ${Importance.Scale} div n").as("d"),
        expr(s"(c * ${Importance.Scale}) div n").as("l"))
      .collect()
    got.foreach { r => assert(r.getLong(0) == r.getLong(1)) }
    // the row the decimal path EXISTS for: cnt·SCALE past 2^63, where
    // the plain BIGINT multiply would ANSI-throw
    val big = Seq((1000000000000L, 37L)).toDF("c", "n")
      .select(expr(s"cast(c as decimal(38,0)) * ${Importance.Scale} div n"))
      .head().getLong(0)
    val expect = (BigInt(1000000000000L) * BigInt(Importance.Scale) / 37).toLong
    assert(big == expect)
  }

  test("vocab cap, weights, and planted ranking") {
    import spark.implicits._
    // target side (tgt=true) loves "alpha"; raw side loves "beta";
    // "common" is uniform. Doc 10 is alpha-heavy → must outrank doc 11.
    val docs = Seq(
      (1L, "alpha alpha common", true),
      (2L, "alpha common", true),
      (3L, "beta beta common", false),
      (10L, "alpha alpha alpha", false),
      (11L, "beta beta beta", false)
    ).toDF("doc_id", "text", "tgt")
    val vocab = Importance.vocabCounts(docs, "doc_id", "text", col("tgt"), 2)
    // top-2 by total occurrences: alpha(6), beta(5) — common(3) capped out
    val vc = vocab.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(vc == Map("alpha" -> ((3L, 3L)), "beta" -> ((0L, 5L))))
    val w = Importance.weights(spark, vocab)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // nT=3, nR=8: w(alpha)=1e9·3/3 − 1e9·3/8 = 625000000
    //            w(beta) =0 − 1e9·5/8 = −625000000
    assert(w == Map("alpha" -> 625000000L, "beta" -> -625000000L))
    val sc = Importance.scores(docs, "doc_id", "text", Importance.weights(spark, vocab))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sc(10L) == ((3 * 625000000L, 3L)))
    assert(sc(11L) == ((-3 * 625000000L, 3L)))
    assert(sc(10L)._1 > sc(11L)._1)
    // doc with no vocab hits is absent (inner join semantics)
    assert(!sc.contains(12L))
  }

  test("discriminativeTokens: planted doc frequencies and ranking") {
    import spark.implicits._
    // 2 target docs, 2 rest docs. "hot" in both targets only → score
    // |2·2 − 0·2| = 4; "cold" in both rests only → 4; "mix" in one of
    // each → |1·2 − 1·2| = 0. Repeats inside a doc count once (df).
    val docs = Seq(
      (1L, "hot hot mix", true), (2L, "hot", true),
      (3L, "cold mix", false), (4L, "cold", false)
    ).toDF("doc_id", "text", "tgt")
    val got = Importance.discriminativeTokens(docs, "doc_id", "text",
        col("tgt"), 10)
      .collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
    // ties at score 4 break by token: cold < hot
    assert(got.map(_._1).toSeq == Seq("cold", "hot", "mix"))
    assert(got.toMap == Map(
      "cold" -> ((0L, 2L, "4")), "hot" -> ((2L, 0L, "4")),
      "mix" -> ((1L, 1L, "0"))))
  }

  test("empty target side is guarded (nT floored at 1, no divide error)") {
    import spark.implicits._
    val docs = Seq((1L, "x y", false), (2L, "y z", false))
      .toDF("doc_id", "text", "tgt")
    val vocab = Importance.vocabCounts(docs, "doc_id", "text", col("tgt"), 8)
    val w = Importance.weights(spark, vocab).collect()
    assert(w.nonEmpty && w.forall(_.getLong(1) <= 0L))
  }
}
