package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class ScdSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("intervals: runs collapse, value flip-flop reopens, valid_to chains") {
    import spark.implicits._
    val log = Seq(
      (1L, ts(10), 1L, "a"), (1L, ts(20), 2L, "a"), (1L, ts(30), 3L, "b"),
      (1L, ts(40), 4L, "a"),                      // a again → NEW run
      (2L, ts(10), 5L, "x")
    ).toDF("k", "t", "id", "v")
    val got = Scd.intervals(log, "k", "t", "id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getLong(4))).toSet
    assert(got == Set(
      (1L, "a", ts(10), Some(ts(30)), 2L),
      (1L, "b", ts(30), Some(ts(40)), 1L),
      (1L, "a", ts(40), None, 1L),
      (2L, "x", ts(10), None, 1L)))
  }

  test("intervals: equal timestamps ordered by tiebreak; nulls form runs") {
    import spark.implicits._
    val log = Seq(
      (1L, ts(10), 1L, Some("a")), (1L, ts(10), 2L, Some("b")), // same ts
      (1L, ts(20), 3L, None), (1L, ts(30), 4L, None)            // null run
    ).toDF("k", "t", "id", "v")
    val got = Scd.intervals(log, "k", "t", "id", "v")
      .collect().map(r => (r.getString(1), Option(r.getTimestamp(3)), r.getLong(4))).toSet
    assert(got == Set(
      ("a", Some(ts(10)), 1L),  // ends when 'b' starts at the SAME ts
      ("b", Some(ts(20)), 1L),
      (null, None, 2L)))        // null <=> null: one 2-observation run
  }

  test("intervals: n_obs sums back to the input row count per key") {
    import spark.implicits._
    val rnd = new scala.util.Random(4)
    val log = (1L to 400L).map(i =>
      (i % 7, ts(i), i, "v" + rnd.nextInt(3))).toDF("k", "t", "id", "v")
    val total = Scd.intervals(log, "k", "t", "id", "v")
      .agg(org.apache.spark.sql.functions.sum("n_obs")).collect()(0).getLong(0)
    assert(total == 400L)
  }

  test("pitJoin: facts pick the containing version; boundary sees the NEW one") {
    import spark.implicits._
    val dims = Seq((1L, "a", ts(10)), (1L, "b", ts(20)))
      .toDF("k", "value", "valid_from")
    val facts = Seq((1L, ts(5), 100L),   // before first version → dropped
      (1L, ts(15), 101L),                // inside [10, 20) → a
      (1L, ts(20), 102L),                // AT the boundary → b (inclusive from)
      (1L, ts(99), 103L))                // open interval → b
      .toDF("k", "t", "fid")
    val got = Scd.pitJoin(facts, dims, "k", "t", "fid", "valid_from", "value")
      .collect().map(r => r.getLong(1) -> r.getString(3)).toMap
    assert(got === Map(101L -> "a", 102L -> "b", 103L -> "b"))
  }

  test("pitJoin ≡ interval-containment join over intervals() on random logs") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x9D)
    // strictly increasing ts per key: pitJoin's unique-(key, valid_from)
    // precondition holds by construction
    val obs = (1L to 300L).map(i =>
      (i % 5, ts(i), i, "v" + rnd.nextInt(3)))
      .toDF("k", "t", "id", "v")
    val facts = (1L to 150L).map(i =>
      (i % 5, ts(rnd.nextInt(520)), 1000L + i)).toDF("k", "t", "fid")
    val dims = Scd.intervals(obs, "k", "t", "id", "v")
    val viaPit = Scd.pitJoin(facts, dims, "k", "t", "fid", "valid_from", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(3)).toMap
    val viaRange = facts.as("f")
      .join(dims.as("d"),
        col("f.k") === col("d.k") &&
          col("f.t") >= col("d.valid_from") &&
          (col("d.valid_to").isNull || col("f.t") < col("d.valid_to")))
      .select(col("f.k"), col("fid"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(viaPit === viaRange)
  }
}
