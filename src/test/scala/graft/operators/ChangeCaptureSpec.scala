package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ChangeCaptureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("snapshotDiff: I/U/D classification, unchanged dropped, null-safe compare") {
    import spark.implicits._
    val oldS = Seq(
      (1L, Some("a"), 10),  // unchanged → dropped
      (2L, Some("b"), 20),  // value change → U
      (3L, None: Option[String], 30),  // null -> non-null → U
      (4L, Some("d"), 40),  // deleted → D
      (6L, None: Option[String], 60)   // null == null → unchanged, dropped
    ).toDF("id", "s", "v")
    val newS = Seq(
      (1L, Some("a"), 10),
      (2L, Some("B"), 20),
      (3L, Some("c"), 30),
      (5L, Some("e"), 50),  // inserted → I
      (6L, None: Option[String], 60)
    ).toDF("id", "s", "v")
    val got = ChangeCapture.snapshotDiff(oldS, newS, Seq("id"), Seq("s", "v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(2L -> "U", 3L -> "U", 4L -> "D", 5L -> "I"))
  }

  test("snapshotDiff: composite key and multi-column compare") {
    import spark.implicits._
    val oldS = Seq((1L, "x", 1, 1), (1L, "y", 2, 2), (2L, "x", 3, 3))
      .toDF("k1", "k2", "a", "b")
    val newS = Seq((1L, "x", 1, 9), (1L, "y", 2, 2), (2L, "y", 3, 3))
      .toDF("k1", "k2", "a", "b")
    val got = ChangeCapture.snapshotDiff(oldS, newS, Seq("k1", "k2"), Seq("a", "b"))
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getString(2))).toMap
    assert(got == Map((1L, "x") -> "U", (2L, "x") -> "D", (2L, "y") -> "I"))
  }

  test("snapshotDiff: identical snapshots produce an empty diff") {
    import spark.implicits._
    val s = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    assert(ChangeCapture.snapshotDiff(s, s, Seq("id"), Seq("s")).count() == 0L)
  }

  private def replayOf(log: Seq[(Long, Long, String, String)]) = {
    import spark.implicits._
    val df = log.toDF("k", "seq", "op", "v")
    ChangeCapture.replay(df, Seq("k"), Seq("seq"), "op", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  test("replay: last writer wins, deletes hide, re-upsert after delete resurfaces") {
    val log = Seq(
      (1L, 1L, "U", "a1"), (1L, 2L, "U", "a2"),          // k=1 → a2
      (2L, 1L, "U", "b1"), (2L, 2L, "D", ""),            // k=2 deleted
      (3L, 1L, "U", "c1"), (3L, 2L, "D", ""), (3L, 3L, "U", "c3"), // back
      (4L, 9L, "U", "d-late"), (4L, 1L, "U", "d-early")) // order-independent
    assert(replayOf(log) == Map(1L -> "a2", 3L -> "c3", 4L -> "d-late"))
  }

  test("replay: matches a driver-side reference on random logs, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(115)
    for (trial <- 1 to 3) {
      val log = (1 to 400).map { i =>
        (rnd.nextInt(30).toLong + 1, i.toLong,
          if (rnd.nextInt(5) == 0) "D" else "U", s"v$i")
      }
      val expect = log.groupBy(_._1).flatMap { case (k, es) =>
        val last = es.maxBy(_._2)
        if (last._3 == "D") None else Some(k -> last._4)
      }.toMap
      val df = log.toDF("k", "seq", "op", "v").repartition(7)
      val got = ChangeCapture.replay(df, Seq("k"), Seq("seq"), "op", Seq("v"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("replay: composite order columns break ties deterministically") {
    import spark.implicits._
    // same ts, different seq — the (ts, seq) struct must pick seq=2
    val df = Seq((1L, 10L, 1L, "U", "first"), (1L, 10L, 2L, "U", "second"))
      .toDF("k", "ts", "seq", "op", "v")
    val got = ChangeCapture.replay(df, Seq("k"), Seq("ts", "seq"), "op", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "second"))
  }
}
