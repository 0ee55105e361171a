package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def corpus = {
    import spark.implicits._
    (0L until 100L).map(i => (i, if (i % 2 == 0) "even" else "odd",
      s"tok${i % 7} tok${i % 5} tok${i % 3} shared common filler"))
      .toDF("id", "grp", "text")
  }

  test("stratifiedSample: exact quota per stratum, deterministic, a subset") {
    val s1 = Curation.stratifiedSample(corpus, "grp", "id", 10)
    val perGrp = s1.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGrp == Map("even" -> 10L, "odd" -> 10L))
    val ids1 = s1.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = Curation.stratifiedSample(corpus, "grp", "id", 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2 && ids1.subsetOf((0L until 100L).toSet))
    // quota larger than the stratum → whole stratum, no padding
    val all = Curation.stratifiedSample(corpus, "grp", "id", 1000).count()
    assert(all == 100L)
  }

  test("vocabulary: exact tf/df on a hand-checked corpus") {
    import spark.implicits._
    val tiny = Seq((1L, "a b a"), (2L, "a c"), (3L, "b  b")).toDF("id", "text")
    val v = Curation.vocabulary(tiny, "id", "text", minTf = 1L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // "b  b" double space yields an empty token, which must be dropped
    assert(v == Map("a" -> (3L, 2L), "b" -> (3L, 2L), "c" -> (1L, 1L)))
  }

  test("redactPii: emails and phones tagged, counts on pre-redaction text") {
    import spark.implicits._
    val rows = Seq(
      "write to jane.doe+x@sub.example.org or call +4915123456789 now",
      "no pii here at all",
      "two mails a@b.co c@d.io").toDF("text")
      .select(Curation.redactPii(col("text")).as("r"),
        Curation.emailCount(col("text")).as("e"),
        Curation.phoneCount(col("text")).as("p"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(rows(0) == ("write to <EMAIL> or call <PHONE> now", 1, 1))
    assert(rows(1) == ("no pii here at all", 0, 0))
    assert(rows(2) == ("two mails <EMAIL> <EMAIL>", 2, 0))
  }

  test("contaminationScreen: counts shared shingles, excludes bench side") {
    import spark.implicits._
    // bench doc 0 carries shingles s1,s2; corpus doc 1 shares both,
    // doc 2 shares one, doc 3 none
    val postings = Seq(
      (0L, "s1"), (0L, "s2"),
      (1L, "s1"), (1L, "s2"), (1L, "s9"),
      (2L, "s2"), (2L, "s8"),
      (3L, "s7")).toDF("id", "shingle")
    val hits = Curation.contaminationScreen(postings, col("id") === 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 2L, 2L -> 1L))
    // broadcast on the bench side — the 100 TB contract
    val plan = Curation.contaminationScreen(postings, col("id") === 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bench side not broadcast:\n$plan")
  }

  test("packAssignments: reconstructs the per-stream prefix sum, never global") {
    import spark.implicits._
    val t = Seq(
      // one (g, 0) stream: tokens 300, 300, 300 → packs 0, 0, 1
      (1L, "g", 0L, 300), (2L, "g", 0L, 300), (3L, "g", 0L, 300),
      // separate shard restarts the stream
      (4L, "g", 1L, 100)).toDF("id", "grp", "shard", "n_tokens")
    val out = Curation.packAssignments(t, "grp", "shard", "id", "n_tokens", 512L)
      .orderBy("id")
      .select("id", "pack_id", "pack_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 0L, 0L), (2L, 0L, 300L), (3L, 1L, 88L),
      (4L, 0L, 0L)))
  }

  test("goldenRecords: priority wins, id breaks ties, stats exact") {
    import spark.implicits._
    val recs = Seq(
      // cluster x: prio-2 id 10 loses to prio-1 id 20; three members,
      // two distinct priorities
      ("x", 10L, 2), ("x", 20L, 1), ("x", 30L, 2),
      // cluster y: same priority — lower id survives
      ("y", 7L, 3), ("y", 5L, 3),
      // singleton
      ("z", 99L, 9))
      .toDF("cluster", "id", "prio")
    val got = Curation.goldenRecords(recs, "cluster", "prio", "id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      "x" -> ((20L, 1, 3L, 2L)),
      "y" -> ((5L, 3, 2L, 1L)),
      "z" -> ((99L, 9, 1L, 1L))))
  }

  test("shardOf: deterministic, in range, and equal to a JVM md5 recompute") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 200L).map(i => (i, s"doc text $i")).toDF("id", "text")
    val got = docs.select(col("id"),
        Curation.shardOf(col("id"), col("text"), 16).as("shard"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = (0L until 200L).map { i =>
      val hex = md.digest(s"$i:doc text $i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      i -> java.lang.Long.parseLong(hex.take(8), 16) % 16
    }.toMap
    assert(got == expect)
    assert(got.values.forall(s => s >= 0 && s < 16))
    assert(got.values.toSet.size > 8) // spreads, not collapsed
  }

  test("shardBalance: per-shard counts/chars/ranges match a driver fold") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, s"t$i", 10L + i % 7))
      .toDF("doc_id", "text", "n_chars")
    val got = Curation.shardBalance(docs, "doc_id", "text", "n_chars", 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def shard(i: Long) = {
      val hex = md.digest(s"$i:t$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 8
    }
    val expect = (0L until 100L).map(i => (shard(i), i, 10L + i % 7))
      .groupBy(_._1).map { case (sh, xs) =>
        sh -> ((xs.size.toLong, xs.map(_._3).sum, xs.map(_._2).min, xs.map(_._2).max))
      }
    assert(got == expect)
    assert(got.keys.forall(s => s >= 0 && s < 8))
  }

  test("rendezvousShard matches a driver-side argmax and stays in range") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ids = (0L until 200L).toDF("id")
    val got = ids.select(col("id"),
        Curation.rendezvousShard(col("id"), 8).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(i: Long, s: Int) =
      md.digest(s"$i:$s".getBytes("UTF-8")).map("%02x".format(_)).mkString + s":$s"
    val expect = (0L until 200L).map { i =>
      i -> (0 until 8).maxBy(key(i, _)).toLong
    }.toMap
    assert(got == expect)
    assert(got.values.forall(s => s >= 0 && s < 8))
  }

  test("rebalanceAudit: rendezvous movement is only into the new shard " +
      "and far below mod movement") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ids = (0L until 500L).toDF("doc_id")
    val rows = Curation.rebalanceAudit(ids, "doc_id", from = 8, to = 9)
      .collect()
    graft.Caches.releaseAll(spark)
    assert(rows.map(_.getLong(1)).sum === 500L) // rv_docs partitions all
    assert(rows.map(_.getLong(3)).sum === 500L) // mod_docs partitions all
    val rvMoved = rows.map(_.getLong(2)).sum
    val modMoved = rows.map(_.getLong(4)).sum
    // rendezvous: a key moves iff the NEW bucket (index 8) wins its
    // argmax — expectation n/9 ≈ 56; mod reshuffles ~8/9 of the keys
    assert(rvMoved < 120L, s"rendezvous moved $rvMoved of 500")
    assert(modMoved > 350L, s"mod moved only $modMoved of 500")
    // every rendezvous-moved key must land on the new shard
    val movedTo = ids.select(
        Curation.rendezvousShard(col("doc_id"), 8).as("s8"),
        Curation.rendezvousShard(col("doc_id"), 9).as("s9"))
      .filter(col("s8") =!= col("s9"))
      .collect().map(_.getLong(1)).toSet
    assert(movedTo == Set(8L))
  }

  test("lDiversityAudit: distinct sensitive counts + pass flag per QI cell") {
    import spark.implicits._
    val df = Seq(
      ("a", "x"), ("a", "y"), ("a", "x"),   // 2 distinct of 3 rows
      ("b", "x"), ("b", "x"),               // 1 distinct — fails l=2
      ("c", "p"), ("c", "q"), ("c", "r"))   // 3 distinct
      .toDF("qi", "sens")
    val got = Curation.lDiversityAudit(df, Seq("qi"), col("sens"), l = 2L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got === Map(
      "a" -> ((3L, 2L, true)),
      "b" -> ((2L, 1L, false)),
      "c" -> ((3L, 3L, true))))
  }

  test("lDiversityAudit: null sensitive values don't count as diversity") {
    import spark.implicits._
    val df = Seq(("a", Some("x")), ("a", None), ("a", None))
      .toDF("qi", "sens")
    val got = Curation.lDiversityAudit(df, Seq("qi"), col("sens"), l = 2L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3))).head
    assert(got === ((3L, 1L, false)))
  }
}
