package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class LinkageSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private val fields = Seq(("name", 30L, 20L), ("phone", 25L, 15L))

  test("additive scoring and threshold classification on a hand case") {
    val left = Seq(
      (1L, "b1", "alice", "555"), (2L, "b1", "bob", "666"),
      (3L, "b2", "carol", "777")).toDF("id", "blk", "name", "phone")
    val right = Seq(
      (11L, "b1", "alice", "555"),  // full match: +30+25 = 55 -> link
      (12L, "b1", "alice", "999"),  // name only: +30-15 = 15 -> possible
      (13L, "b2", "dave", "000"))   // nothing:  -20-15 = -35 -> nonlink
      .toDF("id", "blk", "name", "phone")
    val got = Linkage.scorePairs(left, right, Seq("blk"), "id", fields,
        tLower = 0L, tUpper = 40L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getString(3)))).toMap
    assert(got == Map(
      (1L, 11L) -> ((55L, "link")), (1L, 12L) -> ((15L, "possible")),
      (2L, 11L) -> ((-35L, "nonlink")), (2L, 12L) -> ((-35L, "nonlink")),
      (3L, 13L) -> ((-35L, "nonlink"))))
  }

  test("a missing field contributes zero evidence either way") {
    val left = Seq((1L, "b", Some("alice"), Option.empty[String]))
      .toDF("id", "blk", "name", "phone")
    val right = Seq((2L, "b", Option.empty[String], Some("555")))
      .toDF("id", "blk", "name", "phone")
    val got = Linkage.scorePairs(left, right, Seq("blk"), "id", fields,
      tLower = -10L, tUpper = 40L).collect().head
    assert(got.getLong(2) === 0L && got.getString(3) === "possible")
  }

  test("candidates come only from the blocking join") {
    val left = (0L until 50L).map(i => (i, s"b${i % 10}", s"n$i", s"p$i"))
      .toDF("id", "blk", "name", "phone")
    val right = (0L until 50L).map(i => (i + 100, s"b${i % 10}", s"n$i", s"p$i"))
      .toDF("id", "blk", "name", "phone")
    val n = Linkage.scorePairs(left, right, Seq("blk"), "id", fields,
      0L, 40L).count()
    assert(n === 250L) // 10 blocks × 5 × 5, never 50 × 50
  }
}
