package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class ConstraintsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  test("rowAudit evaluates every rule in one pass with exact counts") {
    val df = Seq((1L, Some(5L)), (2L, Some(200L)), (3L, None), (4L, Some(7L)))
      .toDF("id", "v")
    val got = Constraints.rowAudit(df, Seq(
        ("v_not_null", col("v").isNull),
        ("v_under_100", col("v") > 100),
        ("never_fails", col("id") < 0)))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got == Map(
      "v_not_null" -> ((4L, 1L, false)),
      "v_under_100" -> ((4L, 1L, false)),
      "never_fails" -> ((4L, 0L, true))))
  }

  test("uniqueAudit counts duplicate key combinations") {
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"))
      .toDF("k1", "k2")
    val r = Constraints.uniqueAudit(df, "pk", Seq("k1", "k2")).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)) ===
      (("pk", 4L, 1L, false)))
  }

  test("fkAudit counts orphans including null references") {
    val child = Seq(Some(1L), Some(2L), Some(99L), None).toDF("fk")
    val parent = Seq(1L, 1L, 2L, 3L).toDF("pk")
    val r = Constraints.fkAudit(child, "fk", parent, "pk", "fk_ok")
      .collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)) ===
      (("fk_ok", 4L, 2L, false)))
  }

  test("mergeReports: row-rule audit of a union ≡ sum of part audits") {
    val a = Seq((1L, 5L), (2L, 200L)).toDF("id", "v")
    val b = Seq((3L, 300L), (4L, 7L), (5L, 400L)).toDF("id", "v")
    val rules = Seq(("v_under_100", col("v") > 100))
    val merged = Constraints.mergeReports(
        Constraints.rowAudit(a, rules), Constraints.rowAudit(b, rules))
      .collect().head
    val rescan = Constraints.rowAudit(a.unionByName(b), rules).collect().head
    assert((merged.getLong(1), merged.getLong(2), merged.getBoolean(3)) ===
      ((rescan.getLong(1), rescan.getLong(2), rescan.getBoolean(3))))
    assert(merged.getLong(2) === 3L)
  }

  test("uniqueMerge ≡ rescan uniqueness on the union") {
    // standing keys a,b,c (nS=4: one internal dup); delta d,b,b
    val standing = Seq("a", "b", "b", "c").toDF("k")
    val delta = Seq("d", "b", "b").toDF("k")
    val merged = Constraints.uniqueMerge(
        standing.distinct(), nS = 4L, dS = 3L, delta, "k", "k_unique")
      .collect().head
    val rescan = Constraints.uniqueAudit(
      standing.unionByName(delta), "k_unique", Seq("k")).collect().head
    assert((merged.getLong(1), merged.getLong(2)) ===
      ((rescan.getLong(1), rescan.getLong(2))))
    assert(merged.getLong(2) === 3L) // dup b in standing + 2 delta b's
  }

  test("empty input: zero rows, zero violations, rules pass") {
    val df = Seq.empty[(Long, Long)].toDF("id", "v")
    val got = Constraints.rowAudit(df, Seq(("r", col("v") > 0)))
      .collect().head
    assert((got.getLong(1), got.getLong(2), got.getBoolean(3)) ===
      ((0L, 0L, true)))
  }
}
