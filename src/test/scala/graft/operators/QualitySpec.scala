package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class QualitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("scalarAudit counts each predicate's violations in one pass") {
    val df = Seq(
      (1L, Some(10.0), "ok"),
      (2L, Some(-3.0), "ok"),
      (3L, None, "bad"),
      (4L, Some(99.0), "ok")).toDF("id", "v", "tag")
    val out = asMap(Quality.scalarAudit(df, Seq(
      "v not null" -> col("v").isNull,
      "v >= 0" -> (col("v") < 0),
      "tag = ok" -> (col("tag") =!= "ok"))))
    assert(out === Map("v not null" -> 1L, "v >= 0" -> 1L, "tag = ok" -> 1L))
  }

  test("scalarAudit on an empty frame reports zero violations, not null") {
    val df = Seq.empty[(Long, Double)].toDF("id", "v")
    val out = asMap(Quality.scalarAudit(df, Seq("v >= 0" -> (col("v") < 0))))
    assert(out === Map("v >= 0" -> 0L))
  }

  test("uniquenessExcess is sum(n-1) over duplicate groups, 0 when unique") {
    val dup = Seq((1L, "a"), (1L, "a"), (1L, "a"), (2L, "b"), (3L, "c"), (3L, "c"))
      .toDF("k", "x")
    assert(asMap(Quality.uniquenessExcess(dup, Seq("k"), "k unique")) ===
      Map("k unique" -> 3L)) // 3 extra of k=1 (2) + k=3 (1)
    // composite key: (k, x) has the same duplicate structure here
    assert(asMap(Quality.uniquenessExcess(dup, Seq("k", "x"), "kx unique")) ===
      Map("kx unique" -> 3L))
    val uniq = Seq((1L, "a"), (2L, "b")).toDF("k", "x")
    assert(asMap(Quality.uniquenessExcess(uniq, Seq("k"), "k unique")) ===
      Map("k unique" -> 0L))
  }

  test("orphanCount / childlessCount are the two FK directions") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(1L, 1L, 2L, 9L, 9L).toDF("fk")
    assert(asMap(Quality.orphanCount(child, "fk", parent, "pk", "orphans")) ===
      Map("orphans" -> 2L)) // two rows with fk=9
    assert(asMap(Quality.childlessCount(parent, "pk", child, "fk", "childless")) ===
      Map("childless" -> 1L)) // pk=3 has no child
  }

  test("audit frames compose by union with a shared schema") {
    val df = Seq((1L, 5.0), (1L, -1.0)).toDF("k", "v")
    val audit = Quality.scalarAudit(df, Seq("v >= 0" -> (col("v") < 0)))
      .unionByName(Quality.uniquenessExcess(df, Seq("k"), "k unique"))
      .orderBy("check")
    assert(audit.columns.toSeq === Seq("check", "violations"))
    assert(asMap(audit) === Map("v >= 0" -> 1L, "k unique" -> 1L))
  }

  test("fdViolations lists determinants with >= 2 distinct dependents") {
    // part 1 -> suppliers {10, 11} (3 rows), part 2 -> {20} (2 rows,
    // duplicated combo must NOT count as two dependents), part 3 -> {30}
    val df = Seq((1L, 10L), (1L, 10L), (1L, 11L), (2L, 20L), (2L, 20L),
      (3L, 30L)).toDF("pk", "sk")
    val got = Quality.fdViolations(df, Seq("pk"), Seq("sk"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((2L, 3L))))
  }

  test("fdViolations: a holding FD yields an empty worklist") {
    val df = Seq((1L, 10L), (1L, 10L), (2L, 20L)).toDF("pk", "sk")
    assert(Quality.fdViolations(df, Seq("pk"), Seq("sk")).count() === 0L)
  }

  test("fdViolations supports composite lhs and rhs") {
    // (a, b) -> (c, d): group (1, 1) has dependents {(5,5), (5,6)}
    val df = Seq((1L, 1L, 5L, 5L), (1L, 1L, 5L, 6L), (1L, 2L, 7L, 7L),
      (1L, 2L, 7L, 7L)).toDF("a", "b", "c", "d")
    val got = Quality.fdViolations(df, Seq("a", "b"), Seq("c", "d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map((1L, 1L) -> ((2L, 2L))))
  }
}
