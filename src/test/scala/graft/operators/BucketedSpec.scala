package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BucketedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("colocatedJoin: ZERO shuffle exchanges; rows equal the plain join") {
    import spark.implicits._
    val l = (1L to 500L).map(i => (i % 40, i)).toDF("k", "lv")
    val r = (1L to 300L).map(i => (i % 50, -i)).toDF("k", "rv")
    val lt = Bucketed.table(l, "spec_l", "k", 8)
    val rt = Bucketed.table(r, "spec_r", "k", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid broadcast so a shuffle would HAVE to appear if bucketing
      // were not honored
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = Bucketed.colocatedJoin(spark, lt, rt, "k")
      val got = j.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"), s"unexpected shuffle:\n$plan")
      val expected = l.join(r, "k")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(got == expected)
      assert(expected.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("table: content-addressed reuse — same data hits, changed data misses") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i % 7, i)).toDF("k", "v")
    val t1 = Bucketed.table(df, "spec_reuse", "k", 4)
    val t2 = Bucketed.table(df, "spec_reuse", "k", 4)
    assert(t1 == t2)
    val t3 = Bucketed.table(df.filter(col("v") =!= 50L), "spec_reuse", "k", 4)
    assert(t3 != t1) // different content → different table, no rewrite race
    assert(spark.table(t1).count() == 100L && spark.table(t3).count() == 99L)
  }

  test("table: a fresh session over a warm directory re-registers it, no rewrite") {
    import spark.implicits._
    val df = (1L to 60L).map(i => (i % 5, i)).toDF("k", "v")
    val t = Bucketed.table(df, "spec_warm", "k", 4)
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val dir = java.nio.file.Paths.get(wh, t)
    val success = dir.resolve("_SUCCESS")
    val old = java.nio.file.attribute.FileTime.fromMillis(1000000L)
    java.nio.file.Files.setLastModifiedTime(success, old)
    spark.sql(s"DROP TABLE $t") // external: the directory stays
    graft.Aux.forget(dir.toString) // what a fresh JVM sees
    assert(Bucketed.table(df, "spec_warm", "k", 4) == t)
    assert(java.nio.file.Files.getLastModifiedTime(success) == old)
    assert(spark.table(t).count() == 60L)
  }
}
