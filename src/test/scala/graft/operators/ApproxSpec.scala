package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ApproxSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("HLL approx_count_distinct within 5% of exact on lineitem keys") {
    val li = graft.tables.Tables.lineitem(spark, "/root/testdata/sf0.01")
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx"),
      countDistinct(col("l_orderkey")).as("exact_o"),
      approx_count_distinct(col("l_orderkey")).as("approx_o"))
      .collect().head
    val relErr = math.abs(row.getLong(1) - row.getLong(0)).toDouble / row.getLong(0)
    val relErrO = math.abs(row.getLong(3) - row.getLong(2)).toDouble / row.getLong(2)
    assert(relErr <= 0.05, s"partkey rel err $relErr")
    assert(relErrO <= 0.05, s"orderkey rel err $relErrO")
    // tighter rsd → tighter estimate
    val tight = li.agg(approx_count_distinct(col("l_partkey"), 0.005)).collect().head.getLong(0)
    val exact = row.getLong(0)
    assert(math.abs(tight - exact).toDouble / exact <= 0.02)
  }

  test("run_id: stable 8-hex-char sha1 prefix (F11)") {
    import spark.implicits._
    val ids = Seq("""elements HAS "Si"""", """elements HAS "Si"""", "other")
      .toDF("f").select(graft.functions.GraftFunctions.run_id(col("f")).as("r"))
      .collect().map(_.getString(0))
    assert(ids(0) == ids(1) && ids(0) != ids(2))
    assert(ids.forall(_.matches("[0-9a-f]{8}")))
  }
}
