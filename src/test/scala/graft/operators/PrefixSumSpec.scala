package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PrefixSumSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  // 1000 rows over ~20 chunks, money-like values, shuffled input order
  private def fixture(seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    rnd.shuffle((1 to 1000).toList).map { i =>
      (i.toLong, (i / 50).toLong, math.round(rnd.nextDouble() * 10000) / 100.0)
    }.toDF("id", "chunk", "v")
  }

  private def viaGlobalWindow(df: org.apache.spark.sql.DataFrame) = {
    // single-partition global window: the formulation PrefixSum replaces
    // (test-only — this shape is banned from production plans)
    val w = Window.orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("run",
        sum(col("v").cast("decimal(18,2)")).over(w).cast("double"))
      .select("id", "run")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
  }

  test("two-level prefix sum ≡ global window, bit-for-bit") {
    val df = fixture(7)
    val expected = viaGlobalWindow(df)
    val got = PrefixSum.runningTotal(df, "id", "id", col("v"), col("chunk"), "run")
      .select("id", "run")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == expected)
  }

  test("result is invariant under repartitioning (order independence)") {
    val df = fixture(11)
    val base = PrefixSum.runningTotal(df, "id", "id", col("v"), col("chunk"), "run")
      .select("id", "run")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    Seq(1, 3, 13).foreach { n =>
      val got = PrefixSum
        .runningTotal(df.repartition(n), "id", "id", col("v"), col("chunk"), "run")
        .select("id", "run")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(got == base, s"diverged at repartition($n)")
    }
  }

  test("single-chunk and empty-frame edges") {
    import spark.implicits._
    val one = Seq((1L, 0L, 2.5), (2L, 0L, 3.25)).toDF("id", "chunk", "v")
    val got = PrefixSum.runningTotal(one, "id", "id", col("v"), col("chunk"), "run")
      .select("id", "run")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 2.5), (2L, 5.75)))

    val empty = one.filter(col("id") > 100)
    assert(PrefixSum.runningTotal(empty, "id", "id", col("v"), col("chunk"), "run")
      .count() == 0L)
  }

  test("runningTotalLong ≡ global long window and repartition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val df = rnd.shuffle((1 to 800).toList).map { i =>
      (i.toLong, (i / 37).toLong, rnd.nextInt(5000).toLong)
    }.toDF("id", "chunk", "v")
    val w = Window.orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df.withColumn("run", sum(col("v")).over(w))
      .select("id", "run")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    Seq(df, df.repartition(1), df.repartition(9)).foreach { in =>
      val got = PrefixSum
        .runningTotalLong(in, "id", "id", col("v"), col("chunk"), "run")
        .select("id", "run")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got == expected)
    }
  }
}
