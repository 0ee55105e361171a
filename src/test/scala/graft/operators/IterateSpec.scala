package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class IterateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  /** A materialized (default-stats) table joined to a big side, the
    * shape of every per-round operator join; `rows` is the count the
    * caller claims for the small side — no large frame is built. */
  private def join(rows: Long): DataFrame = {
    import spark.implicits._
    val small = Iterate.materialize(Seq(1L, 2L, 3L).toDF("k"))
    val big = Iterate.materialize((1L to 50L).map(i => (i % 5, i)).toDF("k", "v"))
    big.join(Iterate.broadcastIfSmall(small, rows), "k")
  }

  // the plan AQE starts from: runtime re-planning could still broadcast
  // a small table on its own, which is not what is under test here
  private def broadcasts(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")

  private def rowsOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("broadcastIfSmall hints at the ceiling and drops the hint one row above it") {
    val at = join(Iterate.BroadcastMaxRows)
    val above = join(Iterate.BroadcastMaxRows + 1)
    assert(broadcasts(at), at.queryExecution.executedPlan.toString)
    assert(!broadcasts(above), above.queryExecution.executedPlan.toString)
    assert(rowsOf(at) === rowsOf(above))
    assert(rowsOf(at).size === 30)
  }

  test("NoBroadcast removes the hint and restores the session's settings") {
    val before = spark.conf.getOption("spark.sql.optimizer.disableHints")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    NoBroadcast(spark) {
      val df = join(1L)
      assert(!broadcasts(df), df.queryExecution.executedPlan.toString)
    }
    assert(spark.conf.getOption("spark.sql.optimizer.disableHints") === before)
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") === threshold)
    assert(broadcasts(join(1L)))
  }
}
