package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DecaySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val DayUs = 86400000000L

  private def frame(agesDays: Seq[(Long, String)]) = {
    import spark.implicits._
    val ref = 100L * DayUs
    agesDays.toDF("age_d", "k")
      .select(timestamp_micros(lit(ref) - col("age_d") * DayUs).as("ts"),
        col("k"))
  }

  test("weights halve per whole bucket behind the max-ts reference") {
    val got = Decay.halfLifeWeights(
        frame(Seq((0L, "a"), (1L, "a"), (2L, "b"), (10L, "b"))), Seq("k"))
      .collect().map(r => (r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      0L -> 1000000000L, 1L -> 500000000L,
      2L -> 250000000L, 10L -> (1000000000L >> 10)))
  }

  test("partial buckets floor: 1.5 days behind the reference is age 1") {
    import spark.implicits._
    val ref = 100L * DayUs
    val df = Seq(ref, ref - DayUs * 3 / 2).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"), lit("k").as("k"))
    val got = Decay.halfLifeWeights(df, Seq("k"))
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(got === Set(0L -> 1000000000L, 1L -> 500000000L))
  }

  test("ages clamp at maxAgeBuckets; weight floors to the clamped shift") {
    val got = Decay.halfLifeWeights(
        frame(Seq((0L, "a"), (50L, "a"))), Seq("k"), maxAgeBuckets = 2)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(got === Set(0L -> 1000000000L, 2L -> 250000000L))
  }

  test("deep ages decay to zero weight without overflow") {
    val got = Decay.halfLifeWeights(
        frame(Seq((0L, "a"), (45L, "a"))), Seq("k"), maxAgeBuckets = 62)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toMap
    assert(got(45L) === 0L) // 10^9 div 2^45 = 0
  }

  test("bucket width is a knob: hourly buckets age 24× faster") {
    val got = Decay.halfLifeWeights(
        frame(Seq((0L, "a"), (1L, "a"))), Seq("k"),
        bucketUs = DayUs / 24, maxAgeBuckets = 62)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toMap
    assert(got(24L) === 1000000000L >> 24)
  }
}
