package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

import graft.operators.ChangeCapture

class ChangeStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("ts", TimestampType),
    StructField("seq", LongType), StructField("op", StringType),
    StructField("v", StringType)))

  private def rows(es: Seq[(Long, Long, Long, String, String)]) =
    es.map(e => org.apache.spark.sql.Row(
      e._1, new java.sql.Timestamp(1700000000000L + e._2 * 1000L), e._3,
      e._4, e._5))

  private def write(dir: String, es: Seq[(Long, Long, Long, String, String)]): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows(es), 1), schema)
      .coalesce(1).write.mode("append").parquet(dir)

  /** Final state per key = the max-(ts, seq) emission (monotone
    * emissions — see ChangeStreams scaladoc). */
  private def runStream(dir: String, name: String): Map[Long, (String, String)] = {
    import spark.implicits._
    val stream = spark.readStream.schema(schema).parquet(dir)
      .as[ChangeStreams.LogEntry]
    val q = ChangeStreams.lwwStream(stream)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
      .groupBy("k")
      .agg(max_by(struct(col("op"), col("v")), struct(col("ts_ms"), col("seq")))
        .as("w"))
      .collect().map(r => r.getLong(0) ->
        (r.getStruct(1).getString(0), r.getStruct(1).getString(1))).toMap
  }

  private def batchReplay(es: Seq[(Long, Long, Long, String, String)]): Map[Long, String] = {
    import spark.implicits._
    val df = es.map(e => (e._1, e._2, e._3, e._4, e._5))
      .toDF("k", "t", "seq", "op", "v")
    ChangeCapture.replay(df, Seq("k"), Seq("t", "seq"), "op", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  private val log1 = Seq(
    (1L, 1L, 1L, "U", "a1"), (1L, 2L, 2L, "U", "a2"),
    (2L, 1L, 3L, "U", "b1"), (2L, 3L, 4L, "D", ""),
    (3L, 2L, 5L, "U", "c1"))

  test("single batch: live streaming state ≡ batch replay, deletes flagged") {
    val dir = Files.createTempDirectory("graft-cdc-stream").toString
    write(dir, log1)
    val streamed = runStream(dir, "cdc_single")
    val live = streamed.collect { case (k, ("U", v)) => k -> v }
    assert(live == batchReplay(log1))
    assert(streamed(2L)._1 == "D") // delete surfaced for downstream apply
  }

  test("cross-batch: stale late arrivals lose, delete-then-upsert resurfaces") {
    val dir = Files.createTempDirectory("graft-cdc-stream2").toString
    write(dir, log1)
    Thread.sleep(1100) // distinct mtimes → deterministic batch order
    val log2 = Seq(
      (1L, 1L, 0L, "U", "stale"),  // older (ts,seq) than a2 — must lose
      (2L, 5L, 6L, "U", "b-back"), // upsert after delete — resurfaces
      (3L, 2L, 6L, "D", ""))       // same ts, higher seq — delete wins
    write(dir, log2)
    val streamed = runStream(dir, "cdc_multi")
    val live = streamed.collect { case (k, ("U", v)) => k -> v }
    assert(live == batchReplay(log1 ++ log2))
    assert(live == Map(1L -> "a2", 2L -> "b-back"))
    assert(streamed(3L)._1 == "D")
  }
}
