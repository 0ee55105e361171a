package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class BarStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-bars").toString
    graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming min_by/max_by bars ≡ batch rank-formulated bars") {
    val batch = graft.operators.Bars
      .ohlc(spark.read.parquet(streamDir), bucketMinutes = 60)
      .select("series", "bucket_ms", "open_cents", "high_cents",
        "low_cents", "close_cents", "n", "vol_cents")
      .orderBy("series", "bucket_ms")
      .collect().map(_.toString).toSeq
    // Complete mode: append holds back windows the watermark hasn't
    // closed (the EventStreamsSpec convention)
    val streamed = EventStreams.runStreamToMemory(
      spark, streamDir, "bars_stream",
      BarStreams.ohlcStream(_, bucketMinutes = 60),
      outputMode = OutputMode.Complete)
      .select("series", "bucket_ms", "open_cents", "high_cents",
        "low_cents", "close_cents", "n", "vol_cents")
      .orderBy("series", "bucket_ms")
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("open/close agree with the total order even for same-µs ticks") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bars-tie").toString
    Seq(
      (2L, new java.sql.Timestamp(1000L), 1L, "A", 5.00, ""),
      (1L, new java.sql.Timestamp(1000L), 1L, "A", 7.25, ""), // tied ts: id 1 opens
      (3L, new java.sql.Timestamp(2000L), 1L, "A", 1.50, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val out = EventStreams.runStreamToMemory(
      spark, dir, "bars_tie", BarStreams.ohlcStream(_, 60),
      outputMode = OutputMode.Complete)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(5))).toSeq
    assert(out == Seq(("A", 725L, 150L))) // open = id-1 tick, close = last
  }
}
