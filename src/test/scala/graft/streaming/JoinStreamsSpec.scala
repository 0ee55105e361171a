package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class JoinStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-joinstream").toString
    graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def rows(df: DataFrame): Set[String] =
    df.select("user_id", "click_id", "view_id", "click_ts_ms", "view_ts_ms")
      .collect().map(_.toString).toSet

  test("streaming interval join ≡ batch interval join on the same input") {
    val batch = rows(JoinStreams.clickViewJoin(
      spark.read.parquet(streamDir), lookbackMinutes = 720))
    val streamed = rows(EventStreams.runStreamToMemory(
      spark, streamDir, "ivj",
      JoinStreams.clickViewJoin(_, lookbackMinutes = 720),
      outputMode = OutputMode.Append))
    assert(batch.nonEmpty, "fixture produced no interval matches")
    assert(streamed == batch)
  }

  test("matches span micro-batch boundaries (buffered join state is real)") {
    import spark.implicits._
    // one user: views in file A, clicks (later in event time) in file B —
    // a per-file trigger must buffer A's views to match B's clicks
    val dir = Files.createTempDirectory("graft-joinstream-mb").toString
    def ev(id: Long, tsMs: Long, typ: String) =
      (id, new java.sql.Timestamp(tsMs), 1L, typ, 1.0, "")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    Seq(ev(1, 1000000L, "view"), ev(2, 1060000L, "view"))
      .toDF(cols: _*).coalesce(1).write.parquet(s"$dir/a=1")
    Seq(ev(3, 1120000L, "click"), ev(4, 9999000000L, "click"))
      .toDF(cols: _*).coalesce(1).write.parquet(s"$dir/a=2")

    val src = spark.readStream.schema(EventStreams.eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/a=*")
    val q = JoinStreams.clickViewJoin(src, lookbackMinutes = 10)
      .writeStream.format("memory").queryName("ivj_mb")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("ivj_mb")
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // click 3 (t=1120s) matches views 1 (t=1000s) and 2 (t=1060s) across
    // the file boundary; click 4 is hours later and matches nothing
    assert(got == Set((3L, 1L), (3L, 2L)))
  }

  test("LEFT OUTER interval join: null rows emitted on watermark advance, ≡ batch") {
    import spark.implicits._
    // Null-padding a click requires the watermark to PASS its window:
    // two far-future sentinel files (a click then a view, >1 day apart
    // so they can't match each other) push it past every real event.
    // The sentinel click's own outcome stays unresolved (nothing ever
    // passes ITS window) — excluded from the comparison on both sides.
    val dir = Files.createTempDirectory("graft-joinstream-outer").toString
    graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.parquet(s"$dir/a=1")
    def ev(id: Long, tsMs: Long, typ: String) =
      (id, new java.sql.Timestamp(tsMs), 1L, typ, 1.0, "")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val farMs = 4102444800000L // 2100-01-01, past every fixture event
    Seq(ev(9000001L, farMs, "click")).toDF(cols: _*)
      .coalesce(1).write.parquet(s"$dir/a=2")
    Seq(ev(9000002L, farMs + 90000000L, "view")).toDF(cols: _*)
      .coalesce(1).write.parquet(s"$dir/a=3")

    val src = spark.readStream.schema(EventStreams.eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/a=*")
    val q = JoinStreams.clickViewJoinOuter(src, lookbackMinutes = 30)
      .writeStream.format("memory").queryName("ivj_outer")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()

    def keyed(df: DataFrame) = df
      .filter(col("click_id") < 9000000L)
      .collect()
      .map(r => (r.getLong(1), Option(r.get(2)).map(_.toString).getOrElse("∅")))
      .toSet
    val streamed = keyed(spark.table("ivj_outer"))
    val batch = keyed(JoinStreams.clickViewJoinOuter(
      spark.read.parquet(s"$dir/a=1"), lookbackMinutes = 30))
    assert(batch.exists(_._2 == "∅"), "fixture must contain unmatched clicks")
    assert(batch.exists(_._2 != "∅"), "fixture must contain matched clicks")
    assert(streamed == batch)
  }
}
