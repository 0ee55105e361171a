package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class EventStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  /** events subset re-written with micro timestamps so readStream can scan
    * it with a plain schema (the raw testdata is TIMESTAMP(NANOS)). */
  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-events").toString
    graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming windowed agg ≡ batch windowed agg on the same input") {
    val batch = EventStreams.windowedAgg(spark.read.parquet(streamDir))
      .orderBy("window_start_ms", "event_type")
      .collect().map(_.toString).toSeq
    // Complete mode: append would hold back windows not yet closed by the
    // watermark (they only flush when a later batch advances it)
    val streamed = EventStreams.runStreamToMemory(
      spark, streamDir, "win_agg", EventStreams.windowedAgg(_),
      outputMode = OutputMode.Complete)
      .orderBy("window_start_ms", "event_type")
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("batch sessionization: gaps split sessions, totals add up") {
    val events = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val sessions = EventStreams.sessionizeBatch(events, gapMinutes = 30)
    val n = events.count()
    assert(sessions.agg(sum("n_events")).collect().head.getLong(0) == n)
    // session bounds ordered, and every session respects the gap internally
    val bad = sessions.filter(col("session_end_ms") < col("session_start_ms")).count()
    assert(bad == 0)
    assert(sessions.count() > events.select("user_id").distinct().count())
  }

  test("streaming sessionization (event-time timeout) matches batch sessions") {
    import spark.implicits._
    val streamed = {
      val stream = spark.readStream.schema(EventStreams.eventsSchema).parquet(streamDir)
      val q = EventStreams.sessionizeStream(stream.as[EventStreams.Event], gapMinutes = 30)
        .writeStream.format("memory").queryName("stream_sessions")
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("stream_sessions")
        .select("user_id", "session_start_ms", "session_end_ms", "n_events")
        .collect().map(_.toString).toSet
    }
    val batch = EventStreams.sessionizeBatch(spark.read.parquet(streamDir), 30)
      .select("user_id", "session_start_ms", "session_end_ms", "n_events")
      .collect().map(_.toString).toSet
    // append-mode emits only sessions CLOSED by the final watermark; all
    // emitted sessions must be exact batch sessions, and most sessions
    // should have closed (only per-user tails stay open)
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch),
      s"streaming emitted a session batch doesn't have: ${(streamed -- batch).take(3)}")
    assert(streamed.size >= batch.size / 2, s"${streamed.size} vs ${batch.size}")
  }

  test("stateful running per-user aggregates via mapGroupsWithState") {
    import spark.implicits._
    val result = {
      val stream = spark.readStream.schema(EventStreams.eventsSchema).parquet(streamDir)
      val ds = stream.as[EventStreams.Event]
      val q = EventStreams.runningUserAgg(ds).writeStream
        .format("memory").queryName("user_state").outputMode(OutputMode.Update).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("user_state")
    }
    // last update per user equals the batch per-user aggregate
    val lastPerUser = result.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(desc("n_events"))))
      .filter(col("rn") === 1)
      .select("user_id", "n_events")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = spark.read.parquet(streamDir)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lastPerUser == batch)
  }

  test("streaming watermark-bounded dedup ≡ batch dedup on a doubled stream") {
    // at-least-once ingest: every 3rd event re-delivered
    val dupDir = Files.createTempDirectory("graft-events-dup").toString
    val ev = spark.read.parquet(streamDir)
    ev.unionByName(ev.filter(col("event_id") % 3 === 0))
      .coalesce(1).write.mode("overwrite").parquet(dupDir)

    val streamed = EventStreams.runStreamToMemory(
      spark, dupDir, "dedup_stream", EventStreams.dedupStream(_))
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val batch = EventStreams.dedupBatch(spark.read.parquet(dupDir))
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // exactly-once downstream: no event_id appears twice
    assert(streamed.distinct.size == streamed.size)
  }
}
