package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class EnrichStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val sf = "/root/testdata/sf0.001"

  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-enrich").toString
    graft.tables.Tables.events(spark, sf)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }
  private lazy val customer = graft.tables.Tables.customer(spark, sf)
  private lazy val nation = graft.tables.Tables.nation(spark, sf)

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("window_start_ms", "n_name").collect().map(_.toString).toSeq

  test("streaming stream-static enrichment ≡ batch on the same input") {
    val batch = rows(EnrichStreams.enrichedNationAgg(
      spark.read.parquet(streamDir), customer, nation))
    // Complete mode: append would hold back windows the watermark has
    // not closed (same reasoning as the windowedAgg spec)
    val streamed = rows(EventStreams.runStreamToMemory(
      spark, streamDir, "enrich_agg",
      EnrichStreams.enrichedNationAgg(_, customer, nation),
      outputMode = OutputMode.Complete))
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("the stream-static join is stateless: only the window agg holds state") {
    val q = EnrichStreams.enrichedNationAgg(
        spark.readStream.schema(EventStreams.eventsSchema).parquet(streamDir),
        customer, nation)
      .writeStream.format("memory").queryName("enrich_state")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val p = q.lastProgress
      // exactly ONE stateful operator, and it is the aggregation's state
      // save ("stateStoreSave") — a stream-stream join would appear as a
      // second entry named "symmetricHashJoin"
      assert(p.stateOperators.length == 1)
      assert(p.stateOperators.head.operatorName == "stateStoreSave")
    } finally q.stop()
  }

  test("streaming PIT enrichment ≡ batch Scd.pitJoin, with ZERO state operators") {
    import org.apache.spark.sql.functions._
    val ev = graft.tables.Tables.events(spark, sf)
    val dims = graft.operators.Scd.intervals(
      ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
      "user_id", "ts", "event_id", "event_type")
    val factsBatch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val factDir = Files.createTempDirectory("graft-pit-facts").toString
    factsBatch.coalesce(1).write.mode("overwrite").parquet(factDir)

    def key(df: DataFrame) = df
      .select(col("user_id"), col("fact_id"), col("version"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val viaBatchCarry = key(graft.operators.Scd.pitJoin(
      factsBatch, dims, "user_id", "ts", "event_id", "valid_from", "value"))

    val stream = spark.readStream
      .schema(factsBatch.schema).parquet(factDir)
    val q = EnrichStreams.pitEnrichStream(stream, dims, "user_id", "ts", "event_id")
      .writeStream.format("memory").queryName("pit_stream")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      q.processAllAvailable()
      val p = q.lastProgress
      assert(p.stateOperators.isEmpty, "PIT stream must be stateless")
      key(spark.table("pit_stream"))
    } finally q.stop()
    assert(streamed.nonEmpty)
    assert(streamed === viaBatchCarry)
  }
}
