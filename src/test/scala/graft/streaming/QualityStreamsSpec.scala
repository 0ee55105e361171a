package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class QualityStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val rules = Seq(
    ("value_under_50", col("value") > 50d),
    ("type_known", !col("event_type").isin("click", "view", "error")))

  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-quality").toString
    graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def audit(df: org.apache.spark.sql.DataFrame) =
    QualityStreams.auditStream(df, "ts", rules, "1 hour", "2 hours")

  test("streaming windowed audit ≡ the same code run as a batch frame") {
    val batch = audit(spark.read.parquet(streamDir))
      .orderBy("win_start_ms", "rule").collect().map(_.toString).toSeq
    val q = audit(spark.readStream.schema(EventStreams.eventsSchema)
        .parquet(streamDir))
      .writeStream.format("memory").queryName("quality_win")
      .outputMode(OutputMode.Complete).start()
    val streamed = try {
      q.processAllAvailable()
      spark.table("quality_win").orderBy("win_start_ms", "rule")
        .collect().map(_.toString).toSeq
    } finally q.stop()
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("per-window row-rule counts sum to the whole-span batch audit " +
      "(the q267 additive identity)") {
    val win = audit(spark.read.parquet(streamDir))
      .groupBy("rule").agg(sum("n_rows").as("n"), sum("violations").as("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val whole = graft.operators.Constraints.rowAudit(
        spark.read.parquet(streamDir), rules)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(win == whole)
    assert(whole.values.exists(_._2 > 0)) // the value rule actually fires
  }
}
