package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SketchStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val schema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("token", StringType)))

  private val T0 = 1700000000000L // window-aligned epoch base

  /** Deterministic token stream: two 5-minute windows, skewed counts. */
  private def rows(part: Int): Seq[org.apache.spark.sql.Row] = {
    val toks = (0 until 120).map { i =>
      val win = if (i < 60) 0L else 1L
      val tok = s"tok${(i * 7 + part) % 9}"
      org.apache.spark.sql.Row(new Timestamp(T0 + win * 300000L + (i % 60) * 1000L), tok)
    }
    toks
  }

  private def write(dir: String, part: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows(part), 1), schema)
      .coalesce(1).write.mode("append").parquet(dir)

  private def sketchRows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    df.select(unix_millis(col("window_start")).as("w"), explode(col("sketch")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("streaming windowed sketch ≡ batch, and state merges across micro-batches") {
    val dir = Files.createTempDirectory("graft-sketch-stream").toString
    write(dir, 0)
    Thread.sleep(1100) // distinct mtimes → deterministic file order
    write(dir, 1)

    // one file per trigger → the second micro-batch MERGES into window
    // state built by the first (k=64 > 9 distinct ⇒ both exact)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = SketchStreams.heavyHittersStream(stream, "ts", "token",
        k = 64, windowDur = "5 minutes", watermark = "1 minute")
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = sketchRows(spark.table("hh_stream"))
    val batch = sketchRows(SketchStreams.windowedSketch(
      spark.read.parquet(dir), "ts", "token", k = 64, windowDur = "5 minutes"))
    assert(streamed == batch)

    // and both equal the exact groupBy counts (k above distinct count)
    val exact = spark.read.parquet(dir)
      .groupBy(window(col("ts"), "5 minutes").as("win"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_millis(col("win.start")), col("token"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == exact)
    assert(streamed.map(_._1).toSet.size == 2) // both 5-min windows present
  }

  test("eviction regime streams too: k below distinct still bounds state and undercounts") {
    val dir = Files.createTempDirectory("graft-sketch-stream2").toString
    write(dir, 0)
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = SketchStreams.heavyHittersStream(stream, "ts", "token",
        k = 4, windowDur = "5 minutes", watermark = "1 minute")
      .writeStream.format("memory").queryName("hh_stream_k4")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val perWindow = spark.table("hh_stream_k4")
      .select(unix_millis(col("window_start")).as("w"), map_keys(col("sketch")).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    assert(perWindow.nonEmpty)
    perWindow.foreach { case (_, ks) => assert(ks.size <= 4) } // ≤ k counters per window
    // undercount property: every reported estimate ≤ true count
    val truth = spark.read.parquet(dir)
      .groupBy(window(col("ts"), "5 minutes").as("win"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_millis(col("win.start")), col("token"), col("cnt"))
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    sketchRows(spark.table("hh_stream_k4").select(
        col("window_start"), col("sketch")))
      .foreach { case (w, tok, est) => assert(est <= truth((w, tok))) }
  }
}
