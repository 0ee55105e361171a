package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Funnel

class FunnelStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts", TimestampType),
    StructField("event_type", StringType)))
  private val T0 = 1700000000000L
  private val Steps = Seq("view", "cart", "buy")
  private val H = 2 // hours

  private def writeFile(dir: String, rows: Seq[(Long, Long, String)]): Unit = {
    val rws = rows.map { case (u, ms, t) =>
      org.apache.spark.sql.Row(u, new Timestamp(ms), t)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rws, 1), schema)
      .coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(1100) // distinct mtimes → deterministic file order
  }

  /** Final streamed snapshot per user (max version). */
  private def streamFinal(dir: String): Map[Long, (Option[Long], Option[Long], Option[Long])] = {
    import spark.implicits._
    val name = s"funnel_stream_${math.abs(dir.hashCode)}"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[FunnelEvent]
    val q = FunnelStreams.funnelStream(stream, Steps, H, watermark = "24 hours")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("version").desc)))
      .filter(col("rn") === 1)
      .collect().map { r =>
        def t(i: Int) = Option(r.getTimestamp(i)).map(_.getTime)
        r.getLong(0) -> ((t(1), t(2), t(3)))
      }.toMap
  }

  private def batchFinal(df: DataFrame): Map[Long, (Option[Long], Option[Long], Option[Long])] =
    Funnel.perKey(df, "user_id", "ts", "event_type", Steps, H)
      .collect().map { r =>
        def t(i: Int) = Option(r.getTimestamp(i)).map(_.getTime)
        r.getLong(0) -> ((t(1), t(2), t(3)))
      }.toMap

  test("late earlier step-1 RETRACTS a reported t2 (the changelog case)") {
    val dir = Files.createTempDirectory("graft-funnel-retract").toString
    val hour = 3600000L
    // file 1: view@3h, cart@4h → t2 = 4h against t1 = 3h
    writeFile(dir, Seq((1L, T0 + 3 * hour, "view"), (1L, T0 + 4 * hour, "cart")))
    // file 2: view@0h arrives late → t1 = 0h; cart@4h is outside (0h, 2h] → t2 gone
    writeFile(dir, Seq((1L, T0, "view")))
    val got = streamFinal(dir)
    assert(got(1L) == ((Some(T0), None, None)))
    assert(got == batchFinal(spark.read.parquet(dir)))
  }

  test("streaming ≡ batch on random out-of-order activity across slicings") {
    val rnd = new scala.util.Random(0x41)
    val hour = 3600000L
    val all: Seq[(Long, Long, String)] = for {
      u <- 1L to 25L
      i <- 1 to 12
    } yield {
      val t = T0 + rnd.nextInt(10 * 60) * 60000L
      val ty = Seq("view", "cart", "buy", "noise")(rnd.nextInt(4))
      (u, t, ty)
    }
    val dir = Files.createTempDirectory("graft-funnel-rand").toString
    // shuffle, then split into 3 files so step order across triggers is
    // arbitrary (earlier event-times arrive in later micro-batches)
    val shuffled = rnd.shuffle(all)
    shuffled.grouped((shuffled.size + 2) / 3).foreach(g => writeFile(dir, g))
    val got = streamFinal(dir)
    val want = batchFinal(spark.read.parquet(dir))
    // batch emits every user; streaming emits users with ≥1 event — same set here
    assert(got == want)
    assert(want.values.exists(_._3.isDefined), "fixture should contain conversions")
    assert(want.values.exists(v => v._2.isDefined && v._3.isEmpty),
      "fixture should contain stalled funnels")
  }
}
