package graft.operators

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class KmvAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("hash32Jvm ≡ the Column hash32 on random and negative keys") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x4A)
    val keys = Seq.fill(500)(rnd.nextLong()) ++ Seq(0L, -1L, Long.MinValue, Long.MaxValue)
    val fromCol = keys.toDF("k")
      .select(col("k"), Kmv.hash32(col("k"), 2654435769L).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    keys.foreach { k =>
      assert(fromCol(k) === Kmv.hash32Jvm(k), s"key=$k")
    }
  }

  test("kmv_sketch aggregate ≡ Kmv.sketch plan form, duplicates included") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x4B)
    // duplicated keys on purpose: the buffer must dedupe like distinct()
    val rows = for {
      g <- Seq("a", "b")
      _ <- 1 to 2000
    } yield (g, rnd.nextInt(700).toLong)
    val df = rows.toDF("g", "k")
    val viaAgg = df.groupBy("g")
      .agg(KmvAgg.kmv_sketch(col("k"), 64).as("sk"))
      .select(col("g"), col("sk.k_used"), col("sk.kth_hash"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val viaPlan = Kmv.sketch(df, "g", "k", 64)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(viaAgg === viaPlan)
  }

  test("null keys are excluded by BOTH forms (COUNT DISTINCT convention)") {
    import spark.implicits._
    val df = Seq(("a", Some(1L)), ("a", Some(2L)), ("a", None), ("a", Some(2L)))
      .toDF("g", "k")
    val viaAgg = df.groupBy("g").agg(KmvAgg.kmv_sketch(col("k"), 8).as("sk"))
      .select(col("sk.k_used"), col("sk.kth_hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    val viaPlan = Kmv.sketch(df, "g", "k", 8)
      .select(col("k_used"), col("kth_hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(viaAgg === viaPlan)
    assert(viaAgg._1 === 2L) // the null key is not a distinct value
  }

  test("kmv_sketch is exact below k: k_used = true distinct count") {
    import spark.implicits._
    val df = (1 to 40).flatMap(i => Seq(("a", i.toLong), ("a", i.toLong)))
      .toDF("g", "k")
    val got = df.groupBy("g").agg(KmvAgg.kmv_sketch(col("k"), 64).as("sk"))
      .select(col("sk.k_used")).collect().head.getLong(0)
    assert(got === 40L)
  }

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("uid", LongType)))
  private val T0 = 1700000000000L

  test("streaming windowed KMV ≡ batch across micro-batch slicing") {
    import graft.streaming.SketchStreams
    val dir = Files.createTempDirectory("graft-kmv-stream").toString
    def write(part: Int): Unit = {
      val rows = (0 until 150).map { i =>
        val win = if (i < 75) 0L else 1L
        org.apache.spark.sql.Row(
          new Timestamp(T0 + win * 300000L + (i % 75) * 1000L),
          ((i * 13 + part * 7) % 97).toLong)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    write(0)
    Thread.sleep(1100) // distinct mtimes → deterministic file order
    write(1)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = SketchStreams.kmvStream(stream, "ts", "uid",
        k = 32, windowDur = "5 minutes", watermark = "1 minute")
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = rows(spark.table("kmv_stream"))
    val batch = rows(SketchStreams.windowedKmv(
      spark.read.parquet(dir), "ts", "uid", k = 32, windowDur = "5 minutes"))
    assert(streamed === batch)
    assert(streamed.map(_._1).size === 2) // both windows present
    // k=32 < 97 distinct ⇒ the sketch regime (k_used capped at k)
    assert(streamed.forall(_._2 <= 32L))
  }
}
