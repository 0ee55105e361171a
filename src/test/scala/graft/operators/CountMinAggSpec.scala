package graft.operators

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class CountMinAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("bucketJvm ≡ the Column bucket chain on random and negative keys") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x61)
    val keys = Seq.fill(500)(rnd.nextLong()) ++
      Seq(0L, -1L, Long.MinValue, Long.MaxValue)
    CountMin.seeds.foreach { s =>
      val fromCol = keys.toDF("k")
        .select(col("k"), CountMin.bucket(col("k"), s, 256).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      keys.foreach { k =>
        assert(fromCol(k) === CountMin.bucketJvm(k, s, 256).toLong,
          s"seed=$s key=$k")
      }
    }
  }

  test("countmin aggregate ≡ plan-level sketch estimates, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x62)
    val keys = Seq.fill(5000)(rnd.nextInt(300).toLong)
    val probes = Seq(1L, 7L, 42L, 299L)
    val df = keys.toDF("k")
    def viaAgg(parts: Int) = df.repartition(parts)
      .agg(CountMinAgg.countmin(col("k"), w = 64, probes).as("sk"))
      .select(col("sk.n"), col("sk.est")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).head
    val a1 = viaAgg(1)
    val a7 = viaAgg(7)
    assert(a1 === a7, "cell-wise merge must be partitioning-invariant")
    assert(a1._1 === 5000L)
    val planEst = CountMin.estimate(
        CountMin.sketch(df, col("k"), w = 64),
        probes.toDF("k"), "k", w = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    probes.zip(a1._2).foreach { case (p, e) =>
      assert(e === planEst(p), s"probe $p")
    }
    // CMS upper-bound property vs true counts
    val truth = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    probes.zip(a1._2).foreach { case (p, e) =>
      assert(e >= truth.getOrElse(p, 0L), s"probe $p estimate below truth")
    }
  }

  test("null keys do not count toward n or any cell") {
    import spark.implicits._
    val df = Seq(Some(1L), None, Some(1L), None).toDF("k")
    val r = df.agg(CountMinAgg.countmin(col("k"), 64, Seq(1L)).as("sk"))
      .select(col("sk.n"), col("sk.est")).collect().head
    assert(r.getLong(0) === 2L)
    assert(r.getSeq[Long](1) === Seq(2L))
  }

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("uid", LongType)))
  private val T0 = 1700000000000L

  test("streaming windowed CountMin ≡ batch across micro-batch slicing") {
    import graft.streaming.SketchStreams
    val dir = Files.createTempDirectory("graft-cms-stream").toString
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

    val probes = Seq(0L, 13L, 26L, 96L)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = SketchStreams.countMinStream(stream, "ts", "uid",
        w = 64, probes = probes, windowDur = "5 minutes",
        watermark = "1 minute")
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toSeq)).toSet
    val streamed = rows(spark.table("cms_stream"))
    val batch = rows(SketchStreams.windowedCountMin(
      spark.read.parquet(dir), "ts", "uid", w = 64, probes = probes,
      windowDur = "5 minutes"))
    assert(streamed === batch)
    assert(streamed.map(_._1).size === 2)
  }
}
