package graft.operators

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class QDigestAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val Probes = Seq(250, 500, 750, 950)

  /** Exact per-mille quantiles: smallest v with rank ≥ ⌈n·p/1000⌉. */
  private def exactQs(values: Seq[Long]): Seq[Long] = {
    val sorted = values.sorted
    Probes.map { p =>
      val rank = (values.size.toLong * p + 999L) / 1000L
      sorted((rank - 1).toInt)
    }
  }

  test("exact regime: agg = textbook quantiles, invariant across partitionings") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x51)
    val rows = for {
      g <- Seq("a", "b"); _ <- 1 to 3000
    } yield (g, rnd.nextInt(50).toLong) // 50 distinct < 3k=192 ⇒ exact
    def run(parts: Int) = rows.toDF("g", "v").repartition(parts)
      .groupBy("g")
      .agg(QDigestAgg.qdigest(col("v"), k = 64, levels = 8, Probes).as("sk"))
      .select(col("g"), col("sk.n"), col("sk.qs"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getSeq[Long](2).toSeq))).toMap
    val one = run(1)
    val seven = run(7)
    assert(one === seven, "merge-order dependence in exact regime")
    Seq("a", "b").foreach { g =>
      val vals = rows.filter(_._1 == g).map(_._2)
      assert(one(g)._1 === vals.size.toLong)
      assert(one(g)._2 === exactQs(vals), s"group $g")
    }
  }

  test("nulls are skipped; empty group yields n=0") {
    import spark.implicits._
    val df = Seq(("a", Some(3L)), ("a", None), ("a", Some(7L))).toDF("g", "v")
    val r = df.groupBy("g")
      .agg(QDigestAgg.qdigest(col("v"), 64, 8, Seq(500)).as("sk"))
      .select(col("sk.n"), col("sk.qs")).collect().head
    assert(r.getLong(0) === 2L)
    assert(r.getSeq[Long](1) === Seq(3L)) // rank ⌈2·500/1000⌉ = 1 → 3
  }

  test("sketch regime: compaction bounds the buffer, rank error ≤ levels·n/k") {
    val rnd = new scala.util.Random(0x52)
    val levels = 16
    val k = 256 // bound = levels·n/k = 1250 on 20k rows — a real constraint
    val values = Seq.fill(20000)(rnd.nextInt(1 << levels).toLong)
    // drive the digest directly (update path) in two different orders
    val d = new QDigestAgg.Digest(scala.collection.mutable.LongMap.empty, 0L)
    values.foreach { x =>
      val leaf = (1L << levels) + x
      d.nodes(leaf) = d.nodes.getOrElse(leaf, 0L) + 1L
      d.n += 1L
      if (d.nodes.size > 3 * k) QDigestAgg.compress(d, k, levels)
    }
    assert(d.nodes.size <= 6 * k, s"buffer did not stay bounded: ${d.nodes.size}")
    val qs = QDigestAgg.quantiles(d, levels, Probes)
    val sorted = values.sorted
    val bound = levels.toLong * values.size / k
    Probes.zip(qs).foreach { case (p, v) =>
      val target = (values.size.toLong * p + 999L) / 1000L
      val rankLo = sorted.count(_ < v)      // rank of v's position range
      val rankHi = sorted.count(_ <= v)
      assert(target <= rankHi + bound && target >= rankLo - bound,
        s"p=$p: value $v has rank [$rankLo,$rankHi], target $target, bound $bound")
    }
  }

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("v", LongType)))
  private val T0 = 1700000000000L

  test("streaming windowed quantiles ≡ batch across micro-batch slicing") {
    import graft.streaming.SketchStreams
    val dir = Files.createTempDirectory("graft-qdigest-stream").toString
    def write(part: Int): Unit = {
      val rows = (0 until 150).map { i =>
        val win = if (i < 75) 0L else 1L
        org.apache.spark.sql.Row(
          new Timestamp(T0 + win * 300000L + (i % 75) * 1000L),
          ((i * 31 + part * 11) % 40).toLong)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    write(0)
    Thread.sleep(1100) // distinct mtimes → deterministic file order
    write(1)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = SketchStreams.quantileStream(stream, "ts", "v",
        k = 16, levels = 8, probesPerMille = Probes,
        windowDur = "5 minutes", watermark = "1 minute")
      .writeStream.format("memory").queryName("qdigest_stream")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toSeq)).toSet
    val streamed = rows(spark.table("qdigest_stream"))
    val batch = rows(SketchStreams.windowedQuantiles(
      spark.read.parquet(dir), "ts", "v", k = 16, levels = 8,
      probesPerMille = Probes, windowDur = "5 minutes"))
    assert(streamed === batch)
    assert(streamed.map(_._1).size === 2)
  }
}
