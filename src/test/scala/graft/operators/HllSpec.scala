package graft.operators

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class HllSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("rank bounds: 1 ≤ rank ≤ 32−p+1, and idx < 2^p") {
    val rnd = new scala.util.Random(0x12)
    (1 to 2000).foreach { _ =>
      val (idx, rank) = Hll.idxRankJvm(rnd.nextLong(), 8)
      assert(idx >= 0 && idx < 256)
      assert(rank >= 1 && rank <= 25)
    }
  }

  test("hll_registers aggregate ≡ registers folded on the driver, duplicates free") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x13)
    val rows = for { g <- Seq("a", "b"); _ <- 1 to 3000 }
      yield (g, rnd.nextInt(900).toLong)
    val df = rows.toDF("g", "k")
    val viaAgg = df.groupBy("g")
      .agg(HllAgg.hll_registers(col("k"), 8).as("regs"))
      .select(col("g"), posexplode(col("regs")).as(Seq("idx", "reg")))
      .filter(col("reg") > 0L)
      .collect().map(r => (r.getString(0), r.getInt(1).toLong, r.getLong(2))).toSet
    // reference: max rank per (group, register), straight from idxRankJvm
    val viaDriver = rows
      .map { case (g, k) => val (i, r) = Hll.idxRankJvm(k, 8); ((g, i.toLong), r.toLong) }
      .groupBy(_._1).map { case ((g, i), rs) => (g, i, rs.map(_._2).max) }.toSet
    assert(viaAgg === viaDriver)
    assert(viaAgg.nonEmpty)
  }

  test("merge is partitioning-invariant: 1 vs 7 partitions, same bytes") {
    import spark.implicits._
    val rows = (1 to 5000).map(i => ("g", (i * 31 % 1200).toLong))
    def regsOf(parts: Int) =
      rows.toDF("g", "k").repartition(parts)
        .groupBy("g").agg(HllAgg.hll_registers(col("k"), 6).as("r"))
        .select(col("r")).collect().head.getSeq[Long](0)
    assert(regsOf(1) === regsOf(7))
  }

  test("null keys are skipped; empty group is the zero vector") {
    import spark.implicits._
    val df = Seq(("a", Option.empty[Long]), ("a", None)).toDF("g", "k")
    val regs = df.groupBy("g").agg(HllAgg.hll_registers(col("k"), 4).as("r"))
      .select(col("r")).collect().head.getSeq[Long](0)
    assert(regs.length === 16 && regs.forall(_ == 0L))
  }

  /** Standard HLL estimate from a full register vector (length 2^p),
    * with the small-range (linear counting) and 32-bit large-range
    * corrections: the reader that shows the registers [[HllAgg]] emits
    * carry the cardinality (no query folds them to a float). */
  private def estimate(regs: Array[Long]): Double = {
    val m = regs.length.toDouble
    val alpha = regs.length match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1 + 1.079 / m)
    }
    val raw = alpha * m * m / regs.map(r => math.pow(2.0, -r.toDouble)).sum
    val zeros = regs.count(_ == 0L)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros)
    else if (raw > (1L << 32).toDouble / 30.0)
      -(1L << 32).toDouble * math.log1p(-raw / (1L << 32).toDouble)
    else raw
  }

  test("estimate accuracy: within 3σ (~20%) at p=8 over 10k distinct") {
    import spark.implicits._
    val n = 10000
    val df = (1 to n).map(i => ("g", i.toLong * 2654435761L + 17)).toDF("g", "k")
    val regs = df.groupBy("g").agg(HllAgg.hll_registers(col("k"), 8).as("r"))
      .select(col("r")).collect().head.getSeq[Long](0).toArray
    val est = estimate(regs)
    assert(math.abs(est - n) / n < 0.20, s"est=$est vs true=$n")
  }

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("uid", LongType)))
  private val T0 = 1700000000000L

  test("streaming windowed HLL ≡ batch across micro-batch slicing") {
    import graft.streaming.SketchStreams
    val dir = Files.createTempDirectory("graft-hll-stream").toString
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
    val q = SketchStreams.hllStream(stream, "ts", "uid",
        p = 6, windowDur = "5 minutes", watermark = "1 minute")
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = rows(spark.table("hll_stream"))
    val batch = rows(SketchStreams.windowedHll(
      spark.read.parquet(dir), "ts", "uid", p = 6, windowDur = "5 minutes"))
    assert(streamed === batch)
    assert(streamed.map(_._1).size === 2) // both windows present
  }
}
