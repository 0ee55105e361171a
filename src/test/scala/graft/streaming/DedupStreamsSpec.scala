package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

import graft.operators.Dedup

class DedupStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("ts", TimestampType),
    StructField("text", StringType)))

  /** Small corpus with exact dups, a near-dup and unique docs; ts follows
    * doc_id so arrival order can respect id precedence. */
  private def docRows(ids: Seq[Long]) = {
    val texts = Map[Long, String](
      1L -> "the quick brown fox jumps over the lazy dog near the river bank today",
      2L -> "completely different content about spark catalyst optimizer internals here",
      3L -> "the quick brown fox jumps over the lazy dog near the river bank today", // dup of 1
      4L -> "the quick brown fox jumps over the lazy dog near the river bend today", // near-dup of 1
      5L -> "another unrelated document mentioning parquet columnar storage format layouts",
      6L -> "completely different content about spark catalyst optimizer internals here") // dup of 2
    ids.map(i => org.apache.spark.sql.Row(
      i, new java.sql.Timestamp(1700000000000L + i * 1000L), texts(i)))
  }

  private def writeDocs(dir: String, ids: Seq[Long]): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(docRows(ids), 1), docSchema)
      .coalesce(1).write.mode("append").parquet(dir)

  private def runStream(dir: String, name: String,
                        maxFilesPerTrigger: Option[Int] = None): Map[Long, Boolean] = {
    val reader = spark.readStream.schema(docSchema)
    val stream = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n)).parquet(dir)
    val q = DedupStreams.nearDupSuppressStream(
        DedupStreams.bandedDocs(stream, "doc_id", "ts", "text"),
        horizon = "10 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    // per-doc rollup: suppressed iff dup in ANY band
    spark.table(name)
      .groupBy("doc_id").agg(max(col("dup_in_band")).as("suppressed"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
  }

  test("streaming suppression flags ≡ batch bandSuppressed (single batch)") {
    val dir = Files.createTempDirectory("graft-docs-stream").toString
    writeDocs(dir, Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val streamed = runStream(dir, "nd_single")
    val batch = Dedup.bandSuppressed(
        Dedup.minhashSigs(spark.read.parquet(dir), "doc_id", "text"),
        bands = 16, rowsPerBand = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1) == 1)).toMap
    assert(streamed == batch)
    // sanity on content: dups/near-dup of earlier docs suppressed, firsts kept
    assert(!streamed(1L) && !streamed(2L) && streamed(3L) && streamed(6L))
    assert(streamed(4L)) // near-dup shares a band with doc 1
    assert(!streamed(5L))
  }

  test("bucket state carries across micro-batches (id-ordered arrival)") {
    val dir = Files.createTempDirectory("graft-docs-stream2").toString
    writeDocs(dir, Seq(1L, 2L))          // file 1: originals
    Thread.sleep(1100)                   // distinct mtimes → batch order
    writeDocs(dir, Seq(3L, 4L, 5L, 6L))  // file 2: dups arrive later
    val streamed = runStream(dir, "nd_multi", maxFilesPerTrigger = Some(1))
    // docs 3/6 duplicate docs 1/2 from the PREVIOUS batch — only the
    // cross-batch bucket state can know that
    assert(!streamed(1L) && !streamed(2L) && !streamed(5L))
    assert(streamed(3L) && streamed(4L) && streamed(6L))
  }

  test("cross-batch id reordering: first-seen-wins (late smaller id suppressed)") {
    import DedupStreams.BandedDoc
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[BandedDoc]
    val q = DedupStreams.nearDupSuppressStream(ms.toDS(), horizon = "10 minutes")
      .writeStream.format("memory").queryName("nd_reorder")
      .outputMode(OutputMode.Append).start()
    try {
      def ts(i: Long) = new java.sql.Timestamp(1700000000000L + i * 1000L)
      // batch 1: the larger id claims the bucket and is kept
      ms.addData(BandedDoc(10L, ts(10), band = 0, bucket = 42L))
      q.processAllAvailable()
      // batch 2: a smaller id lands in the same bucket late — IT is
      // suppressed (the keep verdict for 10 is already emitted)
      ms.addData(BandedDoc(5L, ts(5), band = 0, bucket = 42L))
      q.processAllAvailable()
      val got = spark.table("nd_reorder").collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(got == Map(10L -> false, 5L -> true))
    } finally q.stop()
  }
}
