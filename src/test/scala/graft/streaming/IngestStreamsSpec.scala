package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

import graft.operators.Dedup

class IngestStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("ts", TimestampType),
    StructField("text", StringType)))

  /** Standing corpus: two documents. */
  private def corpus = {
    import spark.implicits._
    Seq((100L, "alpha body text"), (101L, "beta body text"))
      .toDF("doc_id", "text")
  }

  // batch rows: 1 fresh, 2 corpus dup, 3 fresh first-of-hash, 4 in-stream
  // dup of 3, 5 corpus dup AND in-stream dup of 2, 6 null text (hashes
  // as '' — fresh, no '' in corpus)
  private val texts = Map[Long, String](
    1L -> "gamma body text", 2L -> "alpha body text",
    3L -> "delta body text", 4L -> "delta body text",
    5L -> "alpha body text", 6L -> null)

  private def writeDocs(dir: String, ids: Seq[Long]): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => org.apache.spark.sql.Row(
        i, new java.sql.Timestamp(1700000000000L + i * 1000L), texts(i))), 1),
      docSchema).coalesce(1).write.mode("append").parquet(dir)

  private def runStream(dir: String, name: String,
                        maxFilesPerTrigger: Option[Int] = None): Map[Long, (Boolean, Boolean)] = {
    val reader = spark.readStream.schema(docSchema)
    val stream = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n)).parquet(dir)
    val q = IngestStreams.admissionStream(
        IngestStreams.hashedDocs(stream, "doc_id", "ts", "text",
          corpus, "text"),
        horizon = "10 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.nonEmpty) // stateful by design
    } finally q.stop()
    spark.table(name).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
  }

  private def batchExpected(ids: Seq[Long]): Map[Long, (Boolean, Boolean)] = {
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => org.apache.spark.sql.Row(
        i, new java.sql.Timestamp(0L), texts(i))), 1), docSchema)
    Dedup.admissionFlags(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1) == 1L, r.getLong(2) == 1L)))
      .toMap
  }

  test("single micro-batch: verdicts ≡ batch admissionFlags") {
    val dir = Files.createTempDirectory("graft-ingest1").toString
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L)
    writeDocs(dir, ids)
    val got = runStream(dir, "ingest_one")
    assert(got == batchExpected(ids))
    // content sanity incl. the NULL-text contract (every row verdicts)
    assert(got(1L) == ((false, false)) && got(2L) == ((true, false)))
    assert(got(3L) == ((false, false)) && got(4L) == ((false, true)))
    assert(got(5L) == ((true, true)) && got(6L) == ((false, false)))
  }

  test("per-hash state carries across micro-batches (id-ordered arrival)") {
    val dir = Files.createTempDirectory("graft-ingest2").toString
    writeDocs(dir, Seq(1L, 2L, 3L))      // firsts
    Thread.sleep(1100)                   // distinct mtimes → batch order
    writeDocs(dir, Seq(4L, 5L, 6L))      // dups of earlier-batch docs
    val got = runStream(dir, "ingest_multi", maxFilesPerTrigger = Some(1))
    assert(got.size == 6)
    // 4 duplicates 3 from the PREVIOUS micro-batch; only carried state
    // can know that. 5's in-stream dup (of 2) likewise crosses batches.
    assert(got(4L) == ((false, true)) && got(5L) == ((true, true)))
    // corpus flag is stateless and batch-independent
    assert(got(2L) == ((true, false)) && got(6L) == ((false, false)))
    assert(got == batchExpected(Seq(1L, 2L, 3L, 4L, 5L, 6L)))
  }

  test("cross-batch id reordering: first-seen-wins (late smaller id flagged)") {
    import IngestStreams.HashedDoc
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[HashedDoc]
    val q = IngestStreams.admissionStream(ms.toDS(), horizon = "10 minutes")
      .writeStream.format("memory").queryName("ingest_reorder")
      .outputMode(OutputMode.Append).start()
    try {
      def ts(i: Long) = new java.sql.Timestamp(1700000000000L + i * 1000L)
      // batch 1: the LARGER id arrives first and is admitted
      ms.addData(HashedDoc(10L, ts(10), "H", in_corpus = false))
      q.processAllAvailable()
      // batch 2: the smaller id arrives late — its hash already has
      // state, so IT is the flagged one (the id-10 keep verdict is
      // already emitted and cannot be retracted); admitting both would
      // let identical content through the gate twice
      ms.addData(HashedDoc(5L, ts(5), "H", in_corpus = false))
      q.processAllAvailable()
      val got = spark.table("ingest_reorder").collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(got == Map(10L -> false, 5L -> true))
    } finally q.stop()
  }
}
