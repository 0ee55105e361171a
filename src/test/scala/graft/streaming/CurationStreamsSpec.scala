package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class CurationStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType)))

  // 3 langs, skewed: en 6 docs, de 3, zh 1; quota 2 per lang
  private val rows = Seq(
    1L -> "en", 2L -> "de", 3L -> "en", 4L -> "zh", 5L -> "en",
    6L -> "de", 7L -> "en", 8L -> "de", 9L -> "en", 10L -> "en")

  private def write(dir: String, batch: Seq[(Long, String)]): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        batch.map { case (i, l) => org.apache.spark.sql.Row(i, l) }, 1), schema)
      .coalesce(1).write.mode("append").parquet(dir)

  private def run(dir: String, name: String,
                  filesPerTrigger: Option[Int]): Map[Long, Boolean] = {
    import spark.implicits._
    val reader = spark.readStream.schema(schema)
    val src = filesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n)).parquet(dir)
    val q = CurationStreams.quotaAdmitStream(
        src.as[CurationStreams.ScoredDoc], quota = 2)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      // stateful by design: one counter row per lang
      assert(q.lastProgress.stateOperators.nonEmpty)
      spark.sql(s"SELECT doc_id, admitted FROM $name")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    } finally q.stop()
  }

  /** Batch reference: first `quota` per lang by doc_id. */
  private def batchExpected: Map[Long, Boolean] = {
    val byLang = rows.groupBy(_._2)
    byLang.flatMap { case (_, docs) =>
      val admitted = docs.map(_._1).sorted.take(2).toSet
      docs.map { case (id, _) => id -> admitted.contains(id) }
    }
  }

  test("one micro-batch: admits the smallest ids per lang up to quota") {
    val dir = Files.createTempDirectory("graft-quota1").toString
    write(dir, rows.sortBy(_._1))
    assert(run(dir, "quota_one", None) == batchExpected)
  }

  test("quota state carries across micro-batches") {
    val dir = Files.createTempDirectory("graft-quota2").toString
    // three id-ordered files → micro-batches under trigger=1.
    // FileStreamSource orders files by mtime, which can TIE on a fast
    // filesystem, so batch order between the files is not guaranteed —
    // assert per-lang ADMITTED COUNTS (order-robust), which still
    // prove cross-batch state: without carry, each micro-batch would
    // admit up to the quota again and 'en' would exceed 2.
    val sorted = rows.sortBy(_._1)
    write(dir, sorted.take(4)); write(dir, sorted.slice(4, 7))
    write(dir, sorted.drop(7))
    val got = run(dir, "quota_multi", Some(1))
    assert(got.size == rows.size)
    val langOf = rows.toMap
    val counts = got.toSeq.filter(_._2).map { case (id, _) => langOf(id) }
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(counts == Map("en" -> 2, "de" -> 2, "zh" -> 1))
    // rejected = everything beyond the quota
    assert(got.values.count(_ == false) == rows.size - 5)
  }

  test("cross-batch reordering degrades to first-seen-wins (documented)") {
    import CurationStreams.ScoredDoc
    import spark.implicits._
    // MemoryStream pins exact micro-batch boundaries (a file source's
    // mtime ordering can tie — see the previous test), so this is the
    // one place the documented degradation is deterministic to assert:
    // HIGH ids arrive in batch 1, low ids late in batch 2.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[ScoredDoc]
    val q = CurationStreams.quotaAdmitStream(ms.toDS(), quota = 2)
      .writeStream.format("memory").queryName("quota_reorder")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(ScoredDoc(9, "en"), ScoredDoc(10, "en"), ScoredDoc(8, "de"))
      q.processAllAvailable()
      ms.addData(ScoredDoc(1, "en"), ScoredDoc(3, "en"), ScoredDoc(2, "de"),
        ScoredDoc(6, "de"), ScoredDoc(4, "zh"))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, admitted FROM quota_reorder")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      // first-seen-wins: en's budget was spent on 9/10 in batch 1, so
      // the late-arriving smaller ids 1/3 are REJECTED (batch first-N
      // -by-id would answer the opposite); de admits 8 then the
      // smallest of batch 2 (id order still applies WITHIN a batch).
      assert(got == Map(9L -> true, 10L -> true, 8L -> true,
        1L -> false, 3L -> false, 2L -> true, 6L -> false, 4L -> true))
    } finally q.stop()
  }
}
