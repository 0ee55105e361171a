package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class ImportanceStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = graft.tables.Tables.documents(spark, sf)

  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-imp").toString
    docs.coalesce(2).write.mode("overwrite").parquet(dir)
    dir
  }

  private lazy val weightMap: Map[String, Long] = {
    import graft.operators.Importance
    Importance.weights(spark, Importance.vocabCounts(
        docs, "doc_id", "text", col("lang") === "en", 512))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("streamed scores ≡ batch Importance.scores on the same corpus") {
    import graft.operators.Importance
    val batch = Importance.scores(docs, "doc_id", "text",
        Importance.weights(spark, Importance.vocabCounts(
          docs, "doc_id", "text", col("lang") === "en", 512)))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val q = ImportanceStreams.scoreStream(
        spark.readStream.schema(docs.schema).parquet(streamDir),
        "doc_id", "text", weightMap)
      .writeStream.format("memory").queryName("imp_scores")
      .outputMode(OutputMode.Append).start()
    val streamed =
      try {
        q.processAllAvailable()
        // zero stateful operators: scoring is row-local by design
        assert(q.lastProgress.stateOperators.isEmpty)
        spark.sql("SELECT * FROM imp_scores ORDER BY doc_id")
          .collect().map(_.toString).toSeq
      } finally q.stop()
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("zero-hit and null docs are absent (the batch inner-join contract)") {
    import spark.implicits._
    val w = Map("a" -> 5L, "b" -> -3L)
    val got = ImportanceStreams.scoreStream(
        Seq((1L, "a a b"), (2L, "zzz qqq"), (3L, null.asInstanceOf[String]),
          (4L, "")).toDF("doc_id", "text"),
        "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((7L, 3L))))
  }
}
