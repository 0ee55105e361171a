package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SemDedupStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val sf = "/root/testdata/sf0.001"
  private val K = 8

  private lazy val emb = graft.tables.Tables.embeddings(spark, sf)

  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-semassign").toString
    emb.coalesce(2).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Frozen centroids: the k smallest-id vectors' quantized dims —
    * derived the way the batch operator's seedTable does (orderBy +
    * limit, NOT `vec_id < K`: regenerated testdata ids need not start
    * at 0 — ADVICE r8). */
  private lazy val centroids: Map[Long, Array[Long]] =
    graft.operators.SemDedup.quantized(emb.orderBy("vec_id").limit(K))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getLong(1)).map(_.getLong(2))
      }

  test("streamed assignment ≡ batch SemDedup.assignments") {
    val batch = graft.operators.SemDedup.assignments(emb, K)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    val q = SemDedupStreams.assignStream(
        spark.readStream.schema(emb.schema).parquet(streamDir), centroids)
      .writeStream.format("memory").queryName("sem_assign")
      .outputMode(OutputMode.Append).start()
    val streamed =
      try {
        q.processAllAvailable()
        // zero stateful operators: assignment is row-local by design
        assert(q.lastProgress.stateOperators.isEmpty)
        spark.sql("SELECT * FROM sem_assign ORDER BY vec_id")
          .collect().map(_.toString).toSeq
      } finally q.stop()
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("assignment ties resolve to the smallest centroid id") {
    import spark.implicits._
    // centroid 0 at (1,0), centroid 1 at (0,1): (0.5, 0.5) ties → 0
    val cents = Map(0L -> Array(1000000L, 0L), 1L -> Array(0L, 1000000L))
    val got = SemDedupStreams.assignStream(
        Seq((7L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding"), cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(7L -> 0L))
  }
}
