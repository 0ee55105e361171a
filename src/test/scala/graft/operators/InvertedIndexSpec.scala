package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class InvertedIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private lazy val docs =
    graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")

  // the base store the first test writes is the one the pruning test scans
  private lazy val storeDir =
    java.nio.file.Files.createTempDirectory("graft-invidx").toString
  private lazy val basePath = s"$storeDir/test-invidx-base"

  private def searchPairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("segmented store search ≡ on-the-fly phraseSearch over the " +
      "full corpus (multi-word and repeated-word phrases)") {
    val base = docs.filter(col("doc_id") % 10 =!= 7)
    val delta = docs.filter(col("doc_id") % 10 === 7)
    val bp = InvertedIndex.segmentCached(
      InvertedIndex.postings(base, "doc_id", "text"),
      basePath)
    val dp = InvertedIndex.segmentCached(
      InvertedIndex.postings(delta, "doc_id", "text"),
      s"$storeDir/test-invidx-delta")
    Seq(Seq("hash", "join"), Seq("table", "hash"), Seq("a", "a")).foreach { ph =>
      val stored = searchPairs(
        InvertedIndex.phraseSearchStored(spark, Seq(bp, dp), ph)
          .select(col("doc").cast("long"), col("n_hits")))
      val direct = searchPairs(
        Retrieval.phraseSearch(docs, "doc_id", "text", ph)
          .select(col("doc_id"), col("n_hits")))
      assert(stored == direct, s"phrase $ph")
    }
    // the delta segment is load-bearing: dropping it loses delta hits
    val baseOnly = searchPairs(
      InvertedIndex.phraseSearchStored(spark, Seq(bp), Seq("hash", "join"))
        .select(col("doc").cast("long"), col("n_hits")))
    val full = searchPairs(
      Retrieval.phraseSearch(docs, "doc_id", "text", Seq("hash", "join"))
        .select(col("doc_id"), col("n_hits")))
    assert(baseOnly != full, "fixture degenerate: no delta-split hits")
  }

  test("bucket pruning: a phrase query scans only its terms' bucket dirs") {
    val path = basePath
    val all = spark.read.parquet(s"$path/postings")
    val total = graft.sources.StructureStore.filesScanned(all, "test-invidx-base")
    val pruned = graft.sources.StructureStore.filesScanned(
      InvertedIndex.phraseSearchStored(spark, Seq(path), Seq("hash", "join")),
      "test-invidx-base")
    assert(pruned > 0 && pruned < total,
      s"scan not pruned: $pruned of $total files")
  }

  test("delta build touches only delta postings (incremental cost)") {
    val delta = docs.filter(col("doc_id") % 10 === 7)
    val p = InvertedIndex.postings(delta, "doc_id", "text")
    val expected = delta.select(
        size(filter(split(col("text"), " "), t => t =!= "")).as("n"))
      .agg(sum("n")).collect().head.getLong(0)
    assert(p.count() == expected)
  }
}
