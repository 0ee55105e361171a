package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted positional inverted index with INCREMENTAL segment
  * maintenance — the text-retrieval twin of [[IvfIndex]]'s LSM story:
  * the base posting store is immutable; a delta batch of documents
  * lands as its own segment (only ITS postings are computed — the base
  * corpus is never rescanned), and queries read the segment union.
  * This is how every production text index ingests (Lucene segments);
  * [[Retrieval.phraseSearch]] builds the same postings per query —
  * this operator materializes them once and reuses them.
  *
  * Layout: postings (term, doc, pos) partitioned by `bucket =
  * pmod(xxhash64(term), nBuckets)` — term-sharded `bucket=N/` dirs, so
  * a phrase query prunes the scan to its terms' buckets (≤ one dir per
  * phrase word per segment) instead of reading the posting store
  * (StructureStore.filesScanned proves it in InvertedIndexSpec).
  * Positions are raw `split(text, " ")` indices — the
  * [[Retrieval.phraseSearch]] contract.
  *
  * Scale shape: build = one posexplode scan of (only) the new docs,
  * shuffled once by bucket at write; search = bucket-pruned scans +
  * the q94 (doc, pos+i) equi-join chain, candidate cost Σ posting(w_i)
  * across segments, never positions².
  */
object InvertedIndex {

  val NBuckets = 16

  /** (term, doc, pos, bucket) postings for `docs` — the unit of
    * segment construction; row-local except the write shuffle. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(NBuckets)))

  /** Write postings as a bucket-partitioned segment under
    * `path/postings` through the write-once store
    * [[graft.Aux.writeFrameOnce]]. Returns `path`. */
  def segmentCached(postings: DataFrame, path: String): String = {
    graft.Aux.writeFrameOnce(postings, path, java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "postings", "_SUCCESS")))(
      graft.sources.StructureStore.writePartitioned(_, s"$path/postings", "bucket"))
    path
  }

  /** Phrase search over the UNION of stored segments, bucket-pruned at
    * every scan: same output contract as [[Retrieval.phraseSearch]]
    * ((idCol=doc, n_hits), overlapping occurrences counted). */
  def phraseSearchStored(spark: SparkSession, segmentPaths: Seq[String],
                         phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty && phrase.size <= 8, "phrase: 1..8 words")
    val buckets = phrase.distinct
      .map(t => Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType, 42L), NBuckets.toLong))
      .distinct
    val toks = segmentPaths
      .map(p => spark.read.parquet(s"$p/postings"))
      .reduce(_.unionByName(_))
      .filter(col("bucket").isin(buckets: _*))   // partition-pruned scan
      .filter(col("term").isin(phrase.distinct: _*))
      .select(col("doc"), col("pos"), col("term"))
    val anchor = toks.filter(col("term") === phrase.head)
      .select(col("doc"), col("pos"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(anchor) {
      case (acc, (w, i)) =>
        val pi = toks.filter(col("term") === w)
          .select(col("doc").as("d2"), col("pos").as("p2"))
        acc.join(pi, acc("doc") === pi("d2") && pi("p2") === acc("pos") + i)
          .select(acc("doc"), acc("pos"))
    }
    matched.groupBy("doc").agg(count(lit(1)).as("n_hits"))
  }
}
