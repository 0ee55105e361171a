package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    Queries are broadcast (a top-k search has few queries by
  *    construction); the corpus streams through codegen'd higher-order
  *    expressions, ranked per query by a window. At 100 TB the corpus side
  *    stays partition-parallel and nothing but (query × k) rows survive
  *    the rank filter.
  *  - sign-LSH bucketed search with [[multiprobe]] (flip each of the
  *    `bits` bucket bits) — the scale path q40 runs: the corpus is
  *    bucketed once ([[Dedup.signBucket]], shuffle on bucket key), each
  *    query probes 1+bits buckets, so cost per query is the bucket
  *    occupancy, not the corpus size, and [[rankTopK]] ranks the
  *    candidates. Recall vs the exact baseline is asserted in
  *    SimilaritySpec.
  */
object Similarity {

  import Dedup.cosine

  /** Shared ranking tail: score candidate (query_id, qv, corpus_id, cv)
    * pairs with 6dp-rounded cosine and keep the per-query top-k (ties
    * broken by corpus id — deterministic across engines and runs). The
    * SQL oracles re-derive exactly this stage over aux-shared frames. */
  def rankTopK(cands: DataFrame, k: Int): DataFrame = {
    val scored = cands.withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "sim", "rank")
  }

  /** Exact cosine top-k: returns (queryIdCol, corpusIdCol, sim, rank).
    * Similarity is rounded to 6 dp and ranking is tie-broken by corpus id
    * so results are deterministic across engines and runs. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     queryIdCol: String, corpusIdCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val c = corpus.select(col(corpusIdCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
    rankTopK(c.crossJoin(q), k)
  }

  /** Sign-LSH multiprobe list of a `bits`-bit bucket key: the bucket
    * itself, then the `bits` hamming-1 neighbours (flip each bit once).
    * A query that probes every listed bucket searches its own bucket
    * plus every bucket one hyperplane away. */
  def multiprobe(bucket: Column, bits: Int): Column =
    concat(array(bucket),
      transform(sequence(lit(0), lit(bits - 1)),
        i => bucket.bitwiseXOR(call_function("shiftleft", lit(1L), i))))

  /** Majority vote over retrieved neighbors: (query_id, predicted, votes),
    * ties broken by label — the k-NN classification tail q42 runs over
    * its [[rankTopK]] neighbours. */
  def majorityVote(topk: DataFrame, labels: DataFrame): DataFrame =
    topk.join(labels, Seq("corpus_id"))
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("votes"), col("label"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("label").as("predicted"), col("votes"))

  /** Late-interaction (ColBERT-style) MaxSim scoring: an ENTITY is a
    * bag of vectors; against a bounded query-vector panel its score is
    * Σ over query vectors of the max dot product over the entity's
    * members — the multi-vector retrieval model, scored here
    * integer-exactly on the shared [[SemDedup.quantizedArr]]
    * quantization (codegen'd int_dot, argmax ties to the smaller
    * member id).
    *
    * Scale shape: queries BROADCAST (the panel is bounded by the
    * caller's filter — the q39/q295 probe-panel convention), one
    * row-local kernel projection per (member, query), one map-side-
    * combined (entity, query) max-agg, one entity-partitioned sum
    * window over the ENTITY-sized frame. No per-dimension explosion,
    * no pairwise entity term.
    *
    * Output: (entity, qid, max_dot, best_vec, entity_score). */
  def maxSim(emb: DataFrame, entityCol: String,
             isQuery: org.apache.spark.sql.Column): DataFrame = {
    import graft.functions.GraftFunctions.int_dot
    val qv = SemDedup.quantizedArr(emb)
      .join(emb.select(col("vec_id"),
        col(entityCol).cast("long").as("entity")), "vec_id")
    val queries = qv.filter(isQuery)
      .select(col("vec_id").as("qid"), col("qa").as("qqa"))
    val mx = qv
      .crossJoin(broadcast(queries))
      .select(col("entity"), col("qid"), col("vec_id"),
        int_dot(col("qa"), col("qqa")).as("dot"))
      .groupBy("entity", "qid")
      .agg(max(struct(col("dot").as("dot"),
        (-col("vec_id")).as("nv"))).as("m"))
      .select(col("entity"), col("qid"), col("m.dot").as("max_dot"),
        (-col("m.nv")).as("best_vec"))
    val byEntity = org.apache.spark.sql.expressions.Window.partitionBy("entity")
    mx.withColumn("entity_score", sum(col("max_dot")).over(byEntity))
  }
}
