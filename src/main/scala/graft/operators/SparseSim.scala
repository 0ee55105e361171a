package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse-vector cosine via the inverted index — the tf-weighted
  * complement of [[Dedup.ngramJaccardNearDupsFromPostings]]: document
  * pairs scored by the integer dot product of their term-frequency
  * vectors, generated by a posting-list join instead of an all-pairs
  * product. Emits the INTEGER components (dot, ‖a‖², ‖b‖²) — cosine =
  * dot/√(‖a‖²·‖b‖²) is a float left to the consumer, and thresholding
  * "cosine ≥ p/q" is exact integer cross-multiplication
  * (q²·dot² ≥ p²·‖a‖²·‖b‖², dot ≥ 0).
  *
  * Scale contract (the q69 df-cap argument): pair generation joins
  * only postings of terms with df ≤ maxDf, so candidate cost is
  * Σ_term df² — linear in the corpus for a fixed cap, never |docs|².
  * The DOT therefore counts capped-vocabulary terms only (documented
  * approximation: common terms contribute no discrimination and are
  * exactly the quadratic-blowup terms); the NORMS are over the FULL
  * vocabulary, so the score is a lower bound of the true cosine.
  */
object SparseSim {

  /** Shared pair generator (r13 optimization round, guide §2.4): the
    * df cap stays the codegen'd count aggregation + semi-join of the
    * old shape (measured: a bounded object-collector over the FULL
    * term stream cost 9× the Σtask — interpreted per-row update beats
    * nothing when most terms are over-cap), but the pair stage then
    * collects each surviving term's ≤ maxDf postings on the join's
    * OWN term partitioning (no new exchange; the buffer is df-capped
    * by the filter upstream, guide §2.5) and explodes pairs
    * ROW-LOCALLY from the id-ascending list — where the old shape
    * re-ran the whole tf subtree for the second join side and paid
    * another term exchange + join stage for the same pair multiset.
    * `score(tf_a, tf_b)` is summed per pair (tf·tf for cosine, min
    * for weighted Jaccard); long sums are exact, so the result is
    * order-independent. Generators capture only agg-barrier outputs
    * (captured-array HOF rule, GlobalPlanAuditSpec-walked). */
  private def cappedPairScores(t: DataFrame, maxDf: Long,
                               score: (Column, Column) => Column): DataFrame = {
    // one row per (id, term), so per-term row count IS the df
    val rareTerms = t.groupBy("term").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select("term")
    val posts = t.join(rareTerms, "term")
      .groupBy("term")
      .agg(sort_array(collect_list(struct(col("id"), col("tf")))).as("ps"))
    posts
      .select(posexplode(col("ps")).as(Seq("i", "pa")), col("ps"))
      .select(col("pa"),
        explode(slice(col("ps"), col("i") + lit(2),
          size(col("ps")) - col("i") - lit(1))).as("pb"))
      .select(col("pa.id").as("id_a"), col("pb.id").as("id_b"),
        score(col("pa.tf"), col("pb.tf")).as("_s"))
      // id-ascending lists already give id_a < id_b; a duplicated
      // (id, term) row would pair an id with itself
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(sum(col("_s")).as("_score"))
  }

  /** Core over a prepared (id, term, tf) frame — one row per
    * (id, term), `tf` the integer weight. Output: pairs (id_a < id_b)
    * with capped-vocab dot ≥ minDot, plus both full-vocabulary squared
    * norms. */
  def cosineComponentsOfTf(tf: DataFrame, maxDf: Long, minDot: Long): DataFrame = {
    val t = tf.select(col("id"), col("term"), col("tf").cast("long").as("tf"))
    val norms = t.groupBy("id")
      .agg(sum(col("tf") * col("tf")).as("norm2"))
    cappedPairScores(t, maxDf, (a, b) => a * b)
      .withColumnRenamed("_score", "dot")
      .filter(col("dot") >= minDot)
      .join(norms.select(col("id").as("id_a"), col("norm2").as("norm2_a")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("norm2").as("norm2_b")), "id_b")
      .select("id_a", "id_b", "dot", "norm2_a", "norm2_b")
  }

  /** Text convenience: terms are whitespace-token BIGRAMS (unigrams
    * carry no discrimination in a small-vocabulary corpus — every
    * word is common and the df cap would empty the index; adjacent
    * pairs explode the term space, the [[Retrieval.bigramsOf]]
    * rationale). */
  def cosineComponents(docs: DataFrame, idCol: String, textCol: String,
                       maxDf: Long, minDot: Long): DataFrame = {
    val tf = docs
      .select(col(idCol).as("id"),
        Retrieval.cleanTokens(col(textCol)).as("_toks"))
      .select(col("id"), explode(Retrieval.bigramsOf(col("_toks"))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    cosineComponentsOfTf(tf, maxDf, minDot)
  }

  /** Weighted (multiset) Jaccard over a prepared (id, term, tf) frame:
    * J_w(a,b) = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b) — the
    * tf-weighted Jaccard that SET Jaccard (q69) flattens. The
    * denominator needs the full term union, but Σmax = sz_a + sz_b −
    * Σmin with sz = Σ_t tf, so the join only ever touches SHARED
    * terms: num from the df-capped posting join (the q69 Σ df² cost
    * contract; common terms contribute no discrimination — the capped
    * num is a documented lower bound of the true numerator), sizes
    * from one per-doc aggregate over the FULL vocabulary. Output:
    * (id_a < id_b, wj_num, sz_a, sz_b) for pairs with num ≥ minShared
    * — J_w = num/(sz_a + sz_b − num) is exactly determined, and a
    * "J_w ≥ p/q" threshold is integer cross-multiplication. */
  def weightedJaccardComponentsOfTf(tf: DataFrame, maxDf: Long,
                                    minShared: Long): DataFrame = {
    val t = tf.select(col("id"), col("term"), col("tf").cast("long").as("tf"))
    val sizes = t.groupBy("id").agg(sum(col("tf")).as("sz"))
    cappedPairScores(t, maxDf, (a, b) => least(a, b))
      .withColumnRenamed("_score", "wj_num")
      .filter(col("wj_num") >= minShared)
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select("id_a", "id_b", "wj_num", "sz_a", "sz_b")
  }

  /** Text convenience for [[weightedJaccardComponentsOfTf]] — bigram
    * terms, the [[cosineComponents]] rationale. */
  def weightedJaccardComponents(docs: DataFrame, idCol: String,
                                textCol: String, maxDf: Long,
                                minShared: Long): DataFrame = {
    val tf = docs
      .select(col(idCol).as("id"),
        Retrieval.cleanTokens(col(textCol)).as("_toks"))
      .select(col("id"), explode(Retrieval.bigramsOf(col("_toks"))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    weightedJaccardComponentsOfTf(tf, maxDf, minShared)
  }
}
