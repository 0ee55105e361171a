package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus curation operators: deterministic sampling,
  * vocabulary building, PII scrubbing, benchmark decontamination and
  * sequence-packing bookkeeping — the selection/cleaning stages that sit
  * between dedup ([[Dedup]]) and training in a large-scale data
  * pipeline. (The reference engine stops at fetch/filter/join; these are
  * the net-new pipeline stages this engine adds, like [[TextAnalysis]].)
  *
  * Everything here is integer/string-deterministic by construction — no
  * RNG state, no floats — so results are bit-identical across engines,
  * runs and partitionings, and every operator is oracle-gated
  * (q71–q75).
  */
object Curation {

  /** Deterministic hash-ordered stratified sample: per stratum keep the
    * `n` rows with the smallest `(md5(id), id)`. md5 of the id string is
    * uniform over strata members, so this IS a uniform without-
    * replacement sample, but carries no RNG state: reproducible across
    * runs, engines (md5 hex compares bytewise the same everywhere) and
    * cluster sizes, unlike `df.sample` whose output depends on partition
    * layout. One shuffle on the stratum key; the window never runs
    * unpartitioned. Output adds `sample_rank` (1-based hash-order rank
    * inside the stratum). */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       n: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= n)
  }

  /** Corpus vocabulary: whitespace token → total occurrences (`tf`) and
    * document frequency (`df_docs`), thresholded at `minTf`. explode →
    * groupBy(token) is the canonical word-count shape: partial (map-
    * side) aggregation absorbs the token explosion before the single
    * shuffle on token. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
                 minTf: Long): DataFrame =
    df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), count_distinct(col("id")).as("df_docs"))
      .filter(col("tf") >= minTf)

  /** Email + E.164-ish phone patterns, written to the common subset of
    * Java regex and RE2 (char classes + bounded repetition only) so the
    * DuckDB oracle matches byte-for-byte. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "\\+[0-9]{7,15}"

  /** PII scrub: emails then phone numbers replaced with typed tags.
    * Row-local regexp_replace — codegen'd, no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailRe), lit(0)))
  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PhoneRe), lit(0)))

  /** Benchmark decontamination screen: flag corpus documents sharing at
    * least one shingle with a held-out benchmark set, with the hit
    * count. `postings` is a distinct (id, shingle) inverted index
    * ([[Dedup.ngramPostings]]); `isBench` is a predicate over `id`
    * selecting the benchmark rows. The benchmark shingle set is
    * broadcast — benchmark suites are fixed-size (thousands of docs)
    * regardless of corpus scale, so at 100 TB this stays a map-side
    * semi-join-with-count: one pass over corpus postings, no shuffle of
    * the corpus side. Postings are unique per (id, shingle) and the
    * bench side is distinct, so count(*) counts distinct contaminated
    * shingles. */
  def contaminationScreen(postings: DataFrame, isBench: Column): DataFrame = {
    val bench = postings.filter(isBench).select("shingle").distinct()
    postings.filter(!isBench)
      .join(broadcast(bench), Seq("shingle"))
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
  }

  /** Concat-and-chunk sequence-packing bookkeeping: documents are
    * conceptually concatenated in `idCol` order within a
    * (stratum, shard) stream and cut every `budget` tokens; each doc is
    * assigned the pack where it starts (`pack_id`) and its token offset
    * inside that pack (`pack_offset`). This is the bookkeeping for
    * GPT-style pretraining packing, and the sharded form is the one that
    * scales: the running sum is per (stratum, shard), so shard width
    * bounds window-partition size no matter how large the corpus — the
    * audit-banned unpartitioned window never appears. */
  def packAssignments(df: DataFrame, strataCol: String, shardCol: String,
                      idCol: String, nTokensCol: String,
                      budget: Long): DataFrame = {
    val w = Window.partitionBy(col(strataCol), col(shardCol))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("cum_before",
        coalesce(sum(col(nTokensCol).cast("long")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div $budget"))
      .withColumn("pack_offset", col("cum_before") % budget)
  }

  /** Leakage-safe fold assignment: a train/eval split that hashes raw
    * ids leaks — two near-duplicate documents can land on opposite
    * sides, and the eval side then scores memorization. Fold by the
    * near-dup GROUP instead: over a component assignment (id, comp) of
    * the verified near-dup pairs ([[Dedup.connectedComponents]] — star
    * contraction, O(log n) rounds), fold = component min-id mod
    * `folds`, so every member of a group lands in the same fold by
    * construction. The group map is built once (and typically
    * persisted; see Aux.share's write-once store) and fold assignment
    * is a cheap derivation over it. Output: (id, comp, fold) for every
    * id in a pair; singleton docs (no pair) are their own group and can
    * be folded by raw id downstream. All-integer (q119's oracle
    * recomputes the components by recursive reachability and must
    * agree on every fold count). */
  def foldsFromComponents(comps: DataFrame, folds: Int): DataFrame = {
    require(folds > 0)
    comps.withColumn("fold", pmod(col("comp"), lit(folds.toLong)))
  }

  /** MDM survivorship / golden-record selection: one winner per
    * duplicate cluster by the deterministic rule (priority ASC, id ASC)
    * — "most trusted system first, oldest record breaks ties", the
    * standard master-data consolidation step after entity resolution.
    * Output per cluster: the surviving id and its priority, the member
    * count, and how many distinct source priorities contributed
    * (n_prios > 1 = a genuinely cross-system merge).
    *
    * Scale: the rank window and the aggregation hash the SAME cluster
    * key — one exchange; no cluster² term anywhere (survivor selection
    * is a rank, not a pairwise compare). All output integral except the
    * cluster key. */
  /** k-anonymity audit — the privacy complement of [[redactPii]]: every
    * quasi-identifier combination whose group is smaller than k, i.e.
    * the cells where a released dataset would let a linker re-identify
    * individuals. One map-side-combined aggregation over the QI key +
    * a size filter; output is the suppression/generalization worklist
    * (qi..., n), n < k. Scale: cell cardinality is the product of QI
    * domains, never row count; the shuffle is the QI key. */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    require(qiCols.nonEmpty && k >= 2, s"need QI columns and k >= 2 (got $k)")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }

  /** l-diversity audit — [[kAnonymityAudit]]'s companion for ATTRIBUTE
    * disclosure: a QI cell can be k-large yet still leak if (almost)
    * every member shares the same sensitive value, so each cell reports
    * its DISTINCT sensitive-value count against l. Report shape (every
    * cell + pass flag, never a possibly-empty violation filter — the
    * q266 constraint-audit convention): (qi..., n, n_sens,
    * pass = n_sens ≥ l). One QI-keyed aggregation with a partial
    * distinct; cell cardinality is the QI domain product, never rows.
    * `sensCol` is a COLUMN the caller derives; keep its arithmetic
    * non-negative when it buckets a numeric (div ≠ DuckDB `//` on
    * negatives — the oracle-mirroring ground rule). */
  def lDiversityAudit(df: DataFrame, qiCols: Seq[String], sensCol: Column,
                      l: Long): DataFrame = {
    require(qiCols.nonEmpty && l >= 2, s"need QI columns and l >= 2 (got $l)")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"), count_distinct(sensCol).as("n_sens"))
      .withColumn("pass", col("n_sens") >= l)
  }

  def goldenRecords(records: DataFrame, clusterCol: String,
                    prioCol: String, idCol: String): DataFrame = {
    val byCluster = Window.partitionBy(clusterCol)
      .orderBy(col(prioCol).asc, col(idCol).asc)
    records
      .withColumn("_rn", row_number().over(byCluster))
      .groupBy(col(clusterCol).as("cluster"))
      .agg(
        max(when(col("_rn") === 1, col(idCol))).as("survivor_id"),
        max(when(col("_rn") === 1, col(prioCol))).as("survivor_prio"),
        count(lit(1)).as("n_members"),
        count_distinct(col(prioCol)).as("n_prios"))
  }

  /** Deterministic content-hash shard id in [0, shards): the first 8
    * hex digits of md5("<id>:<text>") as an unsigned 32-bit value, mod
    * the shard count — the stable output-layout router a corpus writer
    * uses (same doc → same shard across runs and engines; no RNG, no
    * Spark-internal hash, so any SQL engine re-derives it). Content in
    * the key means a re-ingested doc with a new id moves shards but
    * identical (id, text) never does. */
  def shardOf(id: Column, text: Column, shards: Int): Column = {
    require(shards >= 1 && shards <= (1 << 20), "shards: 1..2^20")
    conv(substring(md5(concat(id.cast("string"), lit(":"), text)), 1, 8),
      16, 10).cast("long") % shards
  }

  /** Rendezvous (highest-random-weight) shard for `id` among `shards`
    * buckets: argmax over s of md5("<id>:<s>") — the routing scheme
    * whose defining property is MINIMAL MOVEMENT under resize (growing
    * N→N+1 moves only the ~n/(N+1) keys whose new bucket wins the
    * argmax; [[shardOf]]-style mod hashing reshuffles ~N/(N+1) of the
    * corpus). Engine-neutral like shardOf: the compared key is the hex
    * digest with ":<s>" appended, so any SQL engine re-derives the
    * winner byte-for-byte (all-ASCII keys; the suffix only ever breaks
    * a 128-bit md5 collision). Row-local — `shards` hashes per row,
    * zero shuffle. */
  def rendezvousShard(id: Column, shards: Int): Column = {
    require(shards >= 1 && shards <= 64, "shards: 1..64 (hashes per row)")
    val keys = (0 until shards).map(s =>
      concat(md5(concat(id.cast("string"), lit(s":$s"))), lit(s":$s")))
    val top = if (keys.size == 1) keys.head else greatest(keys: _*)
    split(top, ":").getItem(1).cast("long")
  }

  /** Resize-movement audit for growing a layout `from` → `to` shards:
    * per current shard, how many docs move under rendezvous routing vs
    * under mod routing — the before-you-commit readout that justifies a
    * rendezvous layout at 100 TB (a mod resize rewrites almost the
    * whole corpus; rendezvous rewrites ~1/(to) of it). Two bounded
    * aggregations (≤ `from` groups each) over one row-local projection,
    * joined on the shard id.
    *
    * Cache ownership: persists the shared row-local frame (two
    * consumers — the AQE-reuse rule); the CALLER releases after
    * materializing — graft.Caches.releaseAll (docs/CACHE_POLICY.md). */
  def rebalanceAudit(df: DataFrame, idCol: String, from: Int, to: Int): DataFrame = {
    require(from >= 1 && to >= 1 && from != to, s"from=$from to=$to")
    val base = df.select(col(idCol).as("_id"))
      .withColumn("_rv_from", rendezvousShard(col("_id"), from))
      .withColumn("_rv_to", rendezvousShard(col("_id"), to))
      .withColumn("_hm",
        conv(substring(md5(col("_id").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .persist()
    val rv = base.groupBy(col("_rv_from").as("shard"))
      .agg(count(lit(1)).as("rv_docs"),
        sum(when(col("_rv_from") =!= col("_rv_to"), 1L).otherwise(0L))
          .as("rv_moved"))
    val md = base.groupBy((col("_hm") % from).as("shard"))
      .agg(count(lit(1)).as("mod_docs"),
        sum(when(col("_hm") % from =!= col("_hm") % to, 1L).otherwise(0L))
          .as("mod_moved"))
    rv.join(md, "shard")
  }

  /** Shard-balance audit for a planned `shards`-way layout: per shard,
    * row count, total payload chars, and the id range — the skew
    * readout a writer checks BEFORE committing a partitioning (a fat
    * shard = a straggler task and an oversized file at 100 TB; the
    * audit is one map-side-combined aggregation over a row-local hash,
    * no shuffle wider than `shards` groups). */
  def shardBalance(docs: DataFrame, idCol: String, textCol: String,
                   weightCol: String, shards: Int): DataFrame =
    docs.select(shardOf(col(idCol), col(textCol), shards).as("shard"),
        col(idCol).as("id"), col(weightCol).as("w"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("w").cast("long")).as("chars"),
        min("id").as("min_id"), max("id").as("max_id"))
}
