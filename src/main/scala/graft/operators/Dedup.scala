package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH
  * near-dup, SimHash near-dup, n-gram Jaccard verification, and
  * embedding-cosine near-dup.
  *
  * Scale design (the whole point of these implementations):
  *  - NEVER all-pairs: candidate generation is always a bucket join
  *    (LSH bands / SimHash blocks / hyperplane-sign buckets), so the
  *    shuffle key is the bucket and cost is Σ bucket²  not n².
  *  - signatures are one-pass Scala UDFs ([[minhashSigOf]],
  *    [[simhashBitsOf]]): a nested higher-order-function form re-evaluates
  *    captured expressions per element (see [[minhashSigOf]]); banding,
  *    bucketing and hamming/cosine verification run as codegen'd native
  *    kernels.
  *  - pair verification (exact Jaccard / cosine) runs only on candidates.
  *  - survivors are chosen deterministically (min id per cluster) via a
  *    window, not dropDuplicates.
  */
object Dedup {

  // ---------- exact ----------

  /** Exact dedup on a normalized-text hash: winner = min(idCol) per group.
    * Returns the surviving rows. */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact-dup groups: hash → size + surviving id (for audit/reporting). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("survivor_id"))

  // ---------- shingles + MinHash + LSH ----------

  /** XOR-permutation constants for the minhash family g_i(h) = h ⊕ r_i —
    * each g_i is a bijection of the hash space (a valid permutation
    * family over uniform base hashes). */
  private val MaxHashes = 256
  private[operators] val minhashPerms: Array[Long] = {
    val rnd = new scala.util.Random(0x5EED)
    Array.fill(MaxHashes)(rnd.nextLong())
  }

  /** XXH64 with seed 42 — bit-identical to the SQL `xxhash64()` builtin,
    * so UDF-side signatures agree with any expression-side hashing. */
  private def xxh64(s: String): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }

  /** Word k-shingles of a single-space-tokenized text. */
  def shinglesOf(text: String, k: Int): Array[String] = {
    val toks = text.split(" ", -1)
    if (toks.length < k) Array(toks.mkString(" "))
    else Array.tabulate(toks.length - k + 1)(i => toks.slice(i, i + k).mkString(" "))
  }

  /** One-pass MinHash signature: shingle → one XXH64 → n XOR
    * permutations, all in a single row-local loop.
    *
    * Deliberately a UDF, not nested Catalyst higher-order functions: an
    * interpreted lambda body re-evaluates any captured expression per
    * element, so transform(perms, aggregate(transform(shingles(split…))))
    * recomputes the tokenization O(bands × hashes × shingles) times per
    * row — measured as the whole benchmark's bottleneck. The UDF is
    * O(shingles × hashes) long-ops per row. */
  def minhashSigOf(text: String, k: Int, numHashes: Int): Array[Long] = {
    val base = shinglesOf(text, k).map(xxh64)
    Array.tabulate(numHashes) { i =>
      val r = minhashPerms(i)
      var m = Long.MaxValue
      var j = 0
      while (j < base.length) { val v = base(j) ^ r; if (v < m) m = v; j += 1 }
      m
    }
  }

  def minhashSigUdf(k: Int, numHashes: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(numHashes <= MaxHashes)
    udf((text: String) => if (text == null) null else minhashSigOf(text, k, numHashes))
  }

  def shinglesUdf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => if (text == null) null else shinglesOf(text, k))

  /** Composed HOF banding — interpreted reference implementation. */
  private[operators] def lshBucketsHof(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
             xxhash64(concat_ws(",",
               transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
                 x => x.cast("string")))).as("bucket")))

  /** LSH banding: split the signature into `bands` equal rows and hash
    * each band → (band_idx, band_hash) bucket keys, exploded to rows —
    * native codegen'd kernel ([[graft.functions.LshBandsExpr]]),
    * bit-identical buckets to [[lshBucketsHof]] (same XXH64-seed-42 over
    * the same comma-joined text); this is the O(corpus) banding pass. */
  def lshBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.GraftFunctions.lsh_bands(sig, bands, rowsPerBand)

  /** (id, sig, sh): the materialized row-local stage of the MinHash
    * pipeline — everything downstream (banding, candidate join, exact
    * verification) is relational and can be independently re-derived by a
    * SQL oracle over the same frame (graft.Aux). */
  def minhashSigs(df: DataFrame, idCol: String, textCol: String,
                  shingleK: Int = 3, numHashes: Int = 64): DataFrame =
    df.select(col(idCol).as("id"),
      minhashSigUdf(shingleK, numHashes)(col(textCol)).as("sig"),
      shinglesUdf(shingleK)(col(textCol)).as("sh"))

  /** Candidate pairs from a materialized (id, sig, ...) frame: LSH band
    * bucket equi-join, id_a < id_b, distinct. */
  def minhashCandidatesFromSigs(sigs: DataFrame, bands: Int,
                                rowsPerBand: Int): DataFrame = {
    val bucketed = sigs
      .select(col("id"), explode(lshBuckets(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))
    val a = bucketed.select(col("id").as("id_a"), col("band"), col("bucket"))
    val b = bucketed.select(col("id").as("id_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Per-document LSH band suppression flag with id precedence: a doc is
    * suppressed iff ANY of its band buckets contains a smaller id. This
    * is the "keep the first, drop the rest" dedup policy as a flag
    * column, and it needs NO candidate self-join: min(id) per
    * (band, bucket), then min over each doc's buckets — two aggregations
    * with map-side partials, so at 100 TB the cost is two shuffles of
    * the banded rows, immune to the bucket-size² blowup a pairs join has
    * on hot buckets. Returns (id, suppressed 0/1). The streaming twin is
    * [[graft.streaming.DedupStreams.nearDupSuppressStream]] (same flags,
    * watermark-bounded state). */
  def bandSuppressed(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bucketed = sigs
      .select(col("id"), explode(lshBuckets(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))
    val minPer = bucketed.groupBy("band", "bucket").agg(min(col("id")).as("min_id"))
    bucketed.join(minPer, Seq("band", "bucket"))
      .groupBy("id")
      .agg(when(min(col("min_id")) < col("id"), 1).otherwise(0).as("suppressed"))
  }

  /** Exact set-Jaccard between two shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** Incremental-ingest admission flags: for every incoming batch row,
    * whether its exact text hash already exists in the standing corpus
    * (`dup_vs_corpus`) and whether an earlier batch row (smaller id)
    * carries the same hash (`dup_in_batch`) — the two gates an
    * append-only ingest applies before admitting new documents, WITHOUT
    * rescanning or rewriting the corpus (the corpus side collapses to
    * DISTINCT hashes, the batch side is one min-per-hash aggregation +
    * two hash-keyed joins; at 100 TB the corpus hash set is the only
    * large input and it shuffles once, on the hash). Returns
    * (id, dup_vs_corpus 0/1, dup_in_batch 0/1), both flags raw —
    * precedence (corpus wins) is the consumer's bucketing.
    *
    * NULL text hashes as the empty string (md5 of NULL is NULL, and a
    * null join key would silently drop the row from the inner
    * first-in-batch join) — so EVERY batch row receives a verdict, and
    * null-text documents dedup against each other and against
    * empty-text corpus documents. */
  def admissionFlags(corpus: DataFrame, batch: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    val ch = corpus.select(md5(coalesce(col(textCol), lit(""))).as("h"))
      .distinct().withColumn("in_corpus", lit(1L))
    val bh = batch.select(col(idCol).as("id"),
      md5(coalesce(col(textCol), lit(""))).as("h"))
    val firstIn = bh.groupBy("h").agg(min("id").as("first_id"))
    bh.join(ch, Seq("h"), "left")
      .join(firstIn, Seq("h"))
      .select(col("id"),
        coalesce(col("in_corpus"), lit(0L)).as("dup_vs_corpus"),
        when(col("id") > col("first_id"), 1L).otherwise(0L).as("dup_in_batch"))
  }

  /** MinHash estimator calibration over the LSH candidate set: for
    * every banded candidate pair, the signature agreement count m
    * (the estimator's numerator — est ≈ m/L) next to the EXACT
    * shingle intersection/union, aggregated per m into the
    * calibration table (m, n_pairs, sum_inter, sum_union, min_inter,
    * max_union). The pipeline-health readout for tuning (bands, rows)
    * against a threshold: a well-behaved banding shows sum_inter /
    * sum_union tracking m/L with no mass below the target band.
    *
    * Scale design: pairs come from [[minhashCandidatesFromSigs]]
    * (band-bucket join — bounded by bucket collisions, no all-pairs
    * term); per pair the agreement is the codegen'd sig_agree kernel
    * (the HOF aggregate∘zip_with form would fall out of WSCG and,
    * post projection-collapse, re-evaluate the zipped array per
    * element — the repo's captured-expression rule); the final
    * aggregation is L+1 groups max, map-side combined. All-integer →
    * the DuckDB oracle (q243) rebuilds it exactly from the shared sig
    * store. */
  def minhashCalibration(sigs: DataFrame, bands: Int,
                         rowsPerBand: Int): DataFrame = {
    val cands = minhashCandidatesFromSigs(sigs, bands, rowsPerBand)
    val sv = sigs.select(col("id"), col("sig"), col("sh"))
    cands
      .join(sv.select(col("id").as("id_a"), col("sig").as("sig_a"),
        col("sh").as("sh_a")), Seq("id_a"))
      .join(sv.select(col("id").as("id_b"), col("sig").as("sig_b"),
        col("sh").as("sh_b")), Seq("id_b"))
      .select(
        graft.functions.GraftFunctions.sig_agree(col("sig_a"), col("sig_b"))
          .cast("long").as("m"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        size(array_union(col("sh_a"), col("sh_b"))).cast("long").as("uni"))
      .groupBy("m")
      .agg(count(lit(1)).as("n_pairs"),
        sum("inter").as("sum_inter"), sum("uni").as("sum_union"),
        min("inter").as("min_inter"), max("uni").as("max_union"))
  }

  /** Near-dup pipeline from a materialized (id, sig, sh) frame
    * ([[minhashSigs]]): LSH candidates verified with exact shingle
    * Jaccard ≥ threshold. Returns (id_a, id_b, jaccard) — jaccard is the
    * RAW int/int ratio (bit-identical across engines; round() is not). */
  def minhashNearDupsFromSigs(sigs: DataFrame, threshold: Double,
                              bands: Int, rowsPerBand: Int): DataFrame = {
    val cands = minhashCandidatesFromSigs(sigs, bands, rowsPerBand)
    val sh = sigs.select(col("id"), col("sh"))
    cands
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** (id, shingle) posting list — each document's DISTINCT k-shingles,
    * exploded to rows. The row-local stage of the exact n-gram Jaccard
    * pipeline (everything downstream is relational; graft.Aux pattern). */
  def ngramPostings(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
      explode(array_distinct(shinglesUdf(k)(col(textCol)))).as("shingle"))

  /** Exact n-gram Jaccard near-dup via a POSTING-LIST (inverted-index)
    * join — the third dedup family next to MinHash-LSH and SimHash, and
    * unlike them sketch-free: candidate pairs are documents sharing at
    * least one RARE shingle (document frequency ≤ maxDf; high-df
    * shingles contribute candidates quadratically while carrying no
    * dedup signal, the standard inverted-index guard — a near-dup pair
    * at any useful threshold shares many rare shingles, so the cap costs
    * no recall on non-degenerate corpora), verified with the exact set
    * Jaccard |A∩B| / (|A|+|B|−|A∩B|) recomputed relationally from the
    * same postings. No all-pairs stage anywhere: candidate cost is
    * Σ_rare-shingle df², verification touches candidates only — the
    * layout that scales out (postings shuffle on shingle, pair counts
    * shuffle on (id_a,id_b)). Jaccard is emitted as the RAW int-ratio
    * double (bit-identical across engines; round() is not).
    *
    * Input contract: the math is set Jaccard, so postings must be
    * DISTINCT per (id, shingle) — duplicated rows inflate df, set sizes
    * AND intersection counts, silently skewing every emitted jaccard.
    * By default this is enforced with a defensive `.distinct()` (one
    * extra shuffle of the postings). Callers whose postings are distinct
    * by construction — [[ngramPostings]] uses `array_distinct`, so the
    * internal pipeline is — pass `assumeDistinct = true` to skip it. */
  def ngramJaccardNearDupsFromPostings(postings: DataFrame, threshold: Double,
                                       maxDf: Long,
                                       assumeDistinct: Boolean = false): DataFrame = {
    val p = if (assumeDistinct) postings.select("id", "shingle")
            else postings.select("id", "shingle").distinct()
    // Candidate pairs explode ROW-LOCALLY from per-shingle posting
    // lists (r13 optimization round, guide §2.4 — the SparseSim
    // cappedPairScores shape): the df cap stays the codegen'd count
    // aggregation + semi-join, then each rare shingle's ≤ maxDf ids
    // collect on the join's OWN shingle partitioning (no new exchange;
    // buffer df-capped upstream, guide §2.5) and pairs slice out
    // id-ascending — where the old shape re-ran the posting scan +
    // cap join for the second join side and paid another shingle
    // exchange + join stage for the same candidate set. The
    // id_a < id_b filter keeps the strict inequality when duplicated
    // postings put the same id at two list positions (the
    // assumeDistinct hazard).
    val rare = p.groupBy("shingle")
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
      .select("shingle")
    val cands = p.join(rare, Seq("shingle"))
      .groupBy("shingle").agg(sort_array(collect_list(col("id"))).as("ids"))
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2),
          size(col("ids")) - col("i") - lit(1))).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    val sizes = p.groupBy("id").agg(count(lit(1)).as("sz"))
    val common = cands
      .join(p.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(p.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Connected components of an undirected pair graph (id_a, id_b) by
    * alternating star contraction (the large-star/small-star algorithm
    * of Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014 — the canonical MapReduce CC): each round rewires the
    * EDGE LIST itself toward per-neighborhood minima —
    *
    *   large-star(u): every neighbor v > u re-attaches to
    *     m = min(N(u) ∪ {u});
    *   small-star(u): every smaller neighbor (and u itself) re-attaches
    *     to m = min of u's smaller neighborhood —
    *
    * until the edge set is a fixpoint, at which point every component is
    * a star centered on its minimum id. Converges in O(log n) rounds on
    * real graphs INDEPENDENT of diameter or label placement; min-LABEL
    * propagation (the previous implementation) needs Θ(diameter) rounds,
    * and adding a pointer-jumping label shortcut does NOT rescue it —
    * strides only double when the label-pointer chain is aligned with
    * the graph (simulated: a descending-labeled 120-path collapses in 7
    * rounds, the same path randomly labeled takes 61, because min-ward
    * pointers on a random labeling don't compose). Star contraction
    * rewires structure, not labels: the measured shuffled-path round
    * count is 7 (= the aligned case).
    *
    * Scale notes: each round is two per-neighborhood window minima over
    * the (shrinking) edge list fused into ONE materialization — the
    * edge list crosses the network once per star (min() OVER the key
    * partition; a groupBy-min + join-back would shuffle it twice per
    * star and add two join stages), no driver-side graph. Convergence detection rides
    * the round itself: a rewire flag (did either star move this edge?)
    * is folded by max through the SAME groupBy that dedups the edge
    * list, so "converged" is a one-column sum over the already-cached
    * result instead of a per-round set-equality join. Zero rewires ⟺
    * next == edges (each star emitting every edge unchanged is exactly
    * set-fixpoint), and fixpoints of the alternating round are
    * precisely the min-centered star forests (Kiveris et al. §3), so
    * the stop condition is unchanged. Rounds go through
    * [[Iterate.materialize]] (bare
    * localCheckpoint carries sizeInBytes estimates that an iterative
    * self-referential plan inflates into exponential driver-side BigInt
    * work — the 35 s q112 stall; full story on [[Iterate]]).
    * Non-convergence throws rather than silently returning wrong
    * components.
    *
    * @return (id, comp) for every vertex that appears in a pair; comp is
    *         the min id of its component. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // Materialize the PAIR list first and derive nodes + edges from it:
    // deriving both straight from `pairs` would run the (possibly
    // expensive) upstream lineage once per consumer (the PageRank
    // lesson — measured ~2x the upstream cost on q112's join chain).
    val p = Iterate.materialize(pairs.select(
      col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b")))
    val nodes = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
    var edges = Iterate.materialize(
      p.select(least(col("id_a"), col("id_b")).as("a"),
          greatest(col("id_a"), col("id_b")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    var it = 0
    var converged = edges.isEmpty // nothing but self-pairs: already stars
    // Per-neighborhood star minima: min() OVER the key partition rides
    // ONE edge-list exchange per star (guide §2.4) and AQE reuses the
    // materialized stage across the union branches. The r13 A/B
    // (OPTIMIZATION_r13.md) measured it against a partial-aggregated
    // groupBy-min + join-back shape and found the window faster at every
    // reachable scale, including an adversarial one-hub-owns-20%-of-
    // edges fixture (BenchScale components_hub: window 6.5 s vs groupBy
    // shape 7.9 s at k16; q290 2.92 vs 3.15 s, q299 3.11 vs 3.29 s
    // same-host medians-of-7). The window puts a hub's ENTIRE
    // neighborhood in one window task (guide §2.5); that task becomes
    // the stage only at ~10^7+ rows on one key, which no query reaches.
    import org.apache.spark.sql.expressions.Window
    while (!converged && it < maxIter) {
      // large-star over the symmetrized neighborhood: m ≤ u < v, so the
      // emitted (m, v) is canonical (smaller id first) and never a loop;
      // rw = 1 marks an edge the star actually moved (m != u)
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      val large = sym
        .withColumn("m", least(col("u"), min(col("v")).over(Window.partitionBy("u"))))
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"),
          (col("m") =!= col("u")).cast("long").as("rw"))
      // small-star keyed by the larger endpoint: all a < b by
      // construction, so m = min of u's smaller neighborhood = min(a);
      // (m, a) rows are rewires by definition (only emitted when a != m),
      // (m, b) rows are rewires when b's parent changed (m != a) or the
      // edge was already moved by the large star this round
      val small = large.withColumn("m", min(col("a")).over(Window.partitionBy("b")))
      val next = Iterate.materialize(
        small.filter(col("a") =!= col("m"))
          .select(col("m").as("a"), col("a").as("b"), lit(1L).as("rw"))
          .unionByName(small.select(col("m").as("a"), col("b"),
            greatest(col("rw"),
              (col("m") =!= col("a")).cast("long")).as("rw")))
          .groupBy("a", "b").agg(max(col("rw")).as("rw")))
      converged = next.agg(sum(col("rw"))).head().getLong(0) == 0L
      edges = next.drop("rw")
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    nodes.join(edges.select(col("b").as("id"), col("a").as("star_min")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("star_min"), col("id")).as("comp"))
  }

  // ---------- SimHash ----------

  /** One-pass SimHash bits: per-token ±1 votes per bit of the token's
    * xxh64 (the SQL `xxhash64()` value), summed over tokens; the sign of
    * each vote is the bit. A UDF rather than a higher-order-function
    * fold, which costs ~64 boxed ops per token per bit. */
  def simhashBitsOf(text: String): Array[Int] = {
    val votes = new Array[Int](64)
    text.split(" ", -1).foreach { t =>
      val h = xxh64(t)
      var i = 0
      while (i < 64) { votes(i) += (((h >>> i) & 1L).toInt * 2 - 1); i += 1 }
    }
    votes.map(v => if (v > 0) 1 else 0)
  }
  val simhashUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => if (text == null) null else simhashBitsOf(text))

  /** Composed HOF block keys — interpreted reference implementation. */
  private[operators] def simhashBlocksHof(bits: Column): Column =
    transform(sequence(lit(0), lit(3)), b =>
      aggregate(
        zip_with(slice(bits, b * 16 + 1, lit(16)),
                 sequence(lit(0), lit(15)),
                 (bit, pos) => bit.cast("long") * call_function("shiftleft", lit(1L), pos)),
        lit(0L), (acc, x) => acc + x))

  /** 16-bit block keys b0..b3 of the simhash bit array — native
    * codegen'd kernel ([[graft.functions.SimhashBlocksExpr]]), identical
    * to [[simhashBlocksHof]]; this is the O(corpus) bucketing pass. */
  def simhashBlocks(bits: Column): Column =
    graft.functions.GraftFunctions.simhash_blocks(bits)

  /** Composed HOF hamming — interpreted reference implementation. */
  private[operators] def hammingHof(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x =!= y), p => p))

  /** Hamming distance between two simhash bit arrays — native codegen'd
    * kernel ([[graft.functions.HammingDistExpr]]), identical to
    * [[hammingHof]] (candidate-verify hot path). */
  def hamming(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.hamming_dist(a, b)

  /** SimHash near-dup pairs from a materialized (id, bits) frame
    * (aux-shareable with the SQL oracle): block-bucket candidates
    * (hamming ≤ 3 is guaranteed recall by pigeonhole over the 4 blocks)
    * verified with the exact hamming distance.
    * Returns (id_a, id_b, hamming). */
  def simhashNearDupsFromBits(withSig: DataFrame, maxHamming: Int): DataFrame = {
    val bucketed = withSig.select(col("id"), col("bits"),
      posexplode(simhashBlocks(col("bits"))).as(Seq("block_idx", "block_key")))
    val a = bucketed.select(col("id").as("id_a"), col("bits").as("bits_a"),
      col("block_idx"), col("block_key"))
    val b = bucketed.select(col("id").as("id_b"), col("bits").as("bits_b"),
      col("block_idx"), col("block_key"))
    a.join(b, Seq("block_idx", "block_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("bits_a"), col("bits_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---------- embedding cosine near-dup ----------

  /** Deterministic pseudo-random unit hyperplanes for sign-LSH. */
  def hyperplanes(dim: Int, n: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) {
      val v = Seq.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
  }

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Composed higher-order-function cosine — interpreted; kept as the
    * reference implementation the native expression is asserted
    * bit-identical to (VectorExprsSpec). */
  private[operators] def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine similarity — native one-pass codegen'd kernel
    * ([[graft.functions.CosineSimExpr]]); bit-identical to [[cosineHof]]
    * and to the DuckDB oracle mirror, but stays inside whole-stage
    * codegen on the candidate-pair hot path. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(a, b)

  /** Composed HOF sign-bucket — interpreted reference implementation. */
  private[operators] def signBucketHof(vec: Column, planes: Seq[Seq[Double]]): Column =
    aggregate(
      zip_with(
        transform(typedlit(planes), p => dot(vec, p)),
        sequence(lit(0), lit(planes.size - 1)),
        (d, i) => when(d > 0, call_function("shiftleft", lit(1L), i)).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)

  /** Sign-LSH bucket key: one bit per hyperplane — native codegen'd
    * kernel ([[graft.functions.SignBucketExpr]]), bit-identical to
    * [[signBucketHof]]; this is the O(corpus) bucketing pass.
    *
    * NULL semantics (caller-visible): a wholly NULL vector yields a NULL
    * bucket — the row silently drops out of every downstream bucket
    * equi-join, so null-vector rows are never near-dup candidates (this
    * deliberately diverges from [[signBucketHof]], whose fold poisons to
    * a different shape; see SignBucketExpr). A null ELEMENT only makes
    * its plane's `when(d > 0, bit)` fall through to 0 — the bucket stays
    * non-null. Pre-filter `vec IS NOT NULL` if dropping is not wanted. */
  def signBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    graft.functions.GraftFunctions.sign_bucket(vec, typedlit(planes))

  /** (id, v, bucket): the materialized stage of the embedding near-dup
    * pipeline (double-cast vector + sign-LSH bucket), aux-shareable with
    * the SQL oracle. `bits` sets bucket granularity, the recall/cost
    * tradeoff: candidates must agree on ALL bits. */
  def embeddingBuckets(df: DataFrame, idCol: String, vecCol: String,
                       bits: Int = 8, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(dim, bits)
    df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", signBucket(col("v"), planes))
  }

  /** Embedding near-dup pairs from a materialized (id, v, bucket) frame:
    * bucket equi-join, verify ROUNDED cosine(6dp) ≥ threshold inside
    * buckets. The threshold applies to the rounded value on purpose —
    * the emitted column and the filter must agree, and the 6dp rounding
    * is what makes the long float accumulation cross-engine stable. */
  def embeddingNearDupsFromBuckets(v: DataFrame, threshold: Double): DataFrame = {
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"), col("bucket"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
