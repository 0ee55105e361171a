package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count–min sketch: a d×w grid of counters summarizing the frequency
  * of every key in one pass; est(k) = min over rows r of
  * counter[r][h_r(k)] is an upper bound on k's true count (collisions
  * only ever inflate). The sketch is tiny (d·w longs), mergeable by
  * cell-wise addition, and the point-query side is a broadcast join —
  * the canonical "frequency table that fits in a closure" summary for
  * a 100 TB stream where the exact groupBy's key set does not.
  *
  * Build plan: ONE scan — each row posexplodes into its d (row, bucket)
  * cells and map-side partial aggregation collapses them before the
  * only shuffle, whose key space is at most d·w cells regardless of
  * input size. Estimation broadcasts the sketch (d·w rows) against the
  * probe keys' exploded cells.
  *
  * Cross-engine determinism (the whole point of the hash choice): h_r
  * is an xorshift32 chain seeded by XOR — only XOR, shifts, and AND
  * masks, every intermediate < 2^32 inside a signed 64-bit container.
  * Spark's ANSI mode throws on long-multiply overflow and DuckDB's
  * `<<` throws on shifting past 63 bits, so the usual multiply-shift
  * hash families are out (the Dedup minhash lesson, CLAUDE.md); the
  * masked xorshift runs bit-identically in both engines, which is what
  * lets q109's DuckDB oracle rebuild the IDENTICAL sketch in SQL and
  * hash-match estimates exactly rather than settling for a tolerance
  * check. Zero is a fixed point of xorshift (a key that seeds to 0
  * hashes to bucket 0) — harmless: CMS needs determinism, not hash
  * quality, for correctness.
  */
object CountMin {

  /** Four sketch rows; 32-bit mix constants (golden ratio + murmur3's
    * finalizer constants + xxhash's prime — public constants, used only
    * as XOR seeds). */
  val seeds: Seq[Long] = Seq(2654435769L, 2246822507L, 3266489917L, 668265263L)

  private val M32 = 4294967295L

  /** JVM twin of [[bucket]] — same masked-xorshift chain evaluated
    * driver/executor-side for [[CountMinAgg]]'s aggregation buffer.
    * CountMinSpec asserts the two forms agree bit-for-bit, which is what
    * keeps the aggregate's sketch rebuildable by a SQL oracle (q199). */
  def bucketJvm(key: Long, s: Long, w: Int): Int = {
    val x0 = (key & M32) ^ s
    val x1 = x0 ^ ((x0 << 13) & M32)
    val x2 = x1 ^ (x1 >>> 17)
    val x3 = x2 ^ ((x2 << 5) & M32)
    (x3 & (w - 1).toLong).toInt
  }

  /** Bucket of a non-negative long key for seed row `s`, width `w`
    * (power of two). */
  def bucket(key: Column, s: Long, w: Int): Column = {
    require(w > 0 && (w & (w - 1)) == 0, "CountMin: w must be a power of 2")
    val x0 = key.bitwiseAND(lit(M32)).bitwiseXOR(lit(s))
    val x1 = x0.bitwiseXOR(shiftleft(x0, 13).bitwiseAND(lit(M32)))
    val x2 = x1.bitwiseXOR(shiftright(x1, 17))
    val x3 = x2.bitwiseXOR(shiftleft(x2, 5).bitwiseAND(lit(M32)))
    x3.bitwiseAND(lit((w - 1).toLong))
  }

  /** Build the sketch of `key` over `df`: rows (r INT, bucket BIGINT,
    * cnt BIGINT), at most seeds.size × w of them. Second form kept on
    * purpose: this plan form serves the batch queries (q109, q289);
    * [[CountMinAgg]] serves the streaming state (q199). */
  def sketch(df: DataFrame, key: Column, w: Int): DataFrame = {
    val keyed = df.select(key.cast("long").as("_cms_k"))
    val cells = seeds.map(s => bucket(col("_cms_k"), s, w))
    keyed.select(posexplode(array(cells: _*)).as(Seq("r", "bucket")))
      .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point-query estimates for the (distinct) keys of `probes(keyName)`:
    * (keyName, est) with est = min over rows of the key's cell — ≥ the
    * true count, equal when no collision. The sketch is broadcast. */
  def estimate(sk: DataFrame, probes: DataFrame, keyName: String,
               w: Int): DataFrame = {
    val pk = probes.select(col(keyName).cast("long").as("_cms_k")).distinct()
    val cells = seeds.map(s => bucket(col("_cms_k"), s, w))
    pk.select(col("_cms_k"), posexplode(array(cells: _*)).as(Seq("r", "bucket")))
      .join(broadcast(sk), Seq("r", "bucket"), "left")
      .groupBy("_cms_k")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
      .withColumnRenamed("_cms_k", keyName)
  }

  /** Sketch inner product — the AMS/CMS join-cardinality estimator
    * (Cormode–Muthukrishnan §4.2): for sketches of the two join sides'
    * key streams built with the SAME seeds and width,
    *
    *   est = min over rows r of Σ_bucket cntA[r][b]·cntB[r][b]
    *
    * is an UPPER bound on the equi-join size |A ⋈_k B| = Σ_k a(k)·b(k)
    * (hash collisions only add nonnegative cross terms), exact when no
    * two distinct keys share a cell in the minimizing row — the
    * constant-space answer to "how big will this join be" that a
    * planner asks BEFORE shuffling 100 TB. One row out: `est` as a
    * digit string (per-cell products are n² at corpus scale — the
    * q185 pre-cast rule; DECIMAL stays internal). A sketch row with no
    * overlapping buckets contributes 0 (empty-sum semantics), so a
    * disjoint or empty side estimates 0.
    *
    * Cost: an (r, bucket)-keyed join over ≤ d·w rows per side + a
    * d-row final min — independent of input size. */
  def innerProduct(skA: DataFrame, skB: DataFrame): DataFrame = {
    val prod = skA
      .join(skB.withColumnRenamed("cnt", "cnt_b"), Seq("r", "bucket"))
      .groupBy("r")
      .agg(sum(col("cnt").cast("decimal(38,0)") * col("cnt_b")).as("ip"))
    skA.select("r").distinct()
      .join(prod, Seq("r"), "left")
      .agg(min(coalesce(col("ip"), lit(0).cast("decimal(38,0)"))).as("m"))
      .select(coalesce(col("m"), lit(0).cast("decimal(38,0)"))
        .cast("string").as("est"))
  }
}
