package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucket-digest table synchronization — the anti-entropy / Merkle-tree
  * pattern (Cassandra repair, DynamoDB replica sync) as a Spark plan:
  * to reconcile two replicas of a huge keyed table, first compare tiny
  * per-bucket digests (one scan each, map-side-combined aggregation to
  * `buckets` rows — no join of the full tables), then run the exact
  * row-level diff ONLY over the buckets whose digests disagree. Two
  * daily 100 TB snapshots that differ in a handful of keys cost two
  * scans plus a join over the dirty buckets' rows — versus
  * [[ChangeCapture.snapshotDiff]] alone, which shuffles both full
  * tables into one giant key join every time.
  *
  * The digest must be order-independent (bucket contents arrive in any
  * partition order) and engine-independent: each row folds its
  * key/value longs through a chained masked xorshift32 ([[CountMin]]'s
  * hash discipline — XOR, shifts and AND masks only, every
  * intermediate < 2^32, so ANSI long-multiply overflow and 63-bit
  * shift limits are unreachable in both engines), and a bucket's
  * digest is (row count, Σ of the hash's LOW 16 bits, Σ of its HIGH 16
  * bits) — the two limb sums reconstruct Σh = h_lo + 2¹⁶·h_hi exactly,
  * so detection power is identical to a full-width hash sum, each limb
  * is < 2¹⁶ per row so a plain BIGINT sum is ANSI-overflow-safe to
  * 2⁴⁷ rows per bucket, and no DECIMAL(38,0) accumulator is needed
  * (the previous decimal sum allocated a BigDecimal per row per scan —
  * measured as multi-second GC at sf0.1; r12 optimization round).
  * Sums commute, so the digest is independent of row order and
  * partitioning; a single changed/inserted/deleted row changes n or
  * Σh with probability 1 − 2⁻³² per bucket.
  *
  * Rows are assigned to buckets by KEY hash only — a changed payload
  * must keep its row in the same bucket for the digest comparison to
  * localize it.
  *
  * Cache ownership: persists internal frames the returned (lazy)
  * result depends on; the CALLER releases after materializing —
  * graft.Caches.releaseAll(spark) (docs/CACHE_POLICY.md rule 1).
  */
object TableSync {

  private val M32 = 4294967295L

  private def xs32(x: Column): Column = {
    val x1 = x.bitwiseXOR(shiftleft(x, 13).bitwiseAND(lit(M32)))
    val x2 = x1.bitwiseXOR(shiftright(x1, 17))
    x2.bitwiseXOR(shiftleft(x2, 5).bitwiseAND(lit(M32)))
  }

  /** Order-independent 32-bit hash of a row's long columns: fold each
    * column's two 32-bit halves into the state, xorshifting between
    * columns. Mirrors 1:1 into any SQL engine (q114's oracle). */
  def rowHash(cols: Seq[Column], seed: Long = 2654435769L): Column =
    cols.foldLeft(lit(seed): Column)((h, c) =>
      xs32(h.bitwiseXOR(c.bitwiseAND(lit(M32)))
        .bitwiseXOR(shiftright(c, 32).bitwiseAND(lit(M32)))))

  /** Per-bucket digests of both snapshots in ONE aggregation over the
    * side-tagged union of the two scans: (bucket, n_o, lo_o, hi_o, n_n,
    * lo_n, hi_n), the row count and the two limb sums of `rowH` per side.
    * `keyH`/`rowH` are [[rowHash]] columns over the key columns / all
    * compared columns. One scan per side, map-side combine, ≤ `buckets`
    * result rows. (r12 optimization round, guide §2.4: the previous
    * shape ran two separate digest aggregations and full-outer-joined
    * them — two shuffles plus a join stage for the same ≤ buckets
    * rows.) A bucket missing on one side has n = 0 there. */
  def bucketDigests(oldDf: DataFrame, newDf: DataFrame, keyH: Column,
                    rowH: Column, buckets: Int): DataFrame = {
    require(buckets > 0)
    def tagged(df: DataFrame, side: Long) = df.select(
      pmod(keyH, lit(buckets.toLong)).as("bucket"), rowH.as("h"),
      lit(side).as("_s"))
    def sideSum(side: Long, v: Column) =
      sum(when(col("_s") === side, v).otherwise(0L))
    tagged(oldDf, 0L).unionByName(tagged(newDf, 1L))
      .groupBy("bucket")
      .agg(sideSum(0L, lit(1L)).as("n_o"),
        sideSum(0L, col("h").bitwiseAND(lit(65535L))).as("lo_o"),
        sideSum(0L, shiftright(col("h"), 16)).as("hi_o"),
        sideSum(1L, lit(1L)).as("n_n"),
        sideSum(1L, col("h").bitwiseAND(lit(65535L))).as("lo_n"),
        sideSum(1L, shiftright(col("h"), 16)).as("hi_n"))
  }

  /** Buckets whose [[bucketDigests]] disagree: (bucket), at most
    * `buckets` rows. The n comparison subsumes the missing-side case. */
  def dirtyBuckets(digests: DataFrame): DataFrame =
    digests
      .filter(col("n_o") =!= col("n_n") || col("lo_o") =!= col("lo_n") ||
        col("hi_o") =!= col("hi_n"))
      .select("bucket")

  /** End-to-end reconciliation: digest both snapshots, find dirty
    * buckets, and run the exact row diff over dirty-bucket rows only.
    * `keyH` must reference only `keyCols`. Output: keyCols ++ (change:
    * I|U|D) — identical to a full [[ChangeCapture.snapshotDiff]]
    * (spec-asserted), computed from a fraction of the data.
    * Contract: key columns must be NON-NULL (q114's order key is). The
    * row recovery groups by the keys, and a grouping key unifies NULLs:
    * a NULL-keyed row on both sides becomes one U or no row here, where
    * a SQL full outer join on `=` (q114's oracle) leaves the two
    * unmatched (a D plus an I), and snapshotDiff, which matches them
    * null-safely, reads the null key as a missing side (an I). */
  def syncDiff(oldDf: DataFrame, newDf: DataFrame, keyH: Column,
               rowH: Column, buckets: Int,
               keyCols: Seq[String], cmpCols: Seq[String]): DataFrame = {
    // persist: `dirty` (≤ buckets rows) is broadcast into BOTH scans'
    // semi-joins below; without caching, each broadcast re-runs both
    // digest scans+aggregations (AQE's broadcast rewrite defeats
    // ReuseExchange across the two consumers — same mechanism as
    // [[SetSimJoin.jaccardJoin]]'s persisted stages)
    val dirty = dirtyBuckets(
      bucketDigests(oldDf, newDf, keyH, rowH, buckets)).persist()
    val b = pmod(keyH, lit(buckets.toLong))
    // Row recovery as ONE side-tagged union + key aggregation (r13
    // optimization round, guide §2.4 — the digest stage's trick
    // extended to the diff stage): the previous shape broadcast-pruned
    // each side separately and full-outer sort-merge-joined them — two
    // broadcast probe stages, two key exchanges and two sorts plus the
    // merge. Here both sides union FIRST (no exchange), ONE broadcast
    // semi-join drops clean-bucket rows, and ONE hash aggregation per
    // key recovers the side payloads: a key missing on a side has a
    // NULL side-struct (max over an empty side), which is exactly the
    // full-outer join's null row — I/U/D classification is unchanged
    // (TableSyncSpec asserts ≡ ChangeCapture.snapshotDiff on random
    // diffs). Snapshot inputs are unique per key by contract, so max()
    // selects THE side row, never a winner among several.
    def tagRows(df: DataFrame, side: Long) = df.select(
      (keyCols ++ cmpCols).map(col) :+ b.as("_b") :+ lit(side).as("_s"): _*)
    val payload = struct(cmpCols.map(col): _*)
    val agg = tagRows(oldDf, 0L).unionByName(tagRows(newDf, 1L))
      .join(broadcast(dirty), col("_b") === col("bucket"), "left_semi")
      .groupBy(keyCols.map(col): _*)
      .agg(max(when(col("_s") === 0L, payload)).as("_po"),
        max(when(col("_s") === 1L, payload)).as("_pn"))
    val anyDiff = cmpCols.map(c => !(col(s"_po.$c") <=> col(s"_pn.$c")))
      .reduce(_ || _)
    agg
      .withColumn("change",
        when(col("_po").isNull, lit("I"))
          .when(col("_pn").isNull, lit("D"))
          .when(anyDiff, lit("U")))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }
}
