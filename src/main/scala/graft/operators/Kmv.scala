package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketch: per group, keep the k
  * smallest 32-bit hash values of the distinct keys; with h_k the k-th
  * smallest hash, D ≈ (k−1)·2³²/h_k. The mergeable alternative to HLL
  * when the consumer wants an EXACTLY reproducible sketch: two sketches
  * union by "merge the value lists, keep the k smallest" — an
  * associative, order-independent operation, so partial sketches from
  * 1000 executors (or 1000 days of partitions) combine without error
  * drift, and the same data always yields the same bits.
  *
  * Cross-engine determinism: the hash is [[CountMin]]'s masked
  * xorshift32 chain (XOR/shift/AND only — Spark ANSI long-multiply
  * overflow and DuckDB's shift guard both rule out multiply-shift
  * families; CLAUDE.md ground rule), so an oracle can rebuild the
  * IDENTICAL sketch in SQL and hash-match it bit-for-bit — no
  * tolerance band needed (contrast q55's HLL, which is checked against
  * a ±2% envelope because its internals are engine-private).
  *
  * Plan: one distinct over (grp, key) — the only input-sized shuffle,
  * map-side combined — then a group-partitioned rank window over the
  * (hash, key) total order keeps k rows per group, and one tiny agg
  * emits the summary. Keys, not raw rows, enter the window: its input
  * is the distinct frame, and the kept state is k longs per group.
  * (hash, key) ordering — not hash alone — makes the k-th value
  * deterministic even across hash collisions.
  *
  * Cache ownership: persists internal frames the returned (lazy)
  * result depends on; the CALLER releases after materializing —
  * graft.Caches.releaseAll(spark) (docs/CACHE_POLICY.md rule 1).
  */
object Kmv {

  /** Full 32-bit masked-xorshift hash, TWO rounds with a seed XOR
    * between them ([[CountMin.bucket]]'s chain run twice). CountMin
    * only needs determinism, but the KMV estimate depends on hash
    * UNIFORMITY, and one xorshift round leaves sequential keys
    * correlated enough to bias the k-th minimum ~2.8× (measured on
    * 1..5000: one-round est 1807 vs two-round 4898 at k=256).
    * Deterministic and identical in DuckDB SQL — XOR/shift/AND only. */
  def hash32(key: Column, seed: Long, seed2: Long = 2246822507L): Column = {
    val M32 = 4294967295L
    def round(in: Column): Column = {
      val x1 = in.bitwiseXOR(shiftleft(in, 13).bitwiseAND(lit(M32)))
      val x2 = x1.bitwiseXOR(shiftright(x1, 17))
      x2.bitwiseXOR(shiftleft(x2, 5).bitwiseAND(lit(M32)))
    }
    round(round(key.bitwiseAND(lit(M32)).bitwiseXOR(lit(seed)))
      .bitwiseXOR(lit(seed2)))
  }

  /** JVM twin of [[hash32]] for [[KmvAgg]]'s per-row update path —
    * KmvSpec asserts the two forms agree on random keys (all values
    * stay in [0, 2³²), so Spark's arithmetic shiftright matches `>>`
    * here). */
  def hash32Jvm(key: Long, seed: Long = 2654435769L,
                seed2: Long = 2246822507L): Long = {
    val M32 = 4294967295L
    def round(in: Long): Long = {
      val x1 = in ^ ((in << 13) & M32)
      val x2 = x1 ^ (x1 >> 17)
      x2 ^ ((x2 << 5) & M32)
    }
    round(round((key & M32) ^ seed) ^ seed2)
  }

  /** Per-group KMV summary of `keyCol`: (grp, k_used, kth_hash) where
    * k_used = min(k, |distinct keys|) and kth_hash is the k_used-th
    * smallest hash — the pair that determines the estimate
    * (k_used−1)·2³²/kth_hash (float left to the consumer; for groups
    * with fewer than k distinct keys the sketch IS the exact count).
    * Second form kept on purpose: this plan form serves the batch query
    * (q162); [[KmvAgg]] serves the streaming state (q176). */
  def sketch(df: DataFrame, grpCol: String, keyCol: String, k: Int,
             seed: Long = 2654435769L): DataFrame = {
    require(k >= 2 && k <= 65536, "k: 2..65536")
    // NULL keys are excluded (COUNT DISTINCT convention) — also keeps
    // this form bit-identical to KmvAgg, whose per-row update skips
    // nulls, and avoids the engines' opposite NULL sort order (Spark
    // nulls-first vs DuckDB nulls-last) ever reaching the rank window
    val keys = df.select(col(grpCol), col(keyCol).cast("long").as("_k"))
      .filter(col("_k").isNotNull)
      .distinct()
      .withColumn("_h", hash32(col("_k"), seed))
    val w = Window.partitionBy(grpCol).orderBy(col("_h"), col("_k"))
    keys.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .groupBy(grpCol)
      .agg(count(lit(1)).cast("long").as("k_used"),
        max(col("_h")).as("kth_hash"))
  }

  /** Pairwise KMV SET-OVERLAP components for every unordered group pair
    * (ga < gb): the sketch algebra that makes KMV more than a distinct
    * counter — audience-overlap / segment-intersection estimation
    * without ever joining the raw key sets.
    *
    * Per pair the output carries only integers: each side's
    * (k_used, kth_hash), the union sketch's (ku_used, kth_union) — the
    * k smallest distinct hashes of the MERGED value sets, the standard
    * KMV union — and match_cnt = how many of those union survivors
    * belong to BOTH sides. The consumer derives
    * |A∪B| ≈ (ku_used−1)·2³²/kth_union and
    * |A∩B| ≈ match_cnt/ku_used · |A∪B| (floats left out per the
    * avg-class ground rule). match_cnt has no false negatives: the
    * union's kth hash is ≤ each side's kth hash, so any A∩B key cheap
    * enough for the union sketch is present in both side sketches.
    *
    * Scale design: the only input-sized work is [[sketch]]'s distinct
    * shuffle + rank window; everything after runs on the kept frame
    * (≤ |groups|·k rows, persisted — it feeds the pair tagging twice
    * plus the per-side stats, and AQE's runtime broadcast conversion
    * would otherwise re-execute it per consumer). The pair dimension is
    * a theta self-join of the distinct group list (|groups|² pairs of a
    * LIST, not of data rows).
    */
  def overlapComponents(df: DataFrame, grpCol: String, keyCol: String,
                        k: Int, seed: Long = 2654435769L): DataFrame = {
    require(k >= 2 && k <= 65536, "k: 2..65536")
    val keys = df.select(col(grpCol).as("g"), col(keyCol).cast("long").as("_k"))
      .filter(col("_k").isNotNull)
      .distinct()
      .withColumn("_h", hash32(col("_k"), seed))
    val w = Window.partitionBy("g").orderBy(col("_h"), col("_k"))
    val kept = keys.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select("g", "_h", "_k")
      .persist()
    val groups = kept.select("g").distinct()
    val pairs = groups.as("a").join(groups.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("ga"), col("b.g").as("gb"))
    // tag each kept row into every pair it participates in (two equi
    // joins, no OR-condition nested-loop), then collapse keys present
    // in both sides' sketches
    val tagged = kept.join(pairs, col("g") === col("ga"))
      .select(col("ga"), col("gb"), col("_h"), col("_k"),
        lit(1L).as("in_a"), lit(0L).as("in_b"))
      .unionByName(kept.join(pairs, col("g") === col("gb"))
        .select(col("ga"), col("gb"), col("_h"), col("_k"),
          lit(0L).as("in_a"), lit(1L).as("in_b")))
    val uni = tagged.groupBy("ga", "gb", "_h", "_k")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
    val wu = Window.partitionBy("ga", "gb").orderBy(col("_h"), col("_k"))
    val survivors = uni.withColumn("_rn", row_number().over(wu))
      .filter(col("_rn") <= k)
    val uagg = survivors.groupBy("ga", "gb")
      .agg(count(lit(1)).cast("long").as("ku_used"),
        max("_h").as("kth_union"),
        sum(col("in_a") * col("in_b")).cast("long").as("match_cnt"))
    val side = kept.groupBy("g")
      .agg(count(lit(1)).cast("long").as("k_used"), max("_h").as("kth_hash"))
    uagg
      .join(side.select(col("g").as("ga"), col("k_used").as("ka_used"),
        col("kth_hash").as("kth_a")), "ga")
      .join(side.select(col("g").as("gb"), col("k_used").as("kb_used"),
        col("kth_hash").as("kth_b")), "gb")
      .select(col("ga"), col("gb"), col("ka_used"), col("kth_a"),
        col("kb_used"), col("kth_b"), col("ku_used"), col("kth_union"),
        col("match_cnt"))
  }
}
