package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank-based nonparametric statistics — integer-exact cross-engine
  * where their float-percentile cousins are not.
  *
  * Mann–Whitney U (Wilcoxon rank-sum): for samples A, B inside a
  * stratum, U_A = #{(a,b): a > b} + ½·#{ties}. The O(n_A·n_B) pair
  * count collapses to rank arithmetic: with midranks r̄ over the
  * pooled sample, U_A = Σ_A r̄ − n_A(n_A+1)/2. Midranks are halves, so
  * everything is carried DOUBLED: 2r̄ = 2·rank + (#equal − 1) — pure
  * integers, giving 2U exactly (RankStatsSpec proves ≡ the brute-force
  * pair count). The z-score needs only (2U, n_a, n_b) plus the tie
  * correction — floats left to the consumer per the avg-class rule.
  *
  * Plan: ONE stratum-partitioned rank window + a (stratum, value)
  * count window over the same exchange, then a stratum groupBy — no
  * pairwise join, no global window; cost is the pooled sort per
  * stratum.
  */
object RankStats {

  /** Per stratum: `n_a`, `n_b`, `two_u` (doubled Mann–Whitney U of
    * side A vs side B). Rows whose `flagCol` is neither `flagA` nor
    * `flagB` are excluded. `valCol` must be integral. */
  def mannWhitney2U(df: DataFrame, strataCol: String, flagCol: String,
                    valCol: String, flagA: String, flagB: String): DataFrame = {
    val pooled = df
      .filter(col(flagCol).isin(flagA, flagB))
      .select(col(strataCol), col(flagCol),
        col(valCol).cast("long").as("_v"))
    val wRank = Window.partitionBy(strataCol).orderBy(col("_v"))
    val wEq = Window.partitionBy(strataCol, "_v")
    pooled
      .withColumn("_2r", lit(2L) * rank().over(wRank) +
        count(lit(1)).over(wEq) - lit(1L))
      .groupBy(strataCol)
      .agg(
        sum(when(col(flagCol) === flagA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(flagCol) === flagB, 1L).otherwise(0L)).as("n_b"),
        (sum(when(col(flagCol) === flagA, col("_2r")).otherwise(0L)) -
          sum(when(col(flagCol) === flagA, 1L).otherwise(0L)) *
          (sum(when(col(flagCol) === flagA, 1L).otherwise(0L)) + 1L))
          .as("two_u"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic per stratum, EXACT: the
    * max CDF gap is carried as the cross-multiplied integer numerator
    *
    *   ks_num = max over pooled distinct v of |n_b·cumA(v) − n_a·cumB(v)|
    *
    * over denominator n_a·n_b — no float CDFs, so the classic "which
    * engine's max over doubles wins the tie" flake cannot exist.
    * Empirical CDFs only jump at pooled sample points, so the max over
    * the distinct-value grid is the true supremum (tie-correct: both
    * sides' cumulative counts are evaluated AT each pooled value).
    * `v_at_max` reports the SMALLEST value attaining the max (two-step
    * argmin, both engines). Products pre-cast to DECIMAL(38,0) /
    * HUGEINT — at 10^10 rows a side the cross product overflows BIGINT
    * (the q185 rule) — and exit as digit strings (driver hash-safety:
    * no DECIMAL output columns).
    *
    * Plan: one (stratum, v) count agg, one stratum-partitioned
    * cumulative window over that (distinct-value-sized) frame, a
    * two-row-per-stratum argmax join — never a global window, never a
    * pairwise term. */
  def ksStat(df: DataFrame, strataCol: String, flagCol: String,
             valCol: String, flagA: String, flagB: String): DataFrame = {
    // NULL values are EXCLUDED from both samples: the engines sort
    // NULLs at opposite ends (Spark NULLS FIRST ASC, DuckDB NULLS
    // LAST), so a null row would shift every cumulative count on one
    // side only — the Kmv.sketch null-key rule; a CDF over NULL is
    // meaningless anyway. Oracles must carry the same IS NOT NULL.
    val pooled = df
      .filter(col(flagCol).isin(flagA, flagB) && col(valCol).isNotNull)
      .select(col(strataCol), col(flagCol), col(valCol).cast("long").as("_v"))
    val perV = pooled.groupBy(col(strataCol), col("_v"))
      .agg(sum(when(col(flagCol) === flagA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(flagCol) === flagB, 1L).otherwise(0L)).as("cb"))
    val run = Window.partitionBy(strataCol).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy(strataCol)
    val d = perV
      .withColumn("cum_a", sum(col("ca")).over(run))
      .withColumn("cum_b", sum(col("cb")).over(run))
      .withColumn("na", sum(col("ca")).over(tot))
      .withColumn("nb", sum(col("cb")).over(tot))
      .withColumn("diff",
        abs(col("cum_a").cast("decimal(38,0)") * col("nb") -
          col("cum_b").cast("decimal(38,0)") * col("na")))
      .persist() // feeds the per-stratum max AND the argmax join-back
    val mx = d.groupBy(strataCol).agg(max(col("diff")).as("m"))
    d.join(mx, Seq(strataCol))
      .filter(col("diff") === col("m"))
      .groupBy(col(strataCol), col("na").as("n_a"), col("nb").as("n_b"),
        col("m"))
      .agg(min(col("_v")).as("v_at_max"))
      .select(col(strataCol), col("n_a"), col("n_b"),
        col("m").cast("string").as("ks_num"),
        (col("n_a").cast("decimal(38,0)") * col("n_b"))
          .cast("string").as("ks_den"),
        col("v_at_max"))
  }

  /** Kruskal–Wallis H components per stratum: the k-sample extension
    * of [[mannWhitney2U]]. Per (stratum, group): `n_g` and `r2_sum`
    * = Σ doubled midranks (2r̄ = 2·rank + #equal − 1, pure integers —
    * the same doubling trick); per stratum: `n_tot` and the tie
    * correction Σ_v (t_v³ − t_v) as a DECIMAL(38,0) digit string
    * (t³ overflows BIGINT at corpus-scale tie groups — the q184/q185
    * accumulator rule). H itself is float assembly from these exact
    * parts — left to the consumer per the avg-class rule:
    * H = [12/(N(N+1))]·Σ (R_g²/n_g) − 3(N+1), with R_g = r2_sum/2,
    * tie-corrected by 1 − Σ(t³−t)/(N³−N).
    *
    * NULL values are excluded from the pooled sample (the [[ksStat]]
    * NULL-sort rule — engines rank NULLs at opposite ends; oracles
    * must carry the same IS NOT NULL).
    *
    * Plan: one stratum-partitioned rank window + a (stratum, value)
    * count window over the same exchange, a (stratum, group) agg, and
    * a distinct-value-sized tie agg — no global window, no pairwise
    * term.
    *
    * Declined (r13): the two-level banded scan of
    * `Robust.weightedMedian` would spread the stratum-partitioned rank
    * window over more tasks. Not adopted: q296 runs in under 0.9 s at
    * sf0.1 on its 2–5-partition window, and the same rewrite measured
    * flat on q174 locally (1.920 vs 1.934 s) because so few groups at
    * this size do not serialize enough work to matter
    * (OPTIMIZATION_r13.md, checklist). Revisit when a profile shows this
    * window's tasks dominating a wall time. */
  def kruskalWallis(df: DataFrame, strataCol: String, grpCol: String,
                    valCol: String): DataFrame = {
    val pooled = df
      .filter(col(valCol).isNotNull)
      .select(col(strataCol), col(grpCol), col(valCol).cast("long").as("_v"))
    val wRank = Window.partitionBy(strataCol).orderBy(col("_v"))
    val wEq = Window.partitionBy(strataCol, "_v")
    val g = pooled
      .withColumn("_2r", lit(2L) * rank().over(wRank) +
        count(lit(1)).over(wEq) - lit(1L))
      .groupBy(col(strataCol), col(grpCol))
      .agg(count(lit(1)).as("n_g"), sum(col("_2r")).as("r2_sum"))
    val ties = pooled
      .groupBy(col(strataCol), col("_v"))
      .agg(count(lit(1)).as("_t"))
      .groupBy(strataCol)
      .agg(sum(col("_t").cast("decimal(38,0)") * col("_t") * col("_t") -
        col("_t")).cast("string").as("tie_cubes"))
    val wStr = Window.partitionBy(strataCol)
    g.withColumn("n_tot", sum(col("n_g")).over(wStr))
      .join(ties, Seq(strataCol))
  }
}
