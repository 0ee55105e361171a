package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust per-group statistics — discrete medians and MAD
  * (median-absolute-deviation) outlier flagging, the resistant
  * alternative to mean/σ z-scores (one corrupted ingest batch moves a
  * mean arbitrarily; it moves a median by at most one rank).
  *
  * Everything is INTEGER-exact: the discrete median is the element at
  * rank ⌈n/2⌉ of the group's value order — an actual data value, no
  * interpolation, no floats — which DuckDB's percentile_disc(0.5)
  * selects identically (first value with cumulative distribution
  * ≥ 0.5), so q126's oracle is a genuinely independent formulation.
  * MAD is the discrete median of |v − med|, and the outlier rule
  * |v − med| > c·MAD compares longs.
  *
  * Scale: two window passes partitioned by the GROUP key (rank and
  * rank-of-deviation) + group-sized joins — never a global window;
  * group cardinality bounds every shuffle. Ties within a value are
  * broken by `idCol` for a deterministic ORDER, but the selected
  * median VALUE is tie-invariant (the value at a fixed rank does not
  * depend on how equal values are ordered).
  *
  * Cache ownership: persists internal frames the returned (lazy)
  * result depends on; the CALLER releases after materializing —
  * graft.Caches.releaseAll(spark) (docs/CACHE_POLICY.md rule 1).
  */
object Robust {

  /** Per-group (n, med): the discrete lower median of `valCol`. */
  def groupMedian(df: DataFrame, grpCol: String, valCol: String,
                  idCol: String): DataFrame = {
    val w = Window.partitionBy(grpCol).orderBy(col("_v"), col(idCol))
    df.select(col(grpCol), col(valCol).cast("long").as("_v"), col(idCol))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(grpCol)))
      .filter(col("_rn") === expr("(_n + 1) div 2"))
      .select(col(grpCol), col("_n").as("n"), col("_v").as("med"))
  }

  /** Per-group robust profile: n, discrete median, MAD (discrete
    * median of |v − med|), and the count of rows with
    * |v − med| > `c`·MAD. */
  def madOutliers(df: DataFrame, grpCol: String, valCol: String,
                  idCol: String, c: Long = 5L): DataFrame = {
    val vals = df.select(col(grpCol), col(valCol).cast("long").as("_v"),
      col(idCol))
    val med = groupMedian(df, grpCol, valCol, idCol)
    // persist: `dev` feeds BOTH the MAD rank pass and the final
    // aggregation — without caching the upstream median window chain
    // runs twice (the AQE-reuse lesson, see SetSimJoin.jaccardJoin)
    val dev = vals.join(med, grpCol)
      .withColumn("_d", abs(col("_v") - col("med"))).persist()
    val wd = Window.partitionBy(grpCol).orderBy(col("_d"), col(idCol))
    val mad = dev
      .withColumn("_rn", row_number().over(wd))
      .filter(col("_rn") === expr("(n + 1) div 2"))
      .select(col(grpCol), col("_d").as("mad"))
    dev.join(mad, grpCol)
      .groupBy(grpCol)
      .agg(first(col("n")).as("n"), first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("_d") > lit(c) * col("mad"), 1L).otherwise(0L))
          .as("n_out"))
  }

  /** Per-group discrete quartile bands: n and the values at ranks
    * ⌈n/4⌉, ⌈n/2⌉, ⌈3n/4⌉ of the group's (value, id) order — actual
    * data values, no interpolation, no floats (DuckDB's
    * percentile_disc(q) selects the identical rank ⌈q·n⌉ — verified on
    * the orders table before the oracle was written — so q258's oracle
    * is a genuinely independent formulation). Rank arithmetic is
    * all-integer: ⌈i·n/4⌉ = (i·n + 3) div 4. Like [[groupMedian]], the
    * selected VALUES are tie-invariant even though the id tie-break
    * makes the row order total.
    *
    * Scale: one rank window + one aggregation, both hashed on the group
    * key — a single exchange, group cardinality bounds the widest
    * shuffle; never a global window. */
  def quantileBands(df: DataFrame, grpCol: String, valCol: String,
                    idCol: String): DataFrame = {
    val w = Window.partitionBy(grpCol).orderBy(col("_v"), col(idCol))
    df.select(col(grpCol), col(valCol).cast("long").as("_v"), col(idCol))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(grpCol)))
      .groupBy(grpCol)
      .agg(first(col("_n")).as("n"),
        max(when(col("_rn") === expr("(_n + 3) div 4"), col("_v"))).as("q25"),
        max(when(col("_rn") === expr("(2 * _n + 3) div 4"), col("_v"))).as("q50"),
        max(when(col("_rn") === expr("(3 * _n + 3) div 4"), col("_v"))).as("q75"))
  }

  /** Rolling discrete (lower) median: for each row, the median of the
    * trailing `lookback`+1 values per key in `ordCols` order — the
    * robust smoother of metric/time-series pipelines (median absorbs
    * spikes a rolling mean chases). The frame is a bounded ROWS window,
    * so per-row state is ≤ lookback+1 longs and the pass stays
    * partition-parallel on the key (never a global window); the median
    * is rank arithmetic over sort_array — an actual data value, no
    * interpolation, no floats. Ordering must be total (pass a unique
    * tie-break column in ordCols) or the frame itself is
    * engine-dependent. Appends column `med`. */
  def rollingMedian(df: DataFrame, keyCol: String, ordCols: Seq[String],
                    valCol: String, lookback: Int): DataFrame = {
    require(lookback >= 0, s"lookback must be >= 0: $lookback")
    val w = Window.partitionBy(keyCol)
      .orderBy(ordCols.map(col): _*)
      .rowsBetween(-lookback, Window.currentRow)
    df.withColumn("_arr",
        sort_array(collect_list(col(valCol).cast("long")).over(w)))
      .withColumn("med",
        element_at(col("_arr"), expr("CAST((size(_arr) + 1) div 2 AS INT)")))
      .drop("_arr")
  }

  /** Per-group winsorized sums: values below the discrete p-th /
    * above the (1−p)-th percentile are clamped to those percentile
    * VALUES before summing — the outlier treatment that keeps totals
    * resistant without dropping rows (trimming changes n; winsorizing
    * doesn't). p is the rational pNum/pDen (e.g. 1/20 = 5%); bounds
    * are the actual data values at ranks ⌈n·p⌉ (floored at 1) and
    * ⌈n·(1−p)⌉ of the (value, id) total order — discrete, exact, no
    * interpolation, so the whole operator is integer arithmetic.
    *
    * Returns (grp, n, lo, hi, sum_w, n_lo, n_hi): group size, both
    * clamp values, the winsorized BIGINT sum, and how many rows were
    * clamped at each end. One rank+count window pass partitioned by
    * the group key, a group-cardinality bounds join back (persisted —
    * the ranked stage feeds bounds AND the final agg, the AQE-reuse
    * lesson), one aggregation; never a global window. */
  def winsorizedSums(df: DataFrame, grpCol: String, valCol: String,
                     idCol: String, pNum: Long, pDen: Long): DataFrame = {
    require(pNum >= 0 && pNum * 2 < pDen,
      s"p must be in [0, 0.5): $pNum/$pDen")
    val w = Window.partitionBy(grpCol).orderBy(col("_v"), col(idCol))
    val ranked = df
      .select(col(grpCol), col(valCol).cast("long").as("_v"), col(idCol))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(grpCol)))
      .withColumn("_lo_rank",
        greatest(expr(s"(_n * $pNum + ${pDen - 1}) div $pDen"), lit(1L)))
      .withColumn("_hi_rank",
        expr(s"(_n * ${pDen - pNum} + ${pDen - 1}) div $pDen"))
      .persist()
    val bounds = ranked.groupBy(grpCol).agg(
      max(when(col("_rn") === col("_lo_rank"), col("_v"))).as("lo"),
      max(when(col("_rn") === col("_hi_rank"), col("_v"))).as("hi"))
    ranked.join(bounds, grpCol)
      .groupBy(grpCol)
      .agg(count(lit(1)).as("n"), first(col("lo")).as("lo"),
        first(col("hi")).as("hi"),
        sum(greatest(least(col("_v"), col("hi")), col("lo"))).as("sum_w"),
        sum(when(col("_v") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("_v") > col("hi"), 1L).otherwise(0L)).as("n_hi"))
  }

  /** Equi-depth histogram bounds per group: for j = 1..k, the value at
    * rank ⌈j·n/k⌉ of the (value, id) total order — the upper edge of
    * the j-th equal-population bucket (j = k is the group max). The
    * discrete-rank construction makes every bound an actual data value
    * (no interpolation, no floats) — the optimizer-statistics /
    * drift-baseline shape summary.
    *
    * Plan: ONE rank+count window pass partitioned by the group key,
    * then a (groups × k)-row boundary grid derived from the group
    * counts joins back by BROADCAST on (grp, rank) — the ranked frame
    * is scanned once and never re-shuffled. Duplicate ranks can't
    * occur (row_number is a bijection), so the join emits exactly one
    * row per (grp, j).
    *
    * Declined (r13): [[weightedMedian]]'s two-level banded scan (scan
    * within (group, value-band), then broadcast the per-band offsets)
    * would spread this group-partitioned rank window over more tasks.
    * Not adopted: q188 runs in under 0.9 s at sf0.1 on its 2–5-partition
    * window, and the same rewrite measured flat on q174 locally (1.920
    * vs 1.934 s) because 3 groups at this size do not serialize enough
    * work to matter (OPTIMIZATION_r13.md, checklist). Revisit when a
    * profile shows this window's tasks dominating a wall time. */
  def equiDepthBounds(df: DataFrame, grpCol: String, valCol: String,
                      idCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, "k: 1..1000")
    val w = Window.partitionBy(grpCol).orderBy(col("_v"), col(idCol))
    val ranked = df
      .select(col(grpCol), col(valCol).cast("long").as("_v"), col(idCol))
      .withColumn("_rn", row_number().over(w).cast("long"))
    val grid = df.groupBy(grpCol).agg(count(lit(1)).as("_n"))
      .select(col(grpCol), col("_n"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .select(col(grpCol), col("j"),
        expr(s"(j * _n + ${k - 1}) div $k").as("_rn"))
    ranked.join(broadcast(grid), Seq(grpCol, "_rn"))
      .select(col(grpCol), col("j"), col("_v").as("bound"))
  }

  /** Weighted lower median per group: the smallest value v such that
    * 2·Σ_{x ≤ v} w(x) ≥ Σ w — the integer-weight analog of the lower
    * median (weights = frequencies makes it the exact median of the
    * expanded multiset). All-integer, so cross-engine exact where
    * float percentile interpolation is not.
    *
    * Plan: one groupBy collapses rows to ≤|distinct values| per group,
    * then ONE group-partitioned pass computes both the running and the
    * total weight (two frames over the same sort — one exchange), and
    * a min-filter picks the crossing value. No join-back, no global
    * window. Output per group: `wmedian`, `total_w`. */
  def weightedMedian(df: DataFrame, grpCol: String, valCol: String,
                     wCol: String, chunkWidth: Long = 16384L): DataFrame = {
    // Two-level scan (the [[PrefixSum]] decomposition, r13
    // optimization round, guide §2.5): the previous shape ran the
    // running-weight window partitioned by the GROUP alone, so a
    // 3-group input did its entire cumulative sort-and-scan in 3
    // tasks (profiled: ~3 s of CPU on 12 tasks at sf0.1 while 29
    // cores idled). Level 1 scans within (group, value-band) — fully
    // parallel; level 2 prefix-sums the per-band totals along each
    // group's band order (band count = value-range/chunkWidth,
    // bounded and tiny, so its window is trivial) and joins the band
    // offsets back. cum = band offset + in-band running — the same
    // integers, so the crossing row and both outputs are
    // bit-identical (RobustSpec pins new ≡ old shape). The band
    // expression is floor division — monotone in the value, negatives
    // included.
    val byVal = df.groupBy(col(grpCol), col(valCol).cast("long").as("_v"))
      .agg(sum(col(wCol).cast("long")).as("_w"))
      .withColumn("_ck", expr(s"(_v - pmod(_v, ${chunkWidth}L)) div ${chunkWidth}L"))
    val run = Window.partitionBy(col(grpCol), col("_ck")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val inChunk = byVal.withColumn("_crun", sum(col("_w")).over(run))
    val offW = Window.partitionBy(grpCol).orderBy(col("_ck"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = byVal.groupBy(col(grpCol), col("_ck"))
      .agg(sum(col("_w")).as("_ct"))
      .withColumn("_off", coalesce(sum(col("_ct")).over(offW), lit(0L)))
      .withColumn("_tot", sum(col("_ct")).over(Window.partitionBy(grpCol)))
      .select(col(grpCol), col("_ck"), col("_off"), col("_tot"))
    // a plain join: offs is one row per (group, band), so AQE broadcasts
    // it while it is small and nothing forces a broadcast when it is not
    inChunk.join(offs, Seq(grpCol, "_ck"))
      .filter((col("_crun") + col("_off")) * 2 >= col("_tot"))
      .groupBy(grpCol)
      .agg(min(col("_v")).as("wmedian"), max(col("_tot")).as("total_w"))
  }

  /** Theil–Sen robust trend per group, at fixed integer resolution: the
    * lower-median pairwise slope over the group's (ord, value) points,
    * with each slope carried as the SHIFT-SCALED integer
    *
    *   sc = ((dv + shift·dd) · scale) div dd        (dv = vj−vi, dd = oj−oi > 0)
    *
    * so the reported `slope_scaled` = sc − shift·scale ≈ scale·dv/dd.
    * The shift keeps every div operand non-negative — Spark's `div`
    * truncates toward zero while DuckDB's `//` floors, and they agree
    * only there (the q219/q224 div-bridge rule); the caller must pick
    * `shift` > max|dv|/min dd (asserted per pair). Slopes are ORDERED
    * by (sc, dv, dd, oi, oj) — a total, engine-neutral order that is
    * the true rational order up to 1/scale quantization; the median is
    * therefore Theil–Sen at `scale` resolution (document the
    * quantization; RobustSpec pins an exact case and the tie rule).
    * Median slope is outlier-resistant where OLS is not: one corrupted
    * month moves ~n of the n² pairwise slopes, not the fit.
    *
    * Scale: the caller pre-aggregates to one row per (group, ord) —
    * pairs are group-size², BOUNDED BY CONTRACT because ord is
    * calendar-granular (84 months → 3.5k pairs), never raw rows. One
    * equi join on the group key + one group-partitioned rank window.
    * Output per group: n_pairs, the median pair's (dv, dd), and
    * slope_scaled. */
  def theilSenScaled(df: DataFrame, grpCol: String, ordCol: String,
                     valCol: String, scale: Long, shift: Long): DataFrame = {
    require(scale >= 1 && shift >= 1, s"scale=$scale shift=$shift")
    val a = df.select(col(grpCol), col(ordCol).cast("long").as("oi"),
      col(valCol).cast("long").as("vi"))
    val b = a.select(col(grpCol), col("oi").as("oj"), col("vi").as("vj"))
    val pairs = a.join(b, Seq(grpCol))
      .filter(col("oj") > col("oi"))
      .withColumn("dv", col("vj") - col("vi"))
      .withColumn("dd", col("oj") - col("oi"))
      .withColumn("sc", expr(
        s"""CASE WHEN dv + ${shift}L * dd >= 0
           |  THEN ((dv + ${shift}L * dd) * ${scale}L) div dd
           |  ELSE raise_error('theilSenScaled: shift too small for this
           |    dv range — pick shift > max|dv|/min dd')
           |END""".stripMargin))
    val w = Window.partitionBy(grpCol)
      .orderBy(col("sc"), col("dv"), col("dd"), col("oi"), col("oj"))
    pairs
      .withColumn("_rn", row_number().over(w))
      .withColumn("_np", count(lit(1)).over(Window.partitionBy(grpCol)))
      .filter(col("_rn") === expr("(_np + 1) div 2"))
      .select(col(grpCol), col("_np").as("n_pairs"), col("dv"), col("dd"),
        (col("sc") - lit(shift * scale)).as("slope_scaled"))
  }

  /** Discrete quantile normalization across sub-distributions: each
    * (group, subgroup) row's value is replaced by the GROUP-pooled
    * distribution's value at the same rank-permille — the cross-source
    * calibration step that puts per-source quality/length scores on one
    * comparable scale before mixing (the microarray quantile-normalize
    * recipe, made exact: permille = rank·1000 div n over the (value,
    * id) total order, mapped via an as-of match to the greatest pooled
    * permille ≤ it; a match always exists because the pooled min
    * permille 1000 div N ≤ any subgroup's 1000 div n).
    *
    * All windows partition by (group) or (group, subgroup) — nothing
    * global; the permille as-of is [[AsofJoin.asofMatch]]'s union-tag
    * single-shuffle plan keyed on the group. Ranks go through LONG
    * before ·1000 (an int rank overflows at 2.1M rows/group at corpus
    * scale). Ties on value break by id on BOTH sides, so the mapping
    * is total-order deterministic.
    *
    * Output: one row per input row — (group, subgroup, id, value, p,
    * norm_v). */
  def quantileNormalize(df: DataFrame, grpCol: String, subCol: String,
                        valCol: String, idCol: String): DataFrame = {
    // three consumers (subgroup ranks, pooled ranks, attribute join-back)
    // — persist or the upstream scan runs per consumer (AQE-reuse rule);
    // the RESULT depends on this frame, so the session-level sweep owns
    // the release (docs/CACHE_POLICY.md rule 1)
    val base = df.select(col(grpCol), col(subCol), col(idCol),
      col(valCol).cast("long").as("_v")).persist()
    val wSub = Window.partitionBy(grpCol, subCol)
      .orderBy(col("_v"), col(idCol))
    val nSub = Window.partitionBy(grpCol, subCol)
    val src = base
      .withColumn("_rk", row_number().over(wSub).cast("long"))
      .withColumn("_n", count(lit(1)).over(nSub))
      .withColumn("p", expr("_rk * 1000 div _n"))
    val wPool = Window.partitionBy(grpCol).orderBy(col("_v"), col(idCol))
    val nPool = Window.partitionBy(grpCol)
    val pooled = base
      .withColumn("_rk", row_number().over(wPool).cast("long"))
      .withColumn("_n", count(lit(1)).over(nPool))
      .select(col(grpCol), expr("_rk * 1000 div _n").as("pp"), col("_v"))
    val mapped = AsofJoin.asofMatch(
      src.select(col(grpCol), col(idCol), col("p")), pooled,
      keyCol = grpCol, leftTs = "p", rightTs = "pp",
      leftIdCol = idCol, rightIdCol = "_v")
    // join-back on (group, id): idCol only needs to be unique PER GROUP —
    // joining on left_id alone would duplicate rows for a caller whose
    // ids repeat across groups
    mapped
      .join(base.select(col(grpCol), col(subCol),
        col(idCol).cast("long").as("left_id"), col("_v")),
        Seq(grpCol, "left_id"))
      .select(col(grpCol), col(subCol), col("left_id").as(idCol),
        col("_v").as(valCol), col("p"), col("right_id").as("norm_v"))
  }
}
