package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted single-source (-set) shortest paths — frontier-based
  * Bellman–Ford relaxation, the weighted sibling of [[Bfs]] (which
  * counts hops): per round, only nodes whose tentative distance
  * IMPROVED last round relax their out-edges, candidate distances
  * min-combine per target (map-side combined aggregation), and the
  * distance table swaps in the improved rows. Work per round is
  * proportional to the improving frontier's out-neighborhood — on most
  * graphs that decays fast after the first few rounds — and the round
  * count is bounded by the maximum HOP length of any shortest weighted
  * path (≤ V−1 in the worst case, tiny on small-diameter graphs).
  *
  * Weights must be non-negative longs (checked): integer arithmetic
  * end-to-end makes every distance exact, so q124's DuckDB oracle — a
  * bounded recursive walk taking min(dist) per node — must hash-match
  * exactly. Parallel edges collapse to their min weight up front.
  * Unreachable nodes are absent from the output (the [[Bfs]]
  * convention). Convergence is detected (empty improving frontier);
  * hitting `maxRounds` with improvements still flowing raises rather
  * than returning non-minimal distances.
  */
object Sssp {

  /** Exact shortest weighted distances from `sources` ("node") over
    * directed `edges` ("src", "dst", "w") — feed both directions for an
    * undirected graph. Returns (node, dist); dist = 0 for sources. */
  def shortestPaths(edges: DataFrame, sources: DataFrame,
                    maxRounds: Int = 60): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .groupBy("src", "dst").agg(min(col("w")).as("w"))
      .localCheckpoint()
    require(e.filter(col("w") < 0).isEmpty,
      "Sssp.shortestPaths: negative edge weight (Bellman–Ford frontier " +
        "relaxation requires w >= 0 to terminate at shortest distances)")
    // State is ONE frame (node, dist, _imp): _imp = 1 marks rows whose
    // distance improved last round (the live frontier). Each round
    // broadcasts the frontier into the edge join through
    // [[Iterate.broadcastIfSmall]] with the loop's own frontier count
    // (Bellman–Ford frontiers can grow toward |V| mid-search, exactly
    // the cliff its ceiling guards), then ONE node-keyed aggregation merges
    // candidates with the previous distances: min(d) over both is the
    // relaxed distance, and min(d | old rows) recovers the previous
    // value so the improvement flag needs no join-back. One exchange +
    // one materialization + one count per round, where the previous
    // shape paid candidate-groupBy + join + anti-join + union across
    // TWO materializations and counts (r12 optimization round,
    // guide §2.3/§2.4). Same min-combine, bit-identical distances.
    var state = Iterate.materialize(
      sources.select(col("node").cast("long").as("node")).distinct()
        .select(col("node"), lit(0L).as("dist"), lit(1L).as("_imp")))
    var round = 0
    var improving = state.filter(col("_imp") === 1L).rdd.count()
    while (improving > 0 && round < maxRounds) {
      round += 1
      val fr = state.filter(col("_imp") === 1L)
        .select(col("node").as("src"), col("dist"))
      val cand = Iterate.broadcastIfSmall(fr, improving).join(e, "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("d"),
          lit(0L).as("_old"))
      state = Iterate.materialize(
        cand.unionByName(
            state.select(col("node"), col("dist").as("d"), lit(1L).as("_old")))
          .groupBy("node")
          .agg(min(col("d")).as("dist"),
            min(when(col("_old") === 1L, col("d"))).as("_oldd"))
          .select(col("node"), col("dist"),
            (col("_oldd").isNull || col("dist") < col("_oldd"))
              .cast("long").as("_imp")))
      improving = state.filter(col("_imp") === 1L).rdd.count()
    }
    require(improving == 0,
      s"Sssp.shortestPaths: distances still improving after $maxRounds " +
        "rounds (raise maxRounds; bound is the max hop length of a " +
        "shortest weighted path)")
    state.select("node", "dist")
  }
}
