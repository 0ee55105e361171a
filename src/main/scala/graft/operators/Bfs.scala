package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search: shortest hop-distance from a set
  * of source nodes to every reachable node of an edge list — the
  * distributed answer to a recursive CTE graph walk (which q110's
  * DuckDB oracle states directly).
  *
  * Frontier iteration (the Pregel BFS): the state is (node, dist) for
  * every VISITED node; each round expands only the newest frontier —
  * frontier ⋈ edges (frontier broadcast, see below), then
  * ONE node-keyed aggregation that is simultaneously the candidate
  * dedup (distinct) and the visited-set anti join: candidates carry a
  * 0 marker, visited nodes a 1, and max-per-node keeps exactly the
  * newly discovered nodes. Every round's cost is proportional to the
  * FRONTIER's edge neighborhood plus one pass over the visited set —
  * the same bytes the previous distinct + anti-join shape moved, in
  * ONE exchange instead of three (guide §2.4; r12 optimization round:
  * q110 went 76 → ~40 scheduler jobs, 2.27 → ~1.2 s at sf0.1).
  *
  * The frontier goes into the edge join through
  * [[Iterate.broadcastIfSmall]] with the loop's own frontier count.
  * Rounds = eccentricity of the source set
  * (contrast [[Hierarchy]]'s pointer jumping, which doubles strides
  * for O(log depth) rounds — that trick needs the functional-graph
  * property "one outgoing pointer per node"; on a general graph the
  * frontier walk is the scale-correct shape, and its per-round work
  * shrinks as the frontier wraps the graph).
  *
  * Unreachable nodes are absent from the output (the relational
  * convention the oracle shares). Convergence is detected — the loop
  * ends when the frontier empties; hitting `maxDepth` with a non-empty
  * frontier raises rather than silently returning truncated distances.
  * Each round localCheckpoints state (the PageRank lesson: unioned
  * lineage re-runs the whole chain once per downstream consumer).
  * All-integer (ids and hop counts are longs).
  */
object Bfs {

  /** How often the visited set's lazy union lineage is compacted with a
    * [[Iterate.materialize]]: the union adds one plan level per round —
    * fine for tens of rounds, but a high-diameter walk (road networks:
    * thousands of rounds) would grow an unbounded plan. Every N rounds
    * the accumulated state is checkpointed, so plan depth is bounded by
    * N regardless of graph diameter, at the cost of one row-codec pass
    * over the visited set per N rounds (BfsSpec proves a depth-200
    * chain at maxDepth=250 finishes with bounded plan depth). */
  val CheckpointEvery = 20

  /** Hop distances from `sources` ("node" column) over directed
    * `edges` ("src", "dst") — feed both directions for an undirected
    * graph. Returns (node, dist); dist = 0 for sources, minimal hop
    * count otherwise; unreachable nodes absent. */
  def distances(edges: DataFrame, sources: DataFrame,
                maxDepth: Int = 40): DataFrame =
    distancesPre(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct().localCheckpoint(),
      sources, maxDepth)

  /** [[distances]] over an ALREADY normalized edge frame — (src, dst)
    * longs, distinct, materialized — so a caller running several
    * sweeps over the same graph ([[GraphStats.pseudoDiameter]]'s
    * double sweep) pays the normalization once, not per sweep. */
  private[operators] def distancesPre(e: DataFrame, sources: DataFrame,
                                      maxDepth: Int): DataFrame = {
    var dist = Iterate.materialize(
      sources.select(col("node").cast("long").as("node")).distinct()
        .withColumn("dist", lit(0L)))
    var frontier = dist.select("node")
    var depth = 0L
    var frontierSize = frontier.rdd.count()
    while (frontierSize > 0 && depth < maxDepth) {
      depth += 1
      // Iterate.materialize keeps the carried size estimates (and
      // lineage) round-constant — see Iterate scaladoc. (A fused
      // lazy-checkpoint + count was A/B-measured SLOWER: the count
      // over the eager checkpoint's cached blocks is near-free, while
      // counting through the uncheckpointed plan loses codegen'd
      // aggregation locality.)
      val fr = frontier.select(col("node").as("src"))
      val next = Iterate.materialize(
        Iterate.broadcastIfSmall(fr, frontierSize).join(e, "src")
          .select(col("dst").as("node"), lit(0L).as("_vis"))
          .unionByName(dist.select(col("node"), lit(1L).as("_vis")))
          .groupBy("node").agg(max(col("_vis")).as("_vis"))
          .filter(col("_vis") === 0L).select("node"))
      frontierSize = next.rdd.count()
      if (frontierSize > 0) {
        // the visited set stays a LAZY union of the already-materialized
        // frontiers — no recompute risk, no extra job per round —
        // compacted every [[CheckpointEvery]] rounds so plan depth is
        // bounded even past maxDepth=40 (high-diameter graphs)
        dist = dist.unionByName(next.withColumn("dist", lit(depth)))
        if (depth % CheckpointEvery == 0) dist = Iterate.materialize(dist)
        frontier = next
      }
    }
    require(frontierSize == 0,
      s"Bfs.distances: frontier still non-empty after $maxDepth rounds " +
        "(raise maxDepth above the source set's eccentricity)")
    dist
  }

  /** Per-seed hop distances — the landmark/pivot table behind sampled
    * closeness centrality: unlike [[distances]] (which unions the
    * sources into ONE wavefront and reports the min over the set),
    * every seed runs its own BFS, carried as a (node, seed, dist)
    * state so all seeds advance in the SAME per-round join (one
    * frontier ⋈ edges equi-join per round, not one per seed — the
    * standard multi-source batching trick). State and frontier are
    * keyed (node, seed); per-round cost is Σ over seeds of that seed's
    * frontier neighborhood. Seeds must come hash-sampled by the caller
    * — |state| is bounded by |seeds|·|reachable|, which is the
    * operator's deliberate budget (landmark methods pick tens of
    * seeds, never the node set). The per-round join/dedup/anti shape
    * (and the frontier broadcast) matches [[distances]].
    *
    * Returns (node, seed, dist); a seed unreachable from `node` simply
    * contributes no row (the closeness consumer divides by the REACHED
    * count, keeping disconnected components honest). */
  def landmarkDistances(edges: DataFrame, seeds: DataFrame,
                        maxDepth: Int = 40): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().localCheckpoint()
    var dist = Iterate.materialize(
      seeds.select(col("node").cast("long").as("node")).distinct()
        .select(col("node"), col("node").as("seed"), lit(0L).as("dist")))
    var frontier = dist.select("node", "seed")
    var depth = 0L
    var frontierSize = frontier.rdd.count()
    while (frontierSize > 0 && depth < maxDepth) {
      depth += 1
      val next = Iterate.materialize(
        Iterate.broadcastIfSmall(frontier, frontierSize)
          .join(e, frontier("node") === e("src"))
          .select(col("dst").as("node"), col("seed"), lit(0L).as("_vis"))
          .unionByName(dist.select(col("node"), col("seed"),
            lit(1L).as("_vis")))
          .groupBy("node", "seed").agg(max(col("_vis")).as("_vis"))
          .filter(col("_vis") === 0L).select("node", "seed"))
      frontierSize = next.rdd.count()
      if (frontierSize > 0) {
        dist = dist.unionByName(next.withColumn("dist", lit(depth)))
        if (depth % CheckpointEvery == 0) dist = Iterate.materialize(dist)
        frontier = next
      }
    }
    require(frontierSize == 0,
      s"Bfs.landmarkDistances: frontier still non-empty after $maxDepth " +
        "rounds (raise maxDepth above the seed set's eccentricity)")
    dist
  }
}
