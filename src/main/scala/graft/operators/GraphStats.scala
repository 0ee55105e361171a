package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Neighborhood profiling over an edge list — the degree/2-hop feature
  * family every graph pipeline derives before ML or sampling passes.
  * Pure integer set arithmetic on (src, dst) pairs; all outputs BIGINT.
  *
  * Cache ownership: persists internal frames the returned (lazy)
  * result depends on; the CALLER releases after materializing —
  * graft.Caches.releaseAll(spark) (docs/CACHE_POLICY.md rule 1).
  */
object GraphStats {

  /** Per-node count of DISTINCT nodes exactly two hops away: reachable
    * via some neighbor, not a direct neighbor, not the node itself —
    * the friend-of-friend candidate pool of link prediction.
    *
    * Plan: one self-join through the shared middle node (cost Σ deg(m)²
    * over middles — the true 2-path count, never |V|²), distinct to
    * collapse multiple witnesses, one anti join to remove direct
    * neighbors, one count per source. Every join hashes on a node id;
    * no cartesian anywhere. Input must be symmetric for undirected
    * semantics (feed both directions). */
  def twoHopCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val hop2 = e.select(col("src").as("a"), col("dst").as("m"))
      .join(e.select(col("src").as("m"), col("dst").as("b")), "m")
      .filter(col("a") =!= col("b"))
      .select("a", "b").distinct()
    hop2.join(e.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
      .groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("n_twohop"))
  }

  /** Degree histogram: (deg, n_nodes) — how many nodes have each
    * degree. One degree count + one tiny re-aggregation. */
  def degreeHistogram(edges: DataFrame): DataFrame = {
    edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .groupBy("src").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
  }

  /** Local clustering-coefficient components per node: (node, deg,
    * n_tri) — the coefficient 2·n_tri / (deg·(deg−1)) is fully
    * determined by the exact BIGINT pair and left to the consumer
    * (float ground rules). The "how clique-ish is each neighborhood"
    * signal community and link-prediction passes threshold on.
    *
    * Triangle counts ride [[Triangles.enumerate]]'s degree-oriented
    * enumeration (candidate cost Σ deg_oriented², never Σ deg²), then
    * one explode of the 3 corners + a node-keyed count; degree is one
    * more count over the symmetric edge list. Input must be symmetric
    * (feed both directions); degree-1 nodes report n_tri = 0. */
  def clusteringComponents(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val tris = Triangles.enumerate(
      e.select(col("src").as("a"), col("dst").as("b")))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Degree-assortativity components over a SYMMETRIC edge list: ONE
    * row (m, sum_jk, sum_j, sum_j2) where, over every directed edge,
    * j/k are the endpoint degrees — Newman's assortativity
    * r = (Σjk/m − (Σj/m)²) / (Σj²/m − (Σj/m)²) is fully determined by
    * the four exact BIGINTs and left to the consumer (float ground
    * rules; for a symmetric list the j- and k-marginals coincide, so
    * one marginal suffices). Degree-mixing is the hub-to-hub vs
    * hub-to-leaf wiring signal that picks sampling and partitioning
    * strategies for the graph operators.
    *
    * Plan: one degree count, two joins of the node-sized degree table
    * onto the edge list (broadcast — degrees are |V| rows), one global
    * 1-row aggregation (map-side combined; no window, no cartesian).
    * Long bounds: Σjk ≤ m·d_max² — past ~10⁹ edges with 10⁴-degree
    * hubs shift the quadratic sums to DECIMAL(38,0). */
  def assortativityComponents(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    e.join(broadcast(deg.select(col("node").as("src"), col("deg").as("jdeg"))),
        "src")
      .join(broadcast(deg.select(col("node").as("dst"), col("deg").as("kdeg"))),
        "dst")
      .agg(count(lit(1)).as("m"),
        sum(col("jdeg") * col("kdeg")).as("sum_jk"),
        sum(col("jdeg")).as("sum_j"),
        sum(col("jdeg") * col("jdeg")).as("sum_j2"))
  }

  /** Reciprocity components of a DIRECTED edge list: ONE row
    * (m, m_mutual) — total distinct edges and those whose reverse
    * edge also exists; the reciprocity coefficient r = m_mutual / m
    * is a float left to the consumer. Computed in one pass: the edge
    * list left-joins its own reversal (equi-join on both endpoints)
    * and aggregates the match flag — no correlated probe per edge, no
    * 1-row cross join. Self-loops are excluded (trivially mutual). */
  def reciprocityComponents(edges: DataFrame): DataFrame = {
    // ONE canonical-pair aggregation (r13 optimization round, guide
    // §2.4) replaces distinct + left-join-of-own-reversal: group the
    // DIRECTED edges by the unordered endpoint pair and fold a
    // direction-presence flag per side — max(flag) absorbs the
    // distinct, the pair is mutual iff both flags fold to 1, and
    // m = Σ present directions. The edge list crosses the network once
    // (map-side-combined groupBy) where the old shape shuffled it for
    // the distinct and again for each self-join side, and the persist
    // goes away with the second consumer. Same two BIGINTs.
    edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"),
        when(col("src") < col("dst"), 1L).otherwise(0L).as("f"),
        when(col("src") > col("dst"), 1L).otherwise(0L).as("r"))
      .groupBy("lo", "hi")
      .agg(max(col("f")).as("hf"), max(col("r")).as("hr"))
      .agg(coalesce(sum(col("hf") + col("hr")), lit(0L)).as("m"),
        sum(when(col("hf") === 1L && col("hr") === 1L, 2L).otherwise(0L))
          .as("m_mutual"))
    // (m coalesced like the old count(*) — 0 on an empty edge list,
    // m_mutual NULL there, matching the previous shape exactly)
  }

  /** Common-neighbor link prediction: the top-`topK` NON-edges (a < b)
    * ranked by how many neighbors they share — the classic
    * candidate-generation pass before a learned ranker. Output:
    * (a, b, cn), ordered by (cn desc, a, b).
    *
    * Scale design: two-hop paths are generated only through middle
    * nodes of degree ≤ `hubCap`, the standard hub-suppression trick —
    * a celebrity middle contributes deg² candidate pairs and near-zero
    * signal (sharing a hub is weak evidence), so capping bounds the
    * join at Σ_{deg(m)≤cap} deg(m)² ≤ cap·|E| while keeping every
    * non-hub witness exact. The cap is part of the operator's
    * SEMANTICS (cn counts low-degree witnesses only), so the oracle
    * applies the identical cap — not a lossy approximation being
    * papered over. Candidate pairs are partially aggregated map-side
    * before the (a,b)-keyed shuffle; existing edges leave via one
    * anti join; top-k is TakeOrdered (no global window). Input must be
    * symmetric (feed both directions). */
  def linkPrediction(edges: DataFrame, hubCap: Long, topK: Int): DataFrame =
    linkCandidates(edges, hubCap)
      .select(col("a"), col("b"), col("cn"))
      .orderBy(col("cn").desc, col("a"), col("b"))
      .limit(topK)

  /** Resource-allocation-index variant of [[linkPrediction]] (the
    * Adamic–Adar family): each low-degree shared neighbor m
    * contributes 10^9 div deg(m) instead of 1, so rare witnesses
    * outweigh common ones. Integer-exact (div on positive longs is
    * the floor both engines compute); output (a, b, cn, ra) by
    * (ra desc, a, b). Same hub-capped candidate machinery and cost
    * bound as the unweighted form. */
  def linkPredictionRa(edges: DataFrame, hubCap: Long, topK: Int): DataFrame =
    linkCandidates(edges, hubCap)
      .orderBy(col("ra").desc, col("a"), col("b"))
      .limit(topK)

  /** Shared witness machinery: the normalized symmetric edge frame,
    * node degrees, and the capped 2-hop pair counts (a < b, witness
    * count + RA weight sum — an unused aggregate column is pruned by
    * the optimizer, so single-score callers pay nothing extra).
    *
    * Shape (r13 optimization round, guide §2.4): ONE node-keyed
    * aggregation builds the exact degree AND the ≤hubCap neighbor list
    * per middle, and pairs explode ROW-LOCALLY from the list — the old
    * deg-join + wedge self-join paid 3 extra exchanges and 2 join
    * stages for the same pair multiset (for a SYMMETRIC distinct edge
    * list, both wedge sides are the same (m, neighbor) frame, so the
    * self-join was joining a frame with itself). The neighbor collector
    * is the k-bounded [[TopKAgg]] (k = hubCap+1), NOT collect_list: a
    * celebrity middle's buffer caps at hubCap+1 entries on every map
    * partition and merge (guide §2.5 — the size also flags over-cap
    * middles, which the exact `deg` then drops), so the one-task-per-
    * key concentration of the final merge is bounded. Pair volume is
    * unchanged: Σ_{deg(m)≤cap} C(deg,2), the operator's documented
    * bound. Wedge order: the (value DESC) array reversed is ascending,
    * so slice-after-position emits exactly the a < b pairs the old
    * join filter kept (neighbors are distinct — e is). */
  private def witnessFrames(edges: DataFrame,
                            hubCap: Long): (DataFrame, DataFrame, DataFrame) = {
    require(hubCap >= 1 && hubCap < Int.MaxValue, s"hubCap out of range: $hubCap")
    // normalized frame feeds the adjacency agg and the anti/edge-side
    // consumers — persist per the AQE ReuseExchange rule
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist()
    // one exchange: exact degree + capped neighbor list per node.
    // persist: deg and pairs are separate consumers in edgeEmbeddedness
    // (deg twice), and AQE re-runs the agg per consumer otherwise.
    val grouped = e.groupBy(col("src").as("m"))
      .agg(count(lit(1)).as("deg"),
        TopKAgg.topKExpr((hubCap + 1).toInt, col("dst"), col("dst")).as("_tk"))
      .persist()
    val deg = grouped.select(col("m"), col("deg"))
    val pairs = grouped.filter(col("deg") <= hubCap)
      .select(col("deg"), expr("reverse(transform(_tk, s -> s.id))").as("nbrs"))
      .select(col("deg"), posexplode(col("nbrs")).as(Seq("i", "a")),
        col("nbrs"))
      .select(col("deg"), col("a"),
        explode(slice(col("nbrs"), col("i") + lit(2),
          size(col("nbrs")) - col("i") - lit(1))).as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000000 div deg")).as("ra"))
    (e, deg, pairs)
  }

  /** Candidate NON-edges for [[linkPrediction]]/[[linkPredictionRa]]. */
  private def linkCandidates(edges: DataFrame, hubCap: Long): DataFrame = {
    val (e, _, pairs) = witnessFrames(edges, hubCap)
    pairs.join(e.select(col("src").as("a"), col("dst").as("b")),
      Seq("a", "b"), "left_anti")
  }

  /** Double-sweep pseudo-diameter (Magnien/Latapy/Habib's BFS
    * double sweep): BFS from the minimum node id, re-BFS from the
    * farthest node found (ties to the smaller id), and report that
    * second sweep's distance histogram — its max row is the classic
    * lower bound on the graph diameter, and the histogram is the
    * eccentricity profile audit for partition-depth planning (how many
    * frontier rounds a traversal of this graph costs at scale).
    *
    * Scale: two frontier-bounded BFS fixpoints ([[Bfs.distances]] —
    * per-round localCheckpoint, never a transitive-closure join); the
    * seed is a 1-row min aggregate and the far-node pick is a 1-row
    * TakeOrdered collect (bounded by contract). The edge frame feeds
    * both sweeps, so it is persisted for the call and released before
    * return (docs/CACHE_POLICY.md rule 2 — both sweeps' frontiers are
    * checkpoint-materialized, so the release is safe). */
  def pseudoDiameter(edges: DataFrame, maxDepth: Int = 40): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // normalize ONCE for both sweeps (Bfs.distancesPre): the plain
    // Bfs.distances entry would re-run the distinct + checkpoint per
    // sweep (r12 optimization round)
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().localCheckpoint()
    val seed = e.agg(min("src").as("node")).filter(col("node").isNotNull)
    val d1 = Bfs.distancesPre(e, seed, maxDepth)
    val farRow = d1.orderBy(col("dist").desc, col("node")).limit(1).collect()
    if (farRow.isEmpty) {
      // empty edge frame: empty profile, not a crash
      Seq.empty[(Long, Long)].toDF("dist", "n_nodes")
    } else {
      val d2 = Bfs.distancesPre(e, Seq(farRow(0).getLong(0)).toDF("node"), maxDepth)
      d2.groupBy("dist").agg(count(lit(1)).as("n_nodes")).orderBy("dist")
    }
  }

  /** Edge embeddedness (Easley–Kleinberg tie strength): for each
    * EXISTING edge (a < b), its shared-low-degree-neighbor count next
    * to the endpoint degrees — cn = 0 flags a LOCAL BRIDGE, the edges
    * community detection must not cut. Output the topK weakest ties
    * (cn asc, a, b). Same hub-capped machinery and cost bound as link
    * prediction (the cap is part of the semantics). Input must be
    * symmetric (feed both directions). */
  def edgeEmbeddedness(edges: DataFrame, hubCap: Long, topK: Int): DataFrame = {
    val (e, deg, pairs) = witnessFrames(edges, hubCap)
    e.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
      .join(pairs.select("a", "b", "cn"), Seq("a", "b"), "left")
      .join(deg.select(col("m").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("m").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), coalesce(col("cn"), lit(0L)).as("cn"),
        col("deg_a"), col("deg_b"))
      .orderBy(col("cn"), col("a"), col("b"))
      .limit(topK)
  }

  /** Four-cycle (rectangle) census via wedge aggregation: a wedge is an
    * ordered pair of distinct neighbors (u &lt; w) of a common center;
    * a pair with p common centers closes C(p,2) rectangles, and every
    * rectangle u–v–w–x is reported under exactly its two OPPOSITE pairs
    * ({u,w} and {v,x}), so Σ n_rects counts each 4-cycle twice — the
    * bipartite-cohesion motif next to q102's triangles (4-cycles are
    * the smallest motif triangle counting is blind to).
    *
    * Input: undirected edges as (a, b). Output: (u, w, n_paths,
    * n_rects) for pairs with ≥ 2 common neighbors. All integers.
    *
    * Scale shape: symmetrize, self-join on the center, group — wedge
    * volume is Σ deg(v)², the standard wedge-sample bound; on a skewed
    * 100 TB graph the mitigation is the [[linkPrediction]] hubCap
    * (drop centers above a degree cap, documented estimator bias) —
    * left exact here because the census IS the contract (the oracle
    * re-derives it by pairing distinct centers per (u,w), a different
    * join shape entirely). */
  def fourCycles(edges: DataFrame): DataFrame = {
    // Wedges explode ROW-LOCALLY from per-center adjacency lists (r13
    // optimization round, guide §2.4): groupBy(center) is ONE exchange
    // where the old self-join exchanged sym twice and ran a join stage
    // — and sym itself is computed once, not once per join side (AQE
    // defeats ReuseExchange). sort_array + position-slice emits each
    // unordered neighbor pair once with the old strict `dst1 < dst2`
    // semantics (equal-id duplicates in a non-distinct input stay
    // excluded by the `>` filter, multiplicities still multiply).
    // Skew: a hub center's full list lands in one agg buffer — the
    // same one-task deg² concentration the self-join had on the hub's
    // key; the census is exact by contract, the capped mitigation
    // lives in [[linkPrediction]] (see scaladoc above).
    val e = edges.select(col("a"), col("b"))
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
    sym.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .select(posexplode(col("nbrs")).as(Seq("i", "u")), col("nbrs"))
      .select(col("u"),
        explode(slice(col("nbrs"), col("i") + lit(2),
          size(col("nbrs")) - col("i") - lit(1))).as("w"))
      .filter(col("w") > col("u"))
      .groupBy("u", "w")
      .agg(count(lit(1)).as("n_paths"))
      .filter(col("n_paths") >= 2)
      .withColumn("n_rects", expr("(n_paths * (n_paths - 1)) div 2"))
  }

  /** Per-component bipartiteness via the DOUBLED-GRAPH trick: each node
    * u becomes shadow nodes u⁰=2u, u¹=2u+1 and each undirected edge
    * {u,v} becomes {u⁰,v¹} and {v⁰,u¹}; a component contains an odd
    * cycle iff some node's two shadows land in the SAME doubled
    * component — one CC fixpoint answers 2-colorability for every
    * component at once, no per-component BFS coloring. NO second pass
    * recovers the original components: for a connected component the
    * unordered shadow-label pair {d0, d1} is CONSTANT across its nodes
    * (bipartite → sides A/B see the same two doubled components from
    * opposite ends; odd cycle → d0 = d1 = the single merged label), so
    * `least(d0, d1)` already keys the original components — one
    * groupBy, zero extra fixpoints (measured: the naive quotient-CC
    * second pass cost ~2–3 s of pure per-round scheduling floor at
    * local[32]). Output: (comp = min member id, n_nodes, is_bip 0/1).
    * The oracle answers the same question with different machinery:
    * recursive min-label closure + a (node,color) propagation from
    * each component's min node. */
  def bipartiteComponents(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    val doubled = e.select((col("a") * 2).as("id_a"), (col("b") * 2 + 1).as("id_b"))
      .unionByName(e.select((col("b") * 2).as("id_a"), (col("a") * 2 + 1).as("id_b")))
    val dcc = Dedup.connectedComponents(doubled, maxIter = 40)
    dcc
      .select(expr("id div 2").as("node"),
        when(col("id") % 2 === 0, col("comp")).as("d0"),
        when(col("id") % 2 === 1, col("comp")).as("d1"))
      .groupBy("node")
      .agg(max(col("d0")).as("d0"), max(col("d1")).as("d1"))
      .groupBy(least(col("d0"), col("d1")).as("_ck"))
      .agg(min(col("node")).as("comp"), count(lit(1)).as("n_nodes"),
        min(when(col("d0") =!= col("d1"), 1L).otherwise(0L)).as("is_bip"))
      .select(col("comp"), col("n_nodes"), col("is_bip"))
  }
}
