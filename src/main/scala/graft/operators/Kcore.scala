package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by synchronous peeling (Matula & Beck's
  * algorithm, the distributed round-synchronous variant): repeatedly
  * delete every node whose degree in the induced subgraph is below k;
  * the fixpoint is the k-core — the standard density filter for graph
  * cleaning (drop barely-connected periphery before community/embedding
  * passes) and a building block of nucleus decompositions.
  *
  * Scale design: the edge list is the only state, re-materialized per
  * round ([[Iterate.materialize]] — lineage + stats hygiene) and
  * monotonically SHRINKING; each round annotates every edge with both
  * endpoint degrees via two node-partitioned windows and filters — no
  * degree table, no join-back, no collect, no per-node loop. Round
  * count is bounded by the peeling depth (≤ V but tiny in practice:
  * each round removes every currently-underweight node at once).
  *
  * Determinism: pure set arithmetic over integer ids — no floats, no
  * tie-breaks (synchronous deletion makes the round sequence, and the
  * fixpoint is order-independent anyway: the k-core is the unique
  * maximal subgraph with min degree ≥ k). q134's oracle restates the
  * peel as maxRounds unrolled DuckDB CTEs; the engine early-exits at
  * the fixpoint and RAISES if still shrinking after maxRounds, so a
  * green row proves both engines reached the same fixpoint.
  */
object Kcore {

  /** The k-core of the undirected graph `edges` ("src", "dst" — feed
    * both directions). Returns (node, deg) = surviving nodes with their
    * in-core degree. Parallel edges collapse; self-loops are dropped
    * (a self-loop inflates its node's degree by 2 in no standard
    * definition of coreness). */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // Per-round degrees (r13 optimization round, measured —
    // OPTIMIZATION_r13.md): the PARTITIONED-window shape — count() OVER
    // the src partition is each edge's source degree, the dst window its
    // target degree (the list is symmetric, so both see the node
    // degree), one filter keeps edges whose BOTH endpoints survive; two
    // edge exchanges per round, fastest measured locally (a groupBy
    // degree count joined back on both endpoints was the other shape).
    // Convergence is detected on the EDGE count: a node leaves the
    // survivor set iff some incident edge was dropped, so the edge count
    // is fixed iff the survivor set is (the previous node-count test,
    // same fixpoint).
    import org.apache.spark.sql.expressions.Window
    var e = Iterate.materialize(
      edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct())
    var prev = -1L
    var m = e.rdd.count()
    var rounds = 0
    while (m != prev && m > 0) {
      prev = m
      val survivors =
        e.withColumn("_ds", count(lit(1)).over(Window.partitionBy("src")))
          .withColumn("_dd", count(lit(1)).over(Window.partitionBy("dst")))
      e = Iterate.materialize(
        survivors
          .filter(col("_ds") >= k && col("_dd") >= k)
          .select("src", "dst"))
      m = e.rdd.count()
      if (m != prev) {
        // only iterations that actually peeled count toward the bound
        // (the final fixpoint-detection pass is free of charge, like
        // the previous shape's node-count equality check)
        rounds += 1
        require(rounds <= maxRounds,
          s"Kcore.kcore: still peeling after $maxRounds rounds (raise " +
            "maxRounds; bound is the peeling depth of the graph)")
      }
    }
    // the fixpoint graph is induced on nodes of degree >= k, so the
    // final degree count needs no filter
    e.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
  }

  /** The q134 oracle: `rounds` unrolled peeling rounds as DuckDB CTEs
    * over the CTE `edges` (symmetric, distinct, no self-loops) that
    * `edgesSql` must define. Kept beside the engine so the two can't
    * drift; the engine's fixpoint early-exit + maxRounds raise make
    * "rounds here ≥ true peeling depth" self-checking (see scaladoc). */
  def oracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    // every CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, and the
    // round chain would re-expand `edges` exponentially (observed as
    // "Too many open files" at 12 rounds before it even got slow)
    val sb = new StringBuilder
    sb.append(edgesSql)
    sb.append(",\nn0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)")
    for (r <- 1 to rounds) {
      sb.append(
        s""",
           |d$r AS MATERIALIZED (
           |  SELECT e.src AS node, count(*) AS deg FROM edges e
           |  JOIN n${r - 1} a ON a.node = e.src
           |  JOIN n${r - 1} b ON b.node = e.dst
           |  GROUP BY 1),
           |n$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $k)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT node, deg FROM d$rounds WHERE deg >= $k
         |ORDER BY node""".stripMargin)
    sb.toString
  }
}
