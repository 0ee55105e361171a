package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et
  * al. 2007, the round-synchronous Pregel variant) — the cheap
  * communities pass a graph pipeline runs between connected components
  * (too coarse) and modularity methods (too expensive): each node
  * repeatedly adopts the most frequent label among its neighbors.
  *
  * Scale design: per round, ONE edge⋈labels equi-join + one
  * (node, label) count + one per-node argmax — all hashed on node ids,
  * cost O(|E|) per round, `rounds` rounds total. The node-sized label
  * table goes into the edge join through [[Iterate.broadcastIfSmall]]
  * with the initial label count, so the (bigger) edge list is not
  * re-shuffled every round. Round state is re-materialized via
  * [[Iterate.materialize]] (self-referential loop — lineage + stats
  * hygiene).
  *
  * Determinism: plain LPA is notoriously order-dependent; this variant
  * is exact and engine-independent because (a) rounds are synchronous
  * (all nodes update from the SAME previous-round labels) and (b) the
  * argmax tie-break is total — max count, then SMALLEST label
  * (implemented as `max_by(label, (c, -label))`; labels are node ids,
  * always ≥ 0, so the negation is ANSI-safe). A fixed round budget
  * replaces convergence detection: LPA on bipartite-ish graphs can
  * 2-cycle forever, so both engines simply run exactly `rounds` rounds
  * ([[oracleSql]] unrolls the identical count) — cross-engine equality
  * then proves every intermediate round matched too.
  */
object Lpa {

  /** (node, label) after `rounds` synchronous LPA rounds over the
    * undirected graph `edges` ("src", "dst" — feed both directions).
    * Self-loops dropped, parallel edges collapsed; isolated nodes
    * never appear (an edge list carries no degree-0 nodes). */
  def communities(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e = Iterate.materialize(
      edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct())
    var labels = Iterate.materialize(
      e.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")))
    // later rounds label a subset of these nodes (each src's argmax);
    // an RDD count is one job, Dataset.count under AQE is two
    val nodeCount = labels.rdd.count()
    for (_ <- 1 to rounds) {
      val counts = e
        .join(Iterate.broadcastIfSmall(
          labels.select(col("node").as("dst"), col("label")), nodeCount), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // ord is unique per (node, label) row -> max_by is deterministic
      labels = Iterate.materialize(
        counts.groupBy("node")
          .agg(max_by(col("label"), struct(col("c"), -col("label")))
            .as("label")))
    }
    labels
  }

  /** The q146 oracle: `rounds` unrolled synchronous LPA rounds as
    * DuckDB CTEs over the CTE `edges` (symmetric, distinct, no
    * self-loops) that `edgesSql` must define. Argmax restated as a
    * row_number window (different machinery than the engine's max_by,
    * same total order). AS MATERIALIZED per the Kcore lesson — DuckDB
    * inlines plain CTEs and the round chain re-expands exponentially. */
  def oracleSql(edgesSql: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(edgesSql)
    sb.append(",\nl0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edges)")
    for (r <- 1 to rounds) {
      sb.append(
        s""",
           |c$r AS MATERIALIZED (
           |  SELECT e.src AS node, l.label, count(*) AS c
           |  FROM edges e JOIN l${r - 1} l ON l.node = e.dst
           |  GROUP BY 1, 2),
           |l$r AS MATERIALIZED (
           |  SELECT node, label FROM (
           |    SELECT node, label,
           |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
           |    FROM c$r) WHERE rn = 1)""".stripMargin)
    }
    sb.append(s"\nSELECT node, label FROM l$rounds ORDER BY node")
    sb.toString
  }
}
