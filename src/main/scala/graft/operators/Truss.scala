package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss decomposition by synchronous support peeling (Cohen,
  * "Trusses: cohesive subgraphs for social network analysis", 2008) —
  * the edge-analog of [[Kcore]]: repeatedly delete every edge lying in
  * fewer than k−2 triangles of the surviving subgraph; the fixpoint is
  * the k-truss, a strictly stronger cohesion filter than the k-core
  * (every k-truss edge has k−2 common-neighbor witnesses, so the
  * subgraph is triangle-dense, not just degree-dense) and the standard
  * community-core extractor before label propagation.
  *
  * Scale design: state is the shrinking edge list, re-materialized per
  * round; per-round support comes from [[Triangles.enumerate]] — the
  * degree-ORIENTED wedge join (Σ outdeg² = O(m^1.5) on any graph, a
  * hub costs its degree, not degree²) — followed by a 3-role explode +
  * one edge-keyed count. No collect, no per-node loop; round count is
  * the peeling depth (TrussSpec's strip graph cascades, TPC-H's
  * adjacency graph settles in one).
  *
  * Determinism: pure integer set arithmetic, no tie-breaks — the
  * k-truss is the unique maximal subgraph with min edge-support k−2,
  * so the fixpoint is order-independent. q264's oracle restates the
  * peel as unrolled DuckDB CTEs over the ID-ordered 3-way triangle
  * join (a different orientation whose support counts must agree), the
  * [[Kcore.oracleSql]] technique.
  */
object Truss {

  /** The k-truss of the undirected graph `edges` ("u", "v" — any
    * orientation; duplicates and self-loops tolerated). Returns
    * (u, v, support) with u < v: the surviving edges and their
    * triangle counts INDUCED on the truss. */
  def ktruss(edges: DataFrame, k: Int, maxRounds: Int = 20): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k-2 support witnesses): $k")
    var e = Iterate.materialize(
      edges.select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
    var prev = -1L
    var result: DataFrame = null
    var rounds = 0
    var converged = false
    while (!converged) {
      val tri = Triangles.enumerate(
        e.select(col("u").as("a"), col("v").as("b")))
      val sup = tri.select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("a").as("u"), col("c").as("v")),
          struct(col("b").as("u"), col("c").as("v")))).as("ed"))
        .select(col("ed.u").as("u"), col("ed.v").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
      result = Iterate.materialize(
        sup.filter(col("support") >= (k - 2).toLong))
      val m = result.rdd.count()
      // survivors shrink monotonically, so equal cardinality means the
      // SAME edge set — and support was computed on exactly that set
      if (m == prev || m == 0) converged = true
      else {
        rounds += 1
        require(rounds <= maxRounds,
          s"Truss.ktruss: still peeling after $maxRounds rounds (raise " +
            "maxRounds; bound is the peeling depth of the graph)")
        prev = m
        e = Iterate.materialize(result.select("u", "v"))
      }
    }
    result
  }

  /** The q264 oracle: `rounds` unrolled peel rounds as DuckDB CTEs over
    * the CTE `e0` (canonical u < v distinct edges) that `edgesSql` must
    * define. Triangles via the id-ordered 3-way self-join — independent
    * of the engine's degree orientation. Like [[Kcore.oracleSql]], every
    * CTE is MATERIALIZED (plain CTEs re-expand the chain exponentially)
    * and the engine's fixpoint early-exit + maxRounds raise make
    * "rounds ≥ true peeling depth" self-checking. */
  def oracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(edgesSql)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(
        s""",
           |t$r AS MATERIALIZED (
           |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
           |  FROM e$p e1 JOIN e$p e2 ON e1.u = e2.u AND e1.v < e2.v
           |  JOIN e$p e3 ON e3.u = e1.v AND e3.v = e2.v),
           |s$r AS MATERIALIZED (
           |  SELECT u, v, count(*) AS support FROM (
           |    SELECT x AS u, y AS v FROM t$r UNION ALL
           |    SELECT x, z FROM t$r UNION ALL
           |    SELECT y, z FROM t$r) GROUP BY 1, 2),
           |e$r AS MATERIALIZED (
           |  SELECT s.u, s.v, s.support FROM s$r s JOIN e$p e USING (u, v)
           |  WHERE s.support >= ${k - 2})""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT u, v, CAST(support AS BIGINT) AS support FROM e$rounds
         |ORDER BY u, v""".stripMargin)
    sb.toString
  }
}
