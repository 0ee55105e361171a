package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy flattening (root + depth of every node in a forest) by
  * pointer jumping — the distributed answer to `WITH RECURSIVE` parent
  * walks (which q108's DuckDB oracle states directly).
  *
  * A recursive CTE advances every node ONE level per iteration: O(depth)
  * rounds, each touching the whole frontier — on a 100 TB graph with a
  * deep hierarchy that is depth sequential shuffles. Pointer jumping
  * (path doubling) keeps per-node state (anc, d) = "my ancestor d steps
  * up" and squares the stride each round: anc ← anc(anc), d ← d + d(anc)
  * — after k rounds every pointer has advanced 2^k levels, so O(log
  * depth) co-partitioned self-joins replace O(depth). Roots are their
  * own ancestor with d = 0, which makes them natural fixpoints of the
  * update (no special casing inside the loop). Each round is one
  * equi-join of the state table with itself on (anc = id) — shuffle on
  * node id both sides, AQE-friendly — followed by a localCheckpoint to
  * cut the doubling lineage (the PageRank lesson: derive-from-raw
  * re-runs the whole chain once per downstream consumer).
  *
  * Convergence is detected, not assumed: the loop stops when no row's
  * ancestor changed (one count per round, driver-scale), with a
  * maxRounds guard. Cycles need a second check: `moving == 0` is NOT
  * sufficient, because an even-length cycle collapses onto itself under
  * doubling (in a 2-cycle a↔b, anc(a) ← anc(anc(a)) = a after one
  * round — a self-pointing fixpoint that LOOKS converged). So after the
  * loop, every final ancestor is anti-joined against the true root set
  * (parent == id or NULL in the input); any survivor means a cycle (or
  * a dangling parent) and raises. All-integer state: ids and depths are
  * longs, no float discipline needed.
  */
object Hierarchy {

  /** Flatten a forest given as (idCol, parentCol) rows: returns
    * (idCol, root, depth). A node is a ROOT iff parent == id or parent
    * is NULL. Every non-root's parent must exist as an id; depth is the
    * number of edges to the root. */
  def rootAndDepth(nodes: DataFrame, idCol: String, parentCol: String,
                   maxRounds: Int = 40): DataFrame = {
    val isRoot = col(parentCol).isNull || col(parentCol) === col(idCol)
    var state = Iterate.materialize(nodes.select(
        col(idCol).cast("long").as("id"),
        when(isRoot, col(idCol).cast("long"))
          .otherwise(col(parentCol).cast("long")).as("anc"),
        when(isRoot, lit(0L)).otherwise(lit(1L)).as("d")))
    // the inner join below only drops rows, so the initial count bounds
    // the state of every round (and is the node count the loss check
    // needs)
    val nodeCount = state.rdd.count()

    var round = 0
    var moving = 1L
    while (moving > 0 && round < maxRounds) {
      // broadcast the hop side through [[Iterate.broadcastIfSmall]]:
      // the self-join otherwise exchanges the state on BOTH sides every
      // round — r12 optimization round, guide §2.4
      val hop = Iterate.broadcastIfSmall(state.select(col("id").as("anc"),
        col("anc").as("anc2"), col("d").as("d2")), nodeCount)
      // Iterate.materialize, not bare localCheckpoint: this is a
      // SELF-join loop, so carried size estimates would square per
      // round (see Iterate scaladoc)
      val next = Iterate.materialize(state.join(hop, "anc")
        .select(col("id"), col("anc2").as("anc"), (col("d") + col("d2")).as("d"),
          (col("anc2") =!= col("anc")).cast("long").as("_moved")))
      moving = next.filter(col("_moved") === 1L).rdd.count()
      state = next.drop("_moved")
      round += 1
    }
    require(moving == 0,
      s"Hierarchy.rootAndDepth: not converged after $maxRounds rounds " +
        "(cycle in parent pointers, or a parent id that never reaches a root?)")
    // moving == 0 alone is fooled by even-length cycles (see scaladoc):
    // verify every final ancestor is a TRUE root of the input, and that
    // no row was dropped by the loop's inner join (dangling parent id)
    val roots = nodes.filter(isRoot).select(col(idCol).cast("long").as("anc"))
    val badAnc = state.join(roots, Seq("anc"), "left_anti").count()
    require(badAnc == 0,
      s"Hierarchy.rootAndDepth: not converged — $badAnc nodes' ancestor " +
        "chains never reach a root (cycle in parent pointers)")
    val lost = nodeCount - state.rdd.count()
    require(lost == 0,
      s"Hierarchy.rootAndDepth: $lost nodes lost to parent ids that are " +
        "not themselves nodes")
    state.select(col("id").as(idCol), col("anc").as("root"),
      col("d").as("depth"))
  }

  /** Subtree rollup: for every node of a forest (idCol, parentCol,
    * valCol), the count and sum of values over its ENTIRE subtree
    * (itself + all descendants) — the distributed answer to the
    * recursive-CTE "sum below me" walk (q116's oracle states it
    * directly).
    *
    * Mechanism: build the full ancestor–descendant closure in O(log
    * depth) rounds by BINARY DECOMPOSITION, duplicate-free: carry
    * J_k = pairs at distance EXACTLY 2^k (doubled each round,
    * n-bounded) and C_k = pairs at distance < 2^{k+1}; the new band
    * [2^k, 2^{k+1}) is J_k ∘ (id ∪ C_{k-1}) — and because every
    * distance has a UNIQUE binary decomposition (and in a forest every
    * (desc, anc) pair a unique distance), each closure pair is
    * generated EXACTLY ONCE: plain unions, never a distinct (the
    * earlier squaring formulation C ∪ C∘C re-derived every pair once
    * per split point and paid a full closure-sized distinct shuffle
    * every round). Then one groupBy(ancestor) over the closure joined
    * to values. The closure has Σ_v depth(v) rows — which is also the
    * information a per-ancestor rollup must move, so the space is
    * inherent to the answer (a leaf-upward level-by-level aggregation
    * would use O(nodes) state but O(depth) sequential shuffles). Rounds
    * go through [[Iterate.materialize]] (self-join loop — see
    * [[Iterate]]).
    *
    * Convergence = the jump pointer set empties (rounds =
    * ⌈log₂ depth⌉ + 1; per-round count is over the n-bounded jump set,
    * not the closure); a cycle keeps jumps alive forever, so it hits
    * maxRounds and raises, and the closure additionally asserts no
    * self-ancestor pair. Parents that are not themselves nodes raise
    * rather than silently acting as virtual roots. All-integer. */
  def subtreeAgg(nodes: DataFrame, idCol: String, parentCol: String,
                 valCol: String, maxRounds: Int = 40): DataFrame = {
    val isRoot = col(parentCol).isNull || col(parentCol) === col(idCol)
    val n = Iterate.materialize(nodes.select(
      col(idCol).cast("long").as("id"),
      when(isRoot, lit(null).cast("long"))
        .otherwise(col(parentCol).cast("long")).as("par"),
      col(valCol).cast("long").as("v")))
    val dangling = n.filter(col("par").isNotNull)
      .join(n.select(col("id").as("par")), Seq("par"), "left_anti").count()
    require(dangling == 0,
      s"Hierarchy.subtreeAgg: $dangling nodes have parent ids that are not themselves nodes")
    var jump = Iterate.materialize(
      n.filter(col("par").isNotNull)
        .select(col("id").as("desc"), col("par").as("anc")))
    var clo = jump // pairs at distance in [1, 2)
    var rounds = 0
    var jumpCnt = jump.rdd.count()
    // in a true forest depth ≤ |nodes|, so jumps empty within
    // ⌈log₂ n⌉ + 1 rounds — a cycle (which keeps jumps alive forever)
    // is caught right after that bound instead of spinning to maxRounds
    val roundBound = math.min(maxRounds.toLong,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n.rdd.count())) + 1)
    while (jumpCnt > 0 && rounds < roundBound) {
      rounds += 1
      // jump is node-bounded (one live pointer per non-converged node,
      // shrinking) — broadcast it into both per-round joins through
      // [[Iterate.broadcastIfSmall]] with the convergence check's jump
      // count: the self-join stops exchanging jump twice, and CRUCIALLY
      // the band join stops shuffling the CLOSURE — the one frame here
      // that grows to Σ depth(v) rows, which the previous shape
      // re-exchanged every round (r12 optimization round, guide §2.4).
      // distance exactly 2^rounds
      val j2 = Iterate.materialize(
        jump.select(col("desc"), col("anc").as("mid"))
          .join(Iterate.broadcastIfSmall(
              jump.select(col("desc").as("mid"), col("anc")), jumpCnt),
            "mid")
          .select("desc", "anc"))
      jumpCnt = j2.rdd.count()
      if (jumpCnt > 0) {
        // new band [2^rounds, 2^{rounds+1}) = j2 ∘ (id ∪ clo-so-far);
        // unique binary decomposition ⇒ no duplicates, no distinct
        val band = j2.unionByName(
          Iterate.broadcastIfSmall(
              j2.select(col("desc"), col("anc").as("mid")), jumpCnt)
            .join(clo.select(col("desc").as("mid"), col("anc")), "mid")
            .select("desc", "anc"))
        clo = Iterate.materialize(clo.unionByName(band))
        jump = j2
      }
    }
    require(jumpCnt == 0,
      s"Hierarchy.subtreeAgg: jump pointers still alive after $rounds " +
        "doubling rounds — cycle in parent pointers (a forest of n nodes " +
        "converges within log2(n)+1 rounds), or maxRounds set below that")
    require(clo.filter(col("desc") === col("anc")).isEmpty,
      "Hierarchy.subtreeAgg: cycle in parent pointers (self-ancestor pair in closure)")
    val below = clo.join(n.select(col("id").as("desc"), col("v")), "desc")
      .groupBy("anc").agg(count(lit(1)).as("_n"), sum(col("v")).as("_sv"))
    n.join(below, col("id") === col("anc"), "left")
      .select(col("id").as(idCol),
        (lit(1L) + coalesce(col("_n"), lit(0L))).as("subtree_n"),
        (col("v") + coalesce(col("_sv"), lit(0L))).as("subtree_sum"))
  }
}
