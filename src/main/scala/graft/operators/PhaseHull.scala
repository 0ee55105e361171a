package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** F14 — energy above the convex hull of a chemical system's phase
  * diagram (the last reference query surface: openlam_database/openlam/
  * lam_optimize/utils.py:139-190, which delegates the hull to a pickled
  * pymatgen PhaseDiagram fetched over HTTP).
  *
  * Semantics reproduced from public convex-analysis math, not pymatgen:
  * for a system with k elements, reference entries are points
  * (composition fraction vector x_i ∈ simplex, formation energy/atom
  * E_i); the hull energy at composition x is
  *
  *   E_hull(x) = min Σ λ_i E_i   s.t. Σ λ_i x_i = x, Σ λ_i = 1, λ ≥ 0
  *
  * — the lower convex envelope. e_above_hull(entry) = E − E_hull(x).
  * The reference maps "no valid decomposition" to 0.0; [[eAboveHull]]
  * does the same.
  *
  * The LP is solved exactly by vertex enumeration: a basic feasible
  * solution uses ≤ k entries (k−1 independent fraction constraints + the
  * sum constraint), so minimizing over all ≤k-subsets with a small
  * Gaussian solve is exact. Reference sets per chemical system are tens
  * of entries with k ≤ 4, so subset counts are trivial. The
  * oracle-gated query (q66) runs the binary case as a relational plan,
  * [[binaryHullEnergy]]; PhaseHullSpec pins the general LP against it.
  */
object PhaseHull {

  /** Solve M λ = b (M: rows = equations, cols = subset entries) by
    * Gaussian elimination with partial pivoting; None if singular or
    * inconsistent (residual > eps). */
  private def solveExact(m: Array[Array[Double]], b: Array[Double],
                         cols: Int): Option[Array[Double]] = {
    val rows = m.length
    val a = Array.tabulate(rows)(r => m(r) :+ b(r)) // augmented
    var rank = 0
    val pivotCol = new Array[Int](math.min(rows, cols))
    var c = 0
    while (c < cols && rank < rows) {
      var p = rank
      var best = math.abs(a(rank)(c))
      var r = rank + 1
      while (r < rows) {
        if (math.abs(a(r)(c)) > best) { best = math.abs(a(r)(c)); p = r }
        r += 1
      }
      if (best > 1e-12) {
        val tmp = a(rank); a(rank) = a(p); a(p) = tmp
        val pv = a(rank)(c)
        var j = c
        while (j <= cols) { a(rank)(j) /= pv; j += 1 }
        r = 0
        while (r < rows) {
          if (r != rank && math.abs(a(r)(c)) > 0) {
            val f = a(r)(c)
            j = c
            while (j <= cols) { a(r)(j) -= f * a(rank)(j); j += 1 }
          }
          r += 1
        }
        pivotCol(rank) = c
        rank += 1
      }
      c += 1
    }
    // inconsistent row: 0 = nonzero
    var r = rank
    while (r < rows) {
      if (math.abs(a(r)(cols)) > 1e-9) return None
      r += 1
    }
    if (rank < cols) return None // underdetermined subset — skip (a smaller subset covers it)
    val x = new Array[Double](cols)
    var i = 0
    while (i < rank) { x(pivotCol(i)) = a(i)(cols); i += 1 }
    Some(x)
  }

  /** Hull energy at composition `x` over reference entries
    * (fractions, energy/atom). None when x has no decomposition (outside
    * the references' convex span). */
  def hullEnergyAt(refs: Seq[(Array[Double], Double)],
                   x: Array[Double]): Option[Double] = {
    val k = x.length
    var best = Option.empty[Double]
    val n = refs.size
    def trySubset(idxs: List[Int]): Unit = {
      val s = idxs.size
      // equations: k fraction rows + 1 sum row
      val m = Array.tabulate(k + 1)(r =>
        idxs.map(i => if (r < k) refs(i)._1(r) else 1.0).toArray)
      val b = Array.tabulate(k + 1)(r => if (r < k) x(r) else 1.0)
      solveExact(m, b, s).foreach { lambda =>
        if (lambda.forall(_ >= -1e-9)) {
          val e = idxs.zip(lambda).map { case (i, l) => l * refs(i)._2 }.sum
          if (best.forall(e < _)) best = Some(e)
        }
      }
    }
    def enum(start: Int, chosen: List[Int], budget: Int): Unit = {
      if (chosen.nonEmpty) trySubset(chosen.reverse)
      if (budget > 0) {
        var i = start
        while (i < n) { enum(i + 1, i :: chosen, budget - 1); i += 1 }
      }
    }
    enum(0, Nil, math.min(k, n))
    best
  }

  /** e_above_hull for one candidate; the reference's "no valid
    * decomposition → 0.0" rule applied. Ports the reference's
    * e-above-hull query for any number of elements:
    * openlam_database/openlam/lam_optimize/utils.py:139-190. */
  def eAboveHull(refs: Seq[(Array[Double], Double)], x: Array[Double],
                 ePerAtom: Double): Double =
    hullEnergyAt(refs, x).map(h => ePerAtom - h).getOrElse(0.0)

  /** Binary-system hull via explicit segment interpolation — the
    * SQL-mirrorable twin used by the oracle-gated query (for k = 2 the
    * LP's vertex solutions are exactly single points and segment pairs,
    * so this is the same function with arithmetic the oracle can state
    * verbatim: a.e + (b.e - a.e) * (x - a.x) / (b.x - a.x)). `x` is the
    * fraction of the SECOND element. */
  def binaryHullEnergy(refs: DataFrame, candidates: DataFrame): DataFrame = {
    val a = refs.select(col("system"), col("x").as("ax"), col("e").as("ae"))
    val b = refs.select(col("system"), col("x").as("bx"), col("e").as("be"))
    val segs = a.join(b, Seq("system")).filter(col("ax") < col("bx"))
    val exact = candidates.join(broadcast(refs), Seq("system"))
      .filter(col("x") === col("cx"))
      .select(col("system"), col("id"), col("e").as("hull_val"))
    val interp = candidates.join(broadcast(segs), Seq("system"))
      .filter(col("ax") <= col("cx") && col("cx") <= col("bx"))
      .select(col("system"), col("id"),
        (col("ae") + (col("be") - col("ae")) * (col("cx") - col("ax")) /
          (col("bx") - col("ax"))).as("hull_val"))
    exact.unionByName(interp)
      .groupBy("system", "id").agg(min(col("hull_val")).as("hull_e"))
  }
}
