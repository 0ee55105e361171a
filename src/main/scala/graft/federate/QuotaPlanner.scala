package graft.federate

import scala.collection.mutable

/** Fair-quota allocation across providers (clauses) and their URLs — the
  * most algorithmic code in the reference, ported from
  * optimade_database/Optimade_Server/utils.py:253-384 and property-tested.
  *
  * Semantics (insertion-order-sensitive, SURVEY Q1):
  *  1. equal clause targets (base + remainder in insertion order), capped
  *     by clause capacity;
  *  2. inside each clause, equal split across URLs + intra-clause
  *     water-fill round-robin respecting URL caps;
  *  3. clause-level water-fill: repeatedly raise the clauses currently at
  *     the minimum total (insertion order), one unit each, routed
  *     round-robin to that clause's residual URLs, until n is reached or
  *     capacity exhausts.
  *
  * Invariants (checked by QuotaPlannerSpec with ScalaCheck):
  *  - Σ plan = min(nResults, Σ caps)
  *  - no URL quota exceeds its cap
  *  - per-clause totals differ by ≤1 unless capacity-bound
  *
  * This is driver-side planning over per-(clause, url) counts (SURVEY
  * A7); the plan never touches row data. [[Federation.federatedQuery]]
  * applies it on the driver too, to a fan-out its per-source limits bound
  * at sources × nResults rows.
  */
object QuotaPlanner {

  /** Ordered stats: clause → ordered (url, observed count). */
  type Stats = Seq[(String, Seq[(String, Int)])]
  type Plan = Seq[(String, Seq[(String, Int)])]

  def distributeQuotaFair(stats: Stats, nResults: Int): Plan = {
    if (stats.isEmpty || nResults <= 0) return Seq.empty

    val clauses = stats.map(_._1)
    val urlCaps: Map[String, Seq[(String, Int)]] = stats.toMap
    val clauseCaps: Map[String, Int] = stats.map { case (c, us) => c -> us.map(_._2).sum }.toMap
    val active = clauses.filter(clauseCaps(_) > 0)

    val plan = mutable.LinkedHashMap.from(stats.map { case (c, us) =>
      c -> mutable.LinkedHashMap.from(us.map { case (u, _) => u -> 0 })
    })
    if (active.isEmpty)
      return plan.toSeq.map { case (c, us) => c -> us.toSeq }

    // Step 1: equal clause targets, remainder to earliest clauses, capped
    val baseClause = nResults / active.size
    val remClause = nResults % active.size
    val clauseTargets = mutable.LinkedHashMap.from(clauses.map(_ -> 0))
    active.zipWithIndex.foreach { case (c, idx) =>
      val want = baseClause + (if (idx < remClause) 1 else 0)
      clauseTargets(c) = math.min(clauseCaps(c), want)
    }

    // Step 2: per-clause equal split + intra-clause water-fill
    val totals = mutable.LinkedHashMap.from(clauses.map(_ -> 0))
    active.foreach { c =>
      val quotaC = clauseTargets(c)
      if (quotaC > 0) {
        val urls = urlCaps(c).map(_._1)
        val caps = urlCaps(c).map(_._2).toArray
        val nUrls = urls.size
        val baseUrl = quotaC / nUrls
        val remUrl = quotaC % nUrls
        val assigned = Array.tabulate(nUrls) { ui =>
          math.min(baseUrl + (if (ui < remUrl) 1 else 0), caps(ui))
        }
        var left = math.max(0, quotaC - assigned.sum)
        val residuals = Array.tabulate(nUrls)(i => caps(i) - assigned(i))
        var ui = 0
        while (left > 0 && residuals.exists(_ > 0)) {
          if (residuals(ui) > 0) { assigned(ui) += 1; residuals(ui) -= 1; left -= 1 }
          ui = (ui + 1) % nUrls
        }
        urls.zipWithIndex.foreach { case (u, i) => plan(c)(u) = assigned(i) }
        totals(c) = assigned.sum
      }
    }

    // Step 3: clause-level water-fill with per-clause URL round-robin
    var remaining = nResults - totals.values.sum
    if (remaining > 0) {
      // clause → mutable list of (url, residual), + RR pointer
      val residualUrls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(String, Int)]]
      val nextUrlIdx = mutable.HashMap.empty[String, Int]
      active.foreach { c =>
        val lst = mutable.ArrayBuffer.from(
          urlCaps(c).flatMap { case (u, cap) =>
            val res = cap - plan(c)(u)
            if (res > 0) Some((u, res)) else None
          })
        if (lst.nonEmpty) { residualUrls(c) = lst; nextUrlIdx(c) = 0 }
      }

      def giveOne(c: String): Boolean = residualUrls.get(c) match {
        case None => false
        case Some(urls) =>
          val idx = nextUrlIdx(c) % urls.size
          val (u, r) = urls(idx)
          plan(c)(u) += 1
          totals(c) += 1
          if (r - 1 == 0) {
            urls.remove(idx)
            if (urls.isEmpty) { residualUrls.remove(c); nextUrlIdx.remove(c) }
            else nextUrlIdx(c) = idx % urls.size
          } else {
            urls(idx) = (u, r - 1)
            nextUrlIdx(c) = (idx + 1) % urls.size
          }
          true
      }

      var continue = true
      while (remaining > 0 && residualUrls.nonEmpty && continue) {
        val candidates = active.filter(residualUrls.contains)
        if (candidates.isEmpty) continue = false
        else {
          val minTotal = candidates.map(totals).min
          var progressed = false
          active.foreach { c =>
            if (remaining > 0 && residualUrls.contains(c) && totals(c) == minTotal)
              if (giveOne(c)) { remaining -= 1; progressed = true }
          }
          if (!progressed) continue = false
        }
      }
    }

    plan.toSeq.map { case (c, us) => c -> us.toSeq }
  }
}
