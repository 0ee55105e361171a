package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits for the hot queries: these assert the plan SHAPE
  * we designed for (broadcasts, pushdown, top-k, no cartesian products,
  * codegen), so a regression that silently flips a join strategy or
  * loses a pushed filter fails the suite instead of only showing up as a
  * bench delta at 100× the data.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val sf = "/root/testdata/sf0.001"

  /** Flattened node list of the final (AQE-expanded) executed plan. */
  private def nodesOf(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    df.collect() // materialize so AQE finalizes its plan
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Executed plan string with AQE wrappers expanded (final plan).
    * NOTE: node toStrings include their subtrees, so this string
    * over-represents deep nodes — fine for `contains` checks, never
    * count occurrences in it (use [[nodesOf]] for counting). */
  private def planOf(name: String): String =
    nodesOf(SparkEntry.queries(name)(spark, sf)).map(_.toString).mkString

  test("q07 5-way chain: dimension joins broadcast, no cartesian product") {
    val p = planOf("q07_join_chain5")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product leaked:\n$p")
  }

  test("q17 range predicate reaches the parquet scan as PushedFilters") {
    val p = planOf("q17_pred_range")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"predicate not pushed to scan:\n${p.take(4000)}")
  }

  test("q14 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = planOf("q14_sort_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q37 LSH dedup: bucket equi-joins only, never a cartesian/NL join") {
    val p = planOf("q37_dedup_minhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the candidate path:\n${p.take(4000)}")
  }

  test("q63 salted join: equi-join on (key, salt), no window, no cartesian") {
    val p = planOf("q63_skew_salted")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"unexpected operator:\n${p.take(4000)}")
  }

  test("q53 hill micro-bench: the 1M-row eval stays inside WholeStageCodegen") {
    val df = SparkEntry.queries("q53_hill_throughput_1m")(spark, sf)
    df.collect()
    val p = planOf("q53_hill_throughput_1m")
    assert(p.contains("hill_formula"), s"hill expression missing:\n${p.take(2000)}")
    // the project evaluating hill_formula must carry the codegen marker —
    // an interpreted fallback would silently cost the 1M-eval throughput
    // AQE-expanded tree strings mark codegen stages with "*(n)" on the line
    val projLine = p.linesIterator.find(_.contains("hill_formula")).get
    assert(projLine.contains("*("),
      s"hill eval outside codegen:\n${p.take(2000)}")
  }

  test("entry(): aggregation runs inside WholeStageCodegen") {
    val df = SparkEntry.entry(spark)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // AQE tree strings mark codegen stages with the "*(n)" prefix
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"no codegen span:\n${p.take(4000)}")
  }

  test("q88 funnel: the three step windows share ONE user_id exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val all = nodesOf(SparkEntry.queries("q88_funnel")(spark, sf))
    // three stacked Window nodes over the same user_id partitioning...
    val userWindows = all.count {
      case w: WindowExec => w.partitionSpec.exists(_.toString.contains("user_id"))
      case _ => false
    }
    assert(userWindows == 3, s"expected 3 user_id windows, got $userWindows")
    // ...fed by exactly one user_id hash exchange (the only other
    // exchanges are the 5-row depth histogram agg + final sort)
    val userExchanges = all.count {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.exists(_.toString.contains("user_id"))
        case _ => false
      }
      case _ => false
    }
    assert(userExchanges == 1,
      s"funnel re-shuffled on user_id $userExchanges times")
  }

  test("MofSchema.shred ingestion plans: the one global window is dim-bounded") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct,
      Filter => LFilter, LogicalPlan, Project => LProject, Window => LWindow}
    val tables = graft.schema.MofSchema.shred(
      graft.schema.MofFixtures.nested(spark))
    tables.foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      val globals = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      globals.foreach { w =>
        // the adsorbates dense-id window — legal ONLY because its input is
        // the distinct species vocabulary: the Distinct/Aggregate must be
        // the window's ACTUAL input (through row-preserving-or-reducing
        // Project/Filter only), so the single partition holds dim rows,
        // never the fact table (MofSchema.scala adsorbates comment). A
        // whole-subtree collectFirst would be satisfied by any small
        // aggregate anywhere deeper in the lineage.
        @annotation.tailrec
        def inputOf(p: LogicalPlan): LogicalPlan = p match {
          case pr: LProject => inputOf(pr.child)
          case f: LFilter   => inputOf(f.child)
          case other        => other
        }
        val boundedBelow = inputOf(w.child) match {
          case _: Distinct => true
          case a: Aggregate if a.aggregateExpressions.length <= 2 => true
          case _ => false
        }
        assert(boundedBelow,
          s"$name: global window not fed by a distinct dim:\n${w.treeString.take(1500)}")
      }
    }
  }

  test("q87 bloom semi join: the might_contain probe filters BELOW the join") {
    val p = planOf("q87_bloom_semi_join")
    val probeAt = p.indexOf("might_contain")
    val joinAt = p.indexOf("LeftSemi")
    assert(probeAt >= 0, "bloom probe missing from the physical plan")
    assert(joinAt >= 0, "semi join missing from the physical plan")
    // plan strings print parents before children: the probe appearing
    // after the join node means it sits on the join's INPUT side (fact
    // rows die before the join), not above its output
    assert(probeAt > joinAt,
      s"bloom probe is not below the semi join (probe@$probeAt, join@$joinAt)")
  }
}
