package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Machine-checked 100 TB plan properties over EVERY SparkEntry query —
  * the breadth complement of graft.PlanAuditSpec (deep physical-plan
  * asserts on the hot queries).
  * the scale design isn't just prose: a regression that introduces an
  * unconditioned join, a global (single-partition) window, or a scan
  * that stops receiving pushed filters fails the suite.
  *
  * Checks run on the optimized logical plan (stable across AQE) at
  * sf0.001; pushdown/pruning checks inspect the physical parquet scans.
  */
class GlobalPlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val Sf = "/root/testdata/sf0.001"

  /** Queries whose cross join is BY DESIGN against a one-row or
    * tiny-broadcast aggregate (J4-style correlation/stats patterns) or a
    * bounded pair matrix (20 sources → 190 pairs). */
  private val IntendedCrossJoins = Set(
    "q10_join_cross_agg",     // orders × 1-row global stats
    "q50_mof_heat_outliers",  // heat rows × 1-row correlation stats
    "q57_source_overlap",     // source sigs × source sigs (≤ tens of rows)
    "q43_multimodal",         // per-kind aggs × 1-row frame stats
    "q39_embed_topk",         // brute-force baseline: corpus × BROADCAST
                              // queries — the exact-search definition; the
                              // scale paths are q40/q54 (LSH/IVF)
    "q82_ranked_retrieval",   // posting rows × 1-row (N, Σdl) stats
    "q135_collocations",      // pair rows × 1-row corpus-total broadcast
    "q139_assoc_rules",       // pair rows × 1-row basket-total broadcast
    "q140_contingency",       // cells × 1-row grand-total broadcast
    "q222_discriminative_tokens", // token dfs × 1-row (A, B) doc totals
    "q232_source_signature_tokens", // source dfs × 1-row corpus total
    "q269_bigram_lm_score",   // holdout pairs × 1-row vocab-size broadcast
    "q271_decayed_counts",    // events × 1-row max-timestamp broadcast
    "q289_cms_join_estimate", // 1-row sketch estimate × 1-row exact agg
    "q295_knn_shapley",       // train rows × BROADCAST bounded probe panel
                              // (≤ 24 tests by construction)
    "q304_maxsim_retrieval",  // member rows × BROADCAST 3-vector query panel
    "q305_tcloseness",        // ~125 classes × BROADCAST ~14-band frame
                              // (bounded by the banding contract)
    "q307_ann_recall",        // exact-recall baseline = q39's corpus ×
                              // BROADCAST 3-query brute definition
    "q308_rrf_fusion")        // composes q82 (1-row stats broadcast) +
                              // q39 (corpus × 1-query brute baseline)

  private lazy val optimized: Map[String, LogicalPlan] =
    graft.SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, Sf).queryExecution.optimizedPlan
    }

  test("no unconditioned (cartesian) join outside the intended stat patterns") {
    val offenders = optimized.collect {
      case (name, plan) if !IntendedCrossJoins.contains(name) &&
        plan.collect { case j: Join if j.condition.isEmpty => j }.nonEmpty => name
    }
    assert(offenders.isEmpty,
      s"unconditioned joins appeared in: ${offenders.toSeq.sorted.mkString(", ")}")
  }

  test("no global (empty-partition) window anywhere — the single-partition killer") {
    val offenders = optimized.collect {
      case (name, plan) if plan.collect {
        case w: Window if w.partitionSpec.isEmpty => w
      }.nonEmpty => name
    }
    assert(offenders.isEmpty,
      s"global windows appeared in: ${offenders.toSeq.sorted.mkString(", ")}")
  }

  private def scans(name: String) = {
    val plan = graft.SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan
    val unwrapped = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    unwrapped.collect { case s: FileSourceScanExec => s }
  }

  test("predicate pushdown reaches the parquet scan (range + time predicates)") {
    Seq("q17_pred_range", "q19_pred_time").foreach { name =>
      val pushed = scans(name).flatMap(_.metadata.get("PushedFilters"))
      assert(pushed.exists(f => f != "[]" && f.nonEmpty),
        s"$name: no pushed filters in scans: $pushed")
    }
  }

  test("column pruning: aggregation queries read only the columns they use") {
    // q01 touches a handful of lineitem columns; the scan must not read
    // the full 16-column schema
    val lineitemScans = scans("q01_agg_pricing")
      .filter(_.metadata.get("Location").exists(_.contains("lineitem")))
    assert(lineitemScans.nonEmpty)
    lineitemScans.foreach { s =>
      assert(s.requiredSchema.size <= 8,
        s"q01 lineitem scan reads ${s.requiredSchema.size} columns: " +
          s.requiredSchema.fieldNames.mkString(","))
    }
  }

  test("no query OUTPUT schema contains DecimalType (driver hash-safety)") {
    // External harnesses coerce decimal columns asymmetrically (r06:
    // q155/q184/q185 were the suite's only hash-red rows and exactly its
    // only DECIMAL-output queries). DECIMAL stays legal INTERNALLY (the
    // exact-accumulator discipline); the output surface must be
    // BIGINT/DOUBLE/VARCHAR — wide accumulators exit as digit strings.
    val offenders = optimized.collect {
      case (name, plan) if plan.schema.exists(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]) =>
        name -> plan.schema.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
          .map(_.name).mkString(",")
    }
    assert(offenders.isEmpty,
      s"DECIMAL-typed output columns: ${offenders.toSeq.sorted.mkString("; ")}")
  }

  test("every broadcast-eligible dimension join is actually broadcast (q07)") {
    val plan = graft.SparkEntry.queries("q07_join_chain5")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"q07 5-way chain shows no broadcast join:\n${plan.take(2000)}")
  }

  /** q55's 18× full-row cliff, machine-checked: an Aggregate that holds
    * a DISTINCT aggregate beside a non-distinct ImperativeAggregate —
    * HLL++, percentile, percentile_approx, collect_*, or a graft sketch
    * (every one a TypedImperativeAggregate). Spark plans the distinct
    * aggregate in two phases keyed by (keys, distinct value), and every
    * first-phase group carries the imperative buffer, so a 4,096-register
    * sketch is built once per distinct value instead of once per key.
    * The shape shows in the optimized plan in two forms:
    *  - before the rewrite: with ONE distinct group
    *    RewriteDistinctAggregates leaves the Aggregate as is (the planner
    *    splits it), so it still holds both kinds of aggregate;
    *  - after it: with two or more, the rule puts an Expand under a
    *    first-phase Aggregate grouped by (keys, distinct values, `gid`)
    *    that evaluates the regular aggregates. ROLLUP / CUBE / GROUPING
    *    SETS also build an Expand, but their group id is
    *    `spark_grouping_id` and each of their groups is a real output
    *    group (q58), so only the rewrite's `gid` marks the shape.
    * The fix is two groupBys joined on the keys (q55). */
  private def distinctBesideSketchOffenders(plan: LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, ImperativeAggregate}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand}
    def aggs(a: Aggregate) = a.aggregateExpressions.flatMap(
      _.collect { case ae: AggregateExpression => ae })
    def sketches(a: Aggregate) = aggs(a).collect {
      case ae if !ae.isDistinct &&
        ae.aggregateFunction.isInstanceOf[ImperativeAggregate] =>
        ae.aggregateFunction.prettyName
    }
    def distinctRewrite(a: Aggregate) = a.child match {
      case e: Expand => a.groupingExpressions.exists {
        case r: AttributeReference =>
          r.name == "gid" && e.producedAttributes.contains(r)
        case _ => false
      }
      case _ => false
    }
    plan.collect {
      case a: Aggregate if sketches(a).nonEmpty &&
          aggs(a).exists(_.isDistinct) =>
        s"distinct aggregate beside ${sketches(a).distinct.mkString(", ")}"
      case a: Aggregate if sketches(a).nonEmpty && distinctRewrite(a) =>
        s"distinct-rewrite Expand feeding ${sketches(a).distinct.mkString(", ")}"
    }
  }

  /** Queries allowed the shape above. Every entry needs a measured
    * reason (the full-row time of the split form against this one). */
  private val IntendedDistinctBesideSketch = Map.empty[String, String]

  test("no distinct aggregate shares an Aggregate with an imperative sketch") {
    val offenders = optimized.toSeq.flatMap { case (name, plan) =>
      if (IntendedDistinctBesideSketch.contains(name)) Nil
      else distinctBesideSketchOffenders(plan).map(o => s"$name: $o")
    }
    assert(offenders.isEmpty,
      "split the exact and sketch aggregates into two groupBys joined on " +
        s"the keys (q55):\n  ${offenders.sorted.mkString("\n  ")}")
  }

  test("the distinct-beside-sketch detector fires on a deliberate regression") {
    import org.apache.spark.sql.functions._
    val t = spark.range(200).select((col("id") % 3).as("k"),
      (col("id") % 17).as("a"), (col("id") % 29).as("b"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      distinctBesideSketchOffenders(df.queryExecution.optimizedPlan)
    val oneDistinct = t.groupBy("k").agg(countDistinct(col("a")),
      approx_count_distinct(col("a")))
    assert(hits(oneDistinct).exists(_.startsWith("distinct aggregate")),
      "detector missed the one-distinct form")
    // two distinct groups: the rewrite's Expand form, nothing distinct left
    val twoDistinct = t.groupBy("k").agg(countDistinct(col("a")),
      countDistinct(col("b")), approx_count_distinct(col("a")))
    assert(hits(twoDistinct).exists(_.startsWith("distinct-rewrite")),
      "detector missed the two-distinct (Expand) form")
    val split = t.groupBy("k").agg(countDistinct(col("a")),
        countDistinct(col("b")))
      .join(t.groupBy(col("k").as("_k")).agg(approx_count_distinct(col("a"))),
        col("k") <=> col("_k"))
    assert(hits(split).isEmpty, s"split form flagged: ${hits(split)}")
    // the two-distinct form without a sketch is the rewrite alone, and a
    // ROLLUP's Expand feeding a percentile is a grouping-sets plan
    assert(hits(t.groupBy("k").agg(countDistinct(col("a")),
      countDistinct(col("b")), sum(col("a")))).isEmpty)
    assert(hits(t.rollup("k", "a").agg(
      expr("percentile(b, 0.5)"))).isEmpty)
  }

  /** The 700s-CPU-at-500-rows bug class (CLAUDE.md ground rule;
    * Dedup.minhashSigOf scaladoc), machine-checked: an interpreted
    * higher-order function re-evaluates a CAPTURED non-attribute
    * expression once per element, so a computed ARRAY captured inside a
    * lambda body (e.g. a nested aggregate over a derived shingle array
    * after projection collapse inlines it) turns O(n) into O(n·L²).
    * Detector: inside every HOF lambda body, take the MAXIMAL subtrees
    * referencing no lambda variable (inner or outer — a nested HOF over
    * a captured array descends to the captured argument itself); flag
    * any that is array/map-typed, non-foldable, and not a bare
    * attribute. Attribute captures are row-slot reads (cheap);
    * foldables are constant-folded once. */
  private def capturedArrayOffenders(
      plan: LogicalPlan): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions.{
      Attribute, Expression, HigherOrderFunction, LambdaFunction,
      NamedLambdaVariable}
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def maximalCaptured(e: Expression): Seq[Expression] =
      if (!e.exists(_.isInstanceOf[NamedLambdaVariable])) {
        if (e.foldable) Nil else Seq(e)
      } else e.children.flatMap(maximalCaptured)
    def visit(e: Expression): Unit = {
      e match {
        case h: HigherOrderFunction =>
          h.functions.foreach {
            case LambdaFunction(body, _, _) =>
              maximalCaptured(body).foreach { c =>
                // flag if the captured computation CONTAINS a computed
                // array/map anywhere (the cost driver may sit under a
                // scalar head like size(split(...)))
                val hasComputedArray = c.exists { s =>
                  (s.dataType.isInstanceOf[ArrayType] ||
                    s.dataType.isInstanceOf[MapType]) &&
                    !s.isInstanceOf[Attribute] && !s.foldable
                }
                if (hasComputedArray)
                  out += ((h.prettyName, c.sql.take(160)))
              }
            case _ =>
          }
        case _ =>
      }
      e.children.foreach(visit)
    }
    plan.foreach(_.expressions.foreach(visit))
    out.toSeq
  }

  test("no HOF lambda captures a computed array (per-element re-eval trap)") {
    val offenders = optimized.toSeq.flatMap { case (name, plan) =>
      capturedArrayOffenders(plan).map { case (hof, cap) =>
        s"$name: $hof captures $cap"
      }
    }
    assert(offenders.isEmpty,
      "computed arrays captured inside HOF lambdas (materialize them to " +
        s"a column first):\n  ${offenders.sorted.mkString("\n  ")}")
  }

  test("the captured-array detector fires on a deliberate regression") {
    import org.apache.spark.sql.functions._
    // split(...) over a column is a COMPUTED array captured inside the
    // transform lambda — the exact minhashSigOf bug shape
    val bad = spark.range(3).select(
      transform(sequence(lit(1), lit(4)),
        i => i + size(split(concat(col("id").cast("string"), lit(" x")), " ")))
        .as("a"))
    val hits = capturedArrayOffenders(bad.queryExecution.optimizedPlan)
    assert(hits.nonEmpty, "detector missed the planted captured array")
    // a withColumn binding is NOT enough — CollapseProject inlines a
    // single-reference alias straight back into the lambda (verified:
    // the withColumn form of `bad` is flagged identically). The safe
    // shape is a real ATTRIBUTE the optimizer cannot collapse — a scan
    // column, or a value materialized behind an agg/exchange barrier.
    val good = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select(transform(sequence(lit(1), lit(4)),
        i => i + size(col("embedding"))).as("a"))
    assert(capturedArrayOffenders(good.queryExecution.optimizedPlan).isEmpty)
  }
}
