package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._

/** The relational operator inventory from SURVEY.md §2 (joins J1-J5, aggs
  * A1-A7, windows W1-W2, sorts/limits T1-T5, set ops U1-U2, predicates
  * P2-P10), exercised over the driver's TPC-H-ish testdata with DuckDB
  * oracles.
  *
  * Reference semantics being reproduced (file:line in /root/reference):
  *  - multi-way FK joins & CTE corpus: mofdbsql_database/Mofdb_Agent/agent.py:100-123,
  *    mofdbsql_database/mofdb_test/test.py:98-352
  *  - window rank / partition-count top-fraction: Mofdb_Agent/agent.py:135-145
  *  - deterministic GROUP_CONCAT: mofdb_test/test.py:179
  *  - parametric range/equality/time predicates: mofdb_database/Mofdb_Server/server.py:62-71,
  *    openlam_database/Openlam_Server/server.py:63-66
  *
  * Scale notes: dimension tables (region, nation) are explicitly
  * broadcast; fact-fact joins shuffle on their equi-keys so AQE can pick
  * sort-merge vs shuffled-hash and handle skew. Self/theta joins are
  * equi-partitioned on the join key with the inequality as a residual
  * predicate (never a nested-loop cross product).
  */
object RelationalQueries {

  /** Exact, order-independent sum of a money-like double column. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  val defs: Seq[QueryDef] = Seq(

    // A1: GROUP BY + COUNT/SUM/MIN/MAX + exact decimal revenue
    QueryDef.sql("q01_agg_pricing",
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // A2: conditional count + percentage
    QueryDef.sql("q02_agg_conditional",
      """SELECT l_returnflag, count(*) AS n_total,
        |  CAST(count(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT) AS n_disc,
        |  CAST(count(CASE WHEN l_discount > 0.05 THEN 1 END) AS DOUBLE) * 100 / count(*) AS pct_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("l_discount") > 0.05, 1)).as("n_disc"),
          (count(when(col("l_discount") > 0.05, 1)).cast("double") * 100 / count(lit(1))).as("pct_disc"))
        .orderBy("l_returnflag")
    },

    // A3: HAVING
    QueryDef.sql("q03_agg_having",
      """SELECT o_custkey, count(*) AS n_orders
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 12
        |ORDER BY n_orders DESC, o_custkey""".stripMargin) { (s, d) =>
      orders(s, d)
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 12)
        .orderBy(desc("n_orders"), col("o_custkey"))
    },

    // A4: deterministic GROUP_CONCAT (sorted collect_list)
    QueryDef.sql("q04_agg_groupconcat",
      """SELECT l_orderkey,
        |  string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY CAST(l_partkey AS VARCHAR)) AS part_sig,
        |  count(*) AS n_parts
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(
          concat_ws(",", sort_array(collect_list(col("l_partkey").cast("string")))).as("part_sig"),
          count(lit(1)).as("n_parts"))
        .orderBy("l_orderkey")
    },

    // A5: single-row global aggregate
    QueryDef.sql("q05_agg_global",
      """SELECT count(*) AS n_rows,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
        |FROM lineitem""".stripMargin) { (s, d) =>
      lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("n_parts"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"))
    },

    // A6: multi-level aggregation (agg of agg)
    QueryDef.sql("q06_agg_multilevel",
      """WITH per AS (
        |  SELECT l_partkey, l_returnflag, sum(l_quantity) / count(*) AS aq
        |  FROM lineitem GROUP BY l_partkey, l_returnflag)
        |SELECT l_partkey, min(aq) AS min_aq, max(aq) AS max_aq, count(*) AS n_flags
        |FROM per GROUP BY l_partkey ORDER BY l_partkey""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy("l_partkey", "l_returnflag")
        .agg((sum(col("l_quantity")) / count(lit(1))).as("aq"))
        .groupBy("l_partkey")
        .agg(min(col("aq")).as("min_aq"), max(col("aq")).as("max_aq"),
             count(lit(1)).as("n_flags"))
        .orderBy("l_partkey")
    },

    // J1: 5-way FK join chain with broadcast dimensions
    QueryDef.sql("q07_join_chain5",
      """SELECT r_name, n_name, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      val r = region(s, d); val n = nation(s, d); val c = customer(s, d)
      val o = orders(s, d); val l = lineitem(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("r_name", "n_name")
    },

    // J2: self-join (pairs within one order)
    QueryDef.sql("q08_join_self",
      """SELECT l1.l_orderkey AS okey, count(*) AS n_pairs
        |FROM lineitem l1 JOIN lineitem l2
        |  ON l1.l_orderkey = l2.l_orderkey AND l1.l_linenumber < l2.l_linenumber
        |GROUP BY l1.l_orderkey ORDER BY okey""".stripMargin) { (s, d) =>
      val l1 = lineitem(s, d).select(col("l_orderkey"), col("l_linenumber").as("ln1"))
      val l2 = lineitem(s, d).select(col("l_orderkey"), col("l_linenumber").as("ln2"))
      l1.join(l2, Seq("l_orderkey")).filter(col("ln1") < col("ln2"))
        .groupBy(col("l_orderkey").as("okey"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("okey")
    },

    // J3: theta self-join — equi-part on nation, inequality residual
    QueryDef.sql("q09_join_theta",
      """SELECT s1.s_suppkey AS sk1, s2.s_suppkey AS sk2, s1.s_nationkey AS nkey
        |FROM supplier s1 JOIN supplier s2
        |  ON s1.s_nationkey = s2.s_nationkey AND s1.s_suppkey < s2.s_suppkey
        |WHERE abs(s1.s_acctbal - s2.s_acctbal) < 1000
        |ORDER BY sk1, sk2""".stripMargin) { (s, d) =>
      val s1 = supplier(s, d).select(col("s_suppkey").as("sk1"),
        col("s_nationkey").as("nkey"), col("s_acctbal").as("bal1"))
      val s2 = supplier(s, d).select(col("s_suppkey").as("sk2"),
        col("s_nationkey").as("nkey"), col("s_acctbal").as("bal2"))
      s1.join(s2, Seq("nkey"))
        .filter(col("sk1") < col("sk2") && abs(col("bal1") - col("bal2")) < 1000)
        .select("sk1", "sk2", "nkey")
        .orderBy("sk1", "sk2")
    },

    // J4: CROSS JOIN against 1-row global aggregate (broadcast)
    QueryDef.sql("q10_join_cross_agg",
      """WITH stats AS (
        |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n_above
        |FROM orders CROSS JOIN stats
        |WHERE o_totalprice > avg_price
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      val stats = o.agg((dsum(col("o_totalprice")) / count(lit(1))).as("avg_price"))
      o.crossJoin(broadcast(stats))
        .filter(col("o_totalprice") > col("avg_price"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_above"))
        .orderBy("o_orderpriority")
    },

    // J5: CTE-to-CTE join of two aggregates (decimal kept exact until the end)
    QueryDef.sql("q11_join_cte",
      """WITH co AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
        |  FROM orders GROUP BY o_custkey)
        |SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(sum(n_orders) AS BIGINT) AS sum_orders,
        |  CAST(sum(tot) AS DOUBLE) AS seg_tot
        |FROM customer JOIN co ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val co = orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
             sum(col("o_totalprice").cast("decimal(18,2)")).as("tot"))
      customer(s, d).join(co, col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
             sum(col("n_orders")).cast("bigint").as("sum_orders"),
             sum(col("tot")).cast("double").as("seg_tot"))
        .orderBy("c_mktsegment")
    },

    // W1: ROW_NUMBER rank per partition, top-3
    QueryDef.sql("q12_window_rank",
      """WITH r AS (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer)
        |SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM r WHERE rn <= 3
        |ORDER BY c_mktsegment, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("c_mktsegment").orderBy(desc("c_acctbal"), col("c_custkey"))
      customer(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
        .orderBy("c_mktsegment", "rn")
    },

    // W2: COUNT(*) OVER partition — top-25% per nation
    QueryDef.sql("q13_window_topfrac",
      """WITH r AS (
        |  SELECT s_nationkey, s_suppkey, s_acctbal,
        |    row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rn,
        |    count(*) OVER (PARTITION BY s_nationkey) AS cnt
        |  FROM supplier)
        |SELECT s_nationkey, s_suppkey, rn, cnt FROM r WHERE rn <= cnt * 0.25
        |ORDER BY s_nationkey, rn""".stripMargin) { (s, d) =>
      val wOrd = Window.partitionBy("s_nationkey").orderBy(desc("s_acctbal"), col("s_suppkey"))
      val wAll = Window.partitionBy("s_nationkey")
      supplier(s, d)
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .filter(col("rn") <= col("cnt") * 0.25)
        .select("s_nationkey", "s_suppkey", "rn", "cnt")
        .orderBy("s_nationkey", "rn")
    },

    // T1+T3: global top-k (TakeOrderedAndProject, no full sort)
    QueryDef.sql("q14_sort_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 30""".stripMargin) { (s, d) =>
      orders(s, d).select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(30)
    },

    // U2: SELECT DISTINCT
    QueryDef.sql("q15_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // U1: union of heterogeneous sources
    QueryDef.sql("q16_union",
      """SELECT name, src FROM (
        |  SELECT c_name AS name, 'customer' AS src FROM customer
        |  UNION ALL
        |  SELECT s_name AS name, 'supplier' AS src FROM supplier)
        |ORDER BY name, src LIMIT 200""".stripMargin) { (s, d) =>
      val c = customer(s, d).select(col("c_name").as("name"), lit("customer").as("src"))
      val p = supplier(s, d).select(col("s_name").as("name"), lit("supplier").as("src"))
      c.unionByName(p).orderBy("name", "src").limit(200)
    },

    // P2+P4+P9: range + equality + null-guard predicates (all pushed to scan)
    QueryDef.sql("q17_pred_range",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity >= 10 AND l_quantity <= 20 AND l_returnflag = 'R'
        |  AND l_shipdate IS NOT NULL AND l_extendedprice >= 20000
        |ORDER BY l_orderkey, l_linenumber LIMIT 500""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .filter(col("l_quantity") >= 10 && col("l_quantity") <= 20 &&
                col("l_returnflag") === "R" && col("l_shipdate").isNotNull &&
                col("l_extendedprice") >= 20000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber").limit(500)
    },

    // P6: substring/LIKE family — contains / startsWith / endsWith
    QueryDef.sql("q18_pred_like",
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_name LIKE '%widget%' AND (p_type LIKE 'PROMO%' OR p_name LIKE '%bolt')
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      part(s, d)
        .filter(col("p_name").contains("widget") &&
                (col("p_type").startsWith("PROMO") || col("p_name").endsWith("bolt")))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")
    },

    // P10: time-window predicate (dates output as DATE for engine parity)
    QueryDef.sql("q19_pred_time",
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_totalprice
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |ORDER BY o_orderkey LIMIT 500""".stripMargin) { (s, d) =>
      orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
                col("o_orderdate") < to_timestamp(lit("1996-07-01 00:00:00")))
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"),
                col("o_totalprice"))
        .orderBy("o_orderkey").limit(500)
    },

    // HLL sketch count-distinct — the 100 TB cardinality tool (exact
    // countDistinct shuffles all distinct values; the sketch is one
    // fixed-size register buffer per group). Estimates are
    // engine-specific, so the oracle gates a TOLERANCE: the Spark side
    // emits `abs(approx-exact) <= 0.05*exact` per group as a 0/1 flag,
    // the DuckDB side recomputes the exact cardinalities and asserts the
    // flag is literally 1 — a hash match means the sketch met its error
    // bound against an independently computed truth. (Unit-level ≤5%
    // assertions also live in ApproxSpec.)
    //
    // The exact and sketch aggregates are TWO groupBys joined on the
    // flag. In one groupBy Spark plans the distinct aggregates in two
    // phases keyed by (flag, distinct value), and every first-phase
    // group carries both 4,096-register HLL buffers (~39k groups at
    // sf0.01): 2,829 ms against 158 ms under count() on perfbench
    // inputs, ~34 s at sf0.1 (4-core VM). HLL registers max-merge, so
    // the split leaves the estimates unchanged. GlobalPlanAuditSpec
    // lints the one-groupBy shape across all queries.
    QueryDef.sql("q55_approx_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  CAST(1 AS BIGINT) AS parts_within_5pct,
        |  CAST(1 AS BIGINT) AS orders_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val li = lineitem(s, d)
      val exact = li.groupBy("l_returnflag").agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      val approx = li.groupBy(col("l_returnflag").as("_flag")).agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
      exact.join(approx, col("l_returnflag") <=> col("_flag"))
        .select(
          col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double") <=
            lit(0.05) * col("exact_parts")).cast("long").as("parts_within_5pct"),
          (abs(col("approx_orders") - col("exact_orders")).cast("double") <=
            lit(0.05) * col("exact_orders")).cast("long").as("orders_within_5pct"))
        .orderBy("l_returnflag")
    },

    // exact interpolated percentiles (continuous quantiles): both from
    // ONE percentile buffer per group (an array of percentages), not
    // one buffer of every value per percentage
    QueryDef.sql("q56_percentile",
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.9))").as("_p"))
        .select(col("l_returnflag"), col("_p")(0).as("p50"),
          col("_p")(1).as("p90"))
        .orderBy("l_returnflag")
    },

    // approx percentile (t-digest-style sketch next to q56's exact
    // interpolated percentile): same tolerance-gate pattern as q55 — the
    // Spark side emits the EXACT percentile (which q56 already proves
    // hash-matches quantile_cont) plus a 0/1 within-2% flag for the
    // sketch; DuckDB recomputes the exact value and asserts the flag.
    QueryDef.sql("q65_approx_percentile",
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS exact_p50,
        |  CAST(1 AS BIGINT) AS p50_within_2pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
          expr("percentile_approx(l_extendedprice, 0.5, 10000)").as("approx_p50"))
        .select(col("l_returnflag"), col("exact_p50"),
          (abs(col("approx_p50") - col("exact_p50")) <=
            lit(0.02) * col("exact_p50")).cast("long").as("p50_within_2pct"))
        .orderBy("l_returnflag")
    },

    // ROLLUP hierarchy totals (beyond-reference relational capability;
    // subtotal rows carry NULL group keys in both engines)
    QueryDef.sql("q58_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // skew-salted join, oracle-gated: the salted (key, salt) equi-join
    // must produce EXACTLY the plain join's multiset — the oracle states
    // the plain join, so a hash match proves the salting is semantics-
    // preserving on real data (the salt spreads each hot l_suppkey over
    // 8 reducers; SkewSpec additionally asserts the spread).
    QueryDef.sql("q63_skew_salted",
      """SELECT s_nationkey, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, d) =>
      val dim = supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.operators.Skew
        .saltedJoin(lineitem(s, d), dim, "l_suppkey", salts = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("s_nationkey")
    },

    // semi + anti joins (EXISTS / NOT EXISTS rewrites of the J2 pattern)
    QueryDef.sql("q20_semi_anti",
      """SELECT c_mktsegment, 'with' AS kind, count(*) AS n
        |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment
        |UNION ALL
        |SELECT c_mktsegment, 'without' AS kind, count(*) AS n
        |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment, kind""".stripMargin) { (s, d) =>
      val c = customer(s, d); val o = orders(s, d)
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("with"))
      val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("without"))
      withO.unionByName(withoutO)
        .select("c_mktsegment", "kind", "n")
        .orderBy("c_mktsegment", "kind")
    },

    // Bloom-pruned semi join (the runtime-filter pattern as an explicit
    // operator, BloomJoin.scala): orders rows that can't match a
    // BUILDING customer die at the scan-side bloom probe BEFORE the
    // join exchange; the final semi join makes the result exact. The
    // oracle states the plain IN-subquery — a hash match proves
    // prefilter ∘ semi-join ≡ semi-join on real keys.
    QueryDef.sql("q87_bloom_semi_join",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey IN
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val dim = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      graft.operators.BloomJoin
        .semiPruned(orders(s, d), "o_custkey", dim, "c_custkey",
          expectedItems = 50000L, fpp = 0.01)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // GROUPING SETS (the general form of q58's ROLLUP): three explicit
    // grouping levels in ONE expand+shuffle pass (Spark's Expand node
    // fans each row into its grouping sets before the partial agg — no
    // per-level re-scan of lineitem), with grouping() ids
    // disambiguating real NULL keys from subtotal rows.
    QueryDef.sql("q90_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY g_flag, g_status,
        |  l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // Multiset set operators (U-family completion): INTERSECT ALL /
    // EXCEPT ALL between two derived order-key bags — Spark's native
    // intersectAll/exceptAll (planned as a count-compare aggregate,
    // one shuffle each, no join explosion) vs DuckDB's SQL set ops.
    // ALL semantics is the point: a custkey with 3 big orders of which
    // 2 are urgent contributes min(3,2)=2 intersect rows and 3-2=1
    // except row — plain INTERSECT/EXCEPT would collapse both to 1.
    // Integer keys + counts only.
    QueryDef.sql("q105_setops_all",
      """WITH a AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
        |     b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |     i AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
        |     e AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |SELECT 'intersect' AS kind, o_custkey, count(*) AS n FROM i GROUP BY 2
        |UNION ALL
        |SELECT 'except' AS kind, o_custkey, count(*) AS n FROM e GROUP BY 2
        |ORDER BY kind, o_custkey""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      val a = o.filter(col("o_totalprice") > 150000).select("o_custkey")
      val b = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      val i = a.intersectAll(b).groupBy("o_custkey")
        .agg(count(lit(1)).as("n")).withColumn("kind", lit("intersect"))
      val e = a.exceptAll(b).groupBy("o_custkey")
        .agg(count(lit(1)).as("n")).withColumn("kind", lit("except"))
      i.unionByName(e).select("kind", "o_custkey", "n")
        .orderBy("kind", "o_custkey")
    },

    // UNPIVOT / melt (inverse of q85's pivot): three measure columns of
    // lineitem fold into (metric, value) rows via Spark's native
    // unpivot (an Expand node — one pass, no shuffle, 3 rows out per
    // row in) vs DuckDB's UNPIVOT clause. The doubles pass through
    // untouched (no arithmetic), so values are bit-exact on both sides.
    QueryDef.sql("q106_unpivot",
      """SELECT l_orderkey, l_linenumber, metric, value
        |FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
        |                 l_extendedprice, l_discount
        |               FROM lineitem WHERE l_orderkey % 50 = 0)
        |      ON l_quantity, l_extendedprice, l_discount
        |      INTO NAME metric VALUE value)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .filter(col("l_orderkey") % 50 === 0)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    },

    // Equi-depth bucketing: NTILE(8) per order-priority partition (the
    // W-family's remaining standard member; partitioned, so it stays
    // parallel — a GLOBAL ntile would be a single-task window, banned
    // here). Both engines implement the SQL-standard split (first
    // buckets take the remainder rows), tie-broken total by
    // (o_totalprice, o_orderkey); bucket bounds are pass-through
    // doubles (no arithmetic — bit-exact).
    QueryDef.sql("q111_ntile",
      """SELECT o_orderpriority, bucket, count(*) AS n,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM (SELECT o_orderpriority, o_totalprice,
        |        ntile(8) OVER (PARTITION BY o_orderpriority
        |          ORDER BY o_totalprice, o_orderkey) AS bucket
        |      FROM orders)
        |GROUP BY 1, 2 ORDER BY o_orderpriority, bucket""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      orders(s, d)
        .select(col("o_orderpriority"), col("o_totalprice"),
          ntile(8).over(w).as("bucket"))
        .groupBy("o_orderpriority", "bucket")
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
        .orderBy("o_orderpriority", "bucket")
    },

    // Bounded top-k per group (TopKAgg.topKPerGroup): each customer's 3
    // priciest orders. The engine aggregates with a k-bounded
    // map-side-combined buffer (the exchange carries ≤ k pairs per
    // group per partition, nothing globally sorted); the oracle IS the
    // window formulation (row_number ≤ 3) the aggregate replaces.
    // Ties broken by orderkey; cents through DECIMAL(18,2) (the money
    // ground rule). All-BIGINT output.
    QueryDef.sql("q117_topk_per_group",
      """WITH cents AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders),
        |ranked AS (
        |  SELECT o_custkey, o_orderkey, v,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY v DESC, o_orderkey) AS rnk
        |  FROM cents)
        |SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, o_orderkey, v
        |FROM ranked WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin) { (s, d) =>
      val cents = orders(s, d).select(col("o_custkey"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("v"))
      graft.operators.TopKAgg
        .topKPerGroup(cents, "o_custkey", "v", "o_orderkey", k = 3)
        .orderBy("o_custkey", "rnk")
    },

    // Schema-evolution union: a table whose later snapshot gained a
    // column (the 100 TB reality — partitions written by different
    // pipeline versions coexist). unionByName(allowMissingColumns)
    // aligns by NAME and null-fills the pre-migration rows — no
    // positional mismatch, no rewrite of old partitions; the oracle is
    // DuckDB's UNION ALL BY NAME. NULL never reaches the ORDER BY
    // (coalesced to a sentinel) so engine null-ordering defaults can't
    // differ; cents through DECIMAL (money rule); sum cast BIGINT
    // (DuckDB HUGEINT rule).
    QueryDef.sql("q121_schema_union",
      """WITH oldsnap AS (
        |  SELECT o_orderkey AS ok, o_custkey AS ck,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |newsnap AS (
        |  SELECT o_orderkey AS ok, o_custkey AS ck,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    o_orderpriority AS priority
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
        |merged AS (SELECT * FROM oldsnap UNION ALL BY NAME SELECT * FROM newsnap)
        |SELECT coalesce(priority, '(pre-migration)') AS priority,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM merged GROUP BY 1 ORDER BY priority""".stripMargin) { (s, d) =>
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents")
      val oldSnap = orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"), cents)
      val newSnap = orders(s, d)
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp_ntz"))
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"), cents,
          col("o_orderpriority").as("priority"))
      oldSnap.unionByName(newSnap, allowMissingColumns = true)
        .groupBy(coalesce(col("priority"), lit("(pre-migration)")).as("priority"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("priority")
    },

    // Declarative data-quality audit (operators/Quality): null/range
    // checks share ONE scan per table (conditional counts in one
    // map-side-combined aggregation, unpivoted by stack), uniqueness is
    // one key shuffle (Σ (n−1), never a self-join), FK orphans and
    // childless parents are distinct-key anti-joins. The oracle
    // restates every check as an independent scalar subquery. Two
    // checks trip for real (l_discount cap, o_totalprice cap), one
    // "claimed unique" key is massively duplicated — nonzero counts
    // prove the counting, zeros prove the absence of false positives.
    QueryDef.sql("q122_dq_audit",
      """SELECT 'events.event_id unique' AS "check",
        |  CAST((SELECT coalesce(sum(n - 1), 0) FROM
        |    (SELECT count(*) AS n FROM events GROUP BY event_id) WHERE n > 1)
        |    AS BIGINT) AS violations
        |UNION ALL SELECT 'events.user_id in customer',
        |  CAST((SELECT count(*) FROM events e WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS BIGINT)
        |UNION ALL SELECT 'lineitem.l_discount <= 0.05',
        |  CAST((SELECT count(*) FROM lineitem WHERE l_discount > 0.05) AS BIGINT)
        |UNION ALL SELECT 'lineitem.l_quantity not null',
        |  CAST((SELECT count(*) FROM lineitem WHERE l_quantity IS NULL) AS BIGINT)
        |UNION ALL SELECT 'orders have lineitems',
        |  CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT)
        |UNION ALL SELECT 'orders.o_custkey unique',
        |  CAST((SELECT coalesce(sum(n - 1), 0) FROM
        |    (SELECT count(*) AS n FROM orders GROUP BY o_custkey) WHERE n > 1)
        |    AS BIGINT)
        |UNION ALL SELECT 'orders.o_totalprice <= 400000',
        |  CAST((SELECT count(*) FROM orders WHERE o_totalprice > 400000) AS BIGINT)
        |ORDER BY "check"""".stripMargin) { (s, d) =>
      import graft.operators.Quality
      val li = lineitem(s, d); val o = orders(s, d)
      val ev = graft.tables.Tables.events(s, d); val c = customer(s, d)
      Quality.scalarAudit(li, Seq(
          "lineitem.l_discount <= 0.05" -> (col("l_discount") > 0.05),
          "lineitem.l_quantity not null" -> col("l_quantity").isNull))
        .unionByName(Quality.scalarAudit(o, Seq(
          "orders.o_totalprice <= 400000" -> (col("o_totalprice") > 400000))))
        .unionByName(Quality.uniquenessExcess(o, Seq("o_custkey"),
          "orders.o_custkey unique"))
        .unionByName(Quality.uniquenessExcess(ev, Seq("event_id"),
          "events.event_id unique"))
        .unionByName(Quality.orphanCount(ev, "user_id", c, "c_custkey",
          "events.user_id in customer"))
        .unionByName(Quality.childlessCount(o, "o_orderkey", li, "l_orderkey",
          "orders have lineitems"))
        .orderBy("check")
    },

    // Robust per-group statistics (operators/Robust.madOutliers):
    // discrete median + MAD + outlier counts of order cents per
    // priority. Integer-exact throughout — the discrete median is an
    // actual data value at rank (n+1) div 2, which DuckDB's
    // percentile_disc(0.5) selects identically (verified: first value
    // with cumulative distribution ≥ 0.5 = the lower median), so the
    // oracle is a genuinely different formulation of the same ranks.
    // No global window: both rank passes partition by priority.
    QueryDef.sql("q126_robust_stats",
      """WITH cents AS (
        |  SELECT o_orderpriority AS prio, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders),
        |med AS (
        |  SELECT prio, CAST(count(*) AS BIGINT) AS n,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS med
        |  FROM cents GROUP BY 1),
        |dev AS (
        |  SELECT c.prio, abs(c.v - m.med) AS dd, m.n, m.med
        |  FROM cents c JOIN med m USING (prio)),
        |mad AS (
        |  SELECT prio, percentile_disc(0.5) WITHIN GROUP (ORDER BY dd) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.prio AS o_orderpriority, min(d.n) AS n, min(d.med) AS med,
        |  min(m.mad) AS mad,
        |  CAST(count(*) FILTER (WHERE d.dd > 5 * m.mad) AS BIGINT) AS n_out
        |FROM dev d JOIN mad m USING (prio)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val cents = orders(s, d).select(col("o_orderpriority"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("v"))
      graft.operators.Robust
        .madOutliers(cents, "o_orderpriority", "v", "o_orderkey", c = 5L)
        .orderBy("o_orderpriority")
    },

    // Interval coalescing / gaps-and-islands (operators/Intervals):
    // each order opens a 30-day activity window [day, day+30); per
    // customer the overlapping windows merge into maximal disjoint
    // "activity islands". The engine is the single-window-pass sweep
    // (running max end over preceding rows — no interval² self-join);
    // the oracle restates the identical sweep in DuckDB SQL. All
    // columns integral (epoch days), order (start, end, o_orderkey)
    // total, so flags agree bit-for-bit.
    QueryDef.sql("q129_interval_merge",
      """WITH iv AS (
        |  SELECT o_custkey AS key, o_orderkey AS id,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 30 AS e
        |  FROM orders),
        |flagged AS (
        |  SELECT key, id, s, e,
        |    max(e) OVER (PARTITION BY key ORDER BY s, e, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |numbered AS (
        |  SELECT key, s, e,
        |    CAST(sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY key ORDER BY s, e, id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island_idx
        |  FROM flagged)
        |SELECT key AS o_custkey, island_idx,
        |  min(s) AS start_day, max(e) AS end_day,
        |  count(*) AS n_intervals
        |FROM numbered GROUP BY 1, 2 ORDER BY o_custkey, island_idx""".stripMargin) { (s, d) =>
      val iv = orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("s"))
        .withColumn("e", col("s") + 30)
      graft.operators.Intervals
        .mergeIntervals(iv, "o_custkey", "o_orderkey", "s", "e")
        .select(col("key").as("o_custkey"), col("island_idx"),
          col("start").as("start_day"), col("end").as("end_day"),
          col("n_intervals"))
        .orderBy("o_custkey", "island_idx")
    },

    // Deterministic mode (argmax aggregation): the most frequent order
    // priority per nation, ties broken lexicographically — the
    // count+rank formulation that stays exact and engine-independent
    // where a native mode() agg has unspecified tie behavior. Both
    // rank passes partition by nation (no global window); the
    // dimension chain customer→nation broadcasts.
    QueryDef.sql("q130_mode_per_group",
      """WITH c AS (
        |  SELECT n_name, o_orderpriority, count(*) AS n
        |  FROM orders
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT n_name, o_orderpriority, n,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY n DESC, o_orderpriority) AS rn
        |  FROM c)
        |SELECT n_name, o_orderpriority AS mode_priority, n
        |FROM r WHERE rn = 1 ORDER BY n_name""".stripMargin) { (s, d) =>
      val counts = orders(s, d)
        .join(customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(nation(s, d), col("n_nationkey") === col("c_nationkey"))
        .groupBy("n_name", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val byNation = org.apache.spark.sql.expressions.Window
        .partitionBy("n_name").orderBy(col("n").desc, col("o_orderpriority"))
      counts.withColumn("rn", row_number().over(byNation))
        .filter(col("rn") === 1)
        .select(col("n_name"), col("o_orderpriority").as("mode_priority"), col("n"))
        .orderBy("n_name")
    },

    // Spearman rank-correlation components per priority group: ranks
    // of price and date over the (value, o_orderkey) TOTAL orders, then
    // the exact BIGINT pair (n, Σd²) — ρ = 1 − 6Σd²/(n(n²−1)) is fully
    // determined by them and left to the consumer (float ground rules).
    // Both rank windows and the agg partition by the group key (one
    // exchange, no global window). Σd² bound: n ≤ 10⁷ per group even at
    // sf100 ⇒ Σd² ≤ n³ ≈ 10²¹ overflows... at THIS design point groups
    // are priority classes of ≤ n/5; the long bound n³ < 2⁶³ holds to
    // n ≈ 2×10⁶ per group — beyond that shift to DECIMAL(38,0) sums.
    QueryDef.sql("q143_spearman",
      """WITH r AS (
        |  SELECT o_orderpriority AS grp,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS rp,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_orderdate, o_orderkey) AS rd
        |  FROM orders)
        |SELECT grp, count(*) AS n,
        |  CAST(sum((rp - rd) * (rp - rd)) AS BIGINT) AS sum_d2
        |FROM r GROUP BY 1 ORDER BY grp""".stripMargin) { (s, d) =>
      val byPrice = Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
      val byDate = Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
      orders(s, d)
        .select(col("o_orderpriority").as("grp"),
          row_number().over(byPrice).as("rp"),
          row_number().over(byDate).as("rd"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"),
          sum((col("rp").cast("long") - col("rd")) *
            (col("rp").cast("long") - col("rd"))).as("sum_d2"))
        .orderBy("grp")
    },

    // Per-nation revenue-trend (OLS) components: daily revenue cents
    // per nation, then the five exact BIGINTs (n, Σx, Σy, Σxy, Σx²)
    // that fully determine slope and intercept — the float solve is the
    // consumer's (float ground rules). x = day index from 1992-01-01
    // (small int; epoch-µs x would overflow Σx²), y = DECIMAL-exact
    // daily cents. Customer→nation dimension chain broadcasts into the
    // orders scan; two chained aggs. Long bounds: Σxy ≈ days²·cents/day
    // ≈ 2.5×10¹⁷ at sf100 — within 2⁶³; past that, DECIMAL(38,0) sums.
    QueryDef.sql("q150_trend_components",
      """WITH cn AS (
        |  SELECT c_custkey, n_name
        |  FROM customer JOIN nation ON n_nationkey = c_nationkey),
        |daily AS (
        |  SELECT n_name,
        |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM orders JOIN cn ON c_custkey = o_custkey
        |  GROUP BY 1, 2)
        |SELECT n_name, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |  CAST(sum(x * y) AS BIGINT) AS sum_xy,
        |  CAST(sum(x * x) AS BIGINT) AS sum_x2
        |FROM daily GROUP BY 1 ORDER BY n_name""".stripMargin) { (s, d) =>
      val cn = customer(s, d)
        .join(nation(s, d), col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val daily = orders(s, d)
        .join(broadcast(cn), col("c_custkey") === col("o_custkey"))
        .groupBy(col("n_name"),
          datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01")))
            .cast("long").as("x"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("y"))
      daily.groupBy("n_name")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
          sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_x2"))
        .orderBy("n_name")
    },

    // Per-nation revenue-concentration (Gini) components over customers
    // with ≥1 order: the exact triple (n, Σx, Σ i·x_i) with i = rank in
    // the (cents, custkey) total order — G = 2Σi·x_i/(nΣx) − (n+1)/n is
    // fully determined and left to the consumer (float ground rules).
    // Per-customer cents agg, broadcast customer→nation chain, one
    // nation-partitioned rank window, one agg. Σi·x_i is summed in
    // DECIMAL(38,0): at sf100 a nation holds ~6×10⁵ customers ⇒
    // Σi·x_i ≈ n²/2·avg ≈ 2.7×10¹⁹ > 2⁶³ — the per-row product i·x
    // (≤ 6×10¹⁴) still fits a long on both engines before the cast.
    QueryDef.sql("q155_gini_components",
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT n_name, cents, c_custkey
        |  FROM pc JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey),
        |r AS (
        |  SELECT n_name, cents,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY cents, c_custkey) AS rn
        |  FROM j)
        |SELECT n_name, count(*) AS n_cust,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(CAST(rn * cents AS DECIMAL(38,0))) AS VARCHAR)
        |    AS sum_rank_cents
        |FROM r GROUP BY 1 ORDER BY n_name""".stripMargin) { (s, d) =>
      val perCust = orders(s, d)
        .groupBy("o_custkey")
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
      val cn = customer(s, d)
        .join(nation(s, d), col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val ranked = perCust
        .join(broadcast(cn), col("c_custkey") === col("o_custkey"))
        .select(col("n_name"), col("cents"), col("c_custkey"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("n_name").orderBy("cents", "c_custkey"))
          .cast("long"))
      // decimal(38,0) stays internal; the OUTPUT is its digit string —
      // external harnesses coerce decimal columns asymmetrically (the
      // r06 q155/q184/q185 class), strings hash bit-identically.
      ranked.groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("cents")).as("sum_cents"),
          sum((col("rn") * col("cents")).cast("decimal(38,0)"))
            .cast("string").as("sum_rank_cents"))
        .orderBy("n_name")
    },

    // Key-space gap audit (operators/KeyGaps): missing-id ranges of the
    // F-status order keys — the completeness check after a purge or a
    // partial load. The engine runs the BLOCK-PARTITIONED two-level
    // formulation (per-block lag windows + an O(#blocks) driver
    // boundary scan — the PrefixSum pattern; never a global window);
    // the oracle is the textbook global lag, so the decomposition must
    // reproduce it gap-for-gap. All-integer.
    QueryDef.sql("q158_key_gaps",
      """WITH k AS (
        |  SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_orderstatus = 'F'),
        |l AS (SELECT k, lag(k) OVER (ORDER BY k) AS prev FROM k)
        |SELECT prev + 1 AS gap_start, k - 1 AS gap_end,
        |  k - prev - 1 AS gap_len
        |FROM l WHERE k - prev > 1 ORDER BY gap_start""".stripMargin) { (s, d) =>
      graft.operators.KeyGaps.gaps(
          orders(s, d).filter(col("o_orderstatus") === "F"),
          "o_orderkey", blockSize = 512)
        .orderBy("gap_start")
    },

    // Pareto coverage (80/20 audit): per nation, how many top customers
    // cover ≥80% of nation revenue — the concentration worklist behind
    // skew-aware partitioning and key-account analysis. Both engines
    // run the identical two-window pass (full-frame nation total +
    // running sum over the (cents DESC, custkey) total order — ONE
    // exchange, both windows hash n_name) and the 80% test is integer
    // cross-multiplication 5·cum_before < 4·total: no floats anywhere.
    // DuckDB windowed sum() is HUGEINT → cast BIGINT (ground rule).
    QueryDef.sql("q159_pareto_coverage",
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT n_name, cents, c_custkey
        |  FROM pc JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey),
        |w AS (
        |  SELECT n_name, cents,
        |    CAST(sum(cents) OVER (PARTITION BY n_name) AS BIGINT) AS total,
        |    CAST(sum(cents) OVER (PARTITION BY n_name
        |      ORDER BY cents DESC, c_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM j)
        |SELECT n_name, count(*) AS n_cust, max(total) AS total_cents,
        |  CAST(sum(CASE WHEN 5 * (cum - cents) < 4 * total THEN 1 ELSE 0 END)
        |    AS BIGINT) AS k80
        |FROM w GROUP BY 1 ORDER BY n_name""".stripMargin) { (s, d) =>
      val perCust = orders(s, d)
        .groupBy("o_custkey")
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
      val cn = customer(s, d)
        .join(nation(s, d), col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val byNation = Window.partitionBy("n_name")
      val running = byNation.orderBy(col("cents").desc, col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
      perCust
        .join(broadcast(cn), col("c_custkey") === col("o_custkey"))
        .select(col("n_name"), col("cents"), col("c_custkey"))
        .withColumn("total", sum("cents").over(byNation))
        .withColumn("cum", sum("cents").over(running))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          max(col("total")).as("total_cents"),
          sum(when(lit(5) * (col("cum") - col("cents")) <
            lit(4) * col("total"), 1L).otherwise(0L)).as("k80"))
        .orderBy("n_name")
    },

    // Business-day lead times (functions/BusinessDays): order→ship lead
    // time in Mon–Fri days per priority class — closed-form integer
    // weekday index (no UDF, no calendar table, rides codegen), the
    // identical //,%,least arithmetic restated in the oracle. The −3
    // epoch-offset tail cancels in the index difference so neither side
    // carries it. All-integer.
    QueryDef.sql("q160_busday_leadtime",
      """WITH x AS (
        |  SELECT o_orderpriority AS grp,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS da,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS db
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |b AS (
        |  SELECT grp,
        |    (5 * ((db + 3) // 7) + least((db + 3) % 7, 5)) -
        |    (5 * ((da + 3) // 7) + least((da + 3) % 7, 5)) AS busdays
        |  FROM x)
        |SELECT grp, count(*) AS n, CAST(sum(busdays) AS BIGINT) AS sum_bd,
        |  CAST(min(busdays) AS BIGINT) AS min_bd,
        |  CAST(max(busdays) AS BIGINT) AS max_bd
        |FROM b GROUP BY 1 ORDER BY grp""".stripMargin) { (s, d) =>
      import graft.functions.BusinessDays
      orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("grp"),
          BusinessDays.busdaysBetween(to_date(col("o_orderdate")),
            to_date(col("l_shipdate"))).as("busdays"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("busdays").as("sum_bd"),
          min("busdays").as("min_bd"), max("busdays").as("max_bd"))
        .orderBy("grp")
    },

    // Equi-depth histogram bounds (Robust.equiDepthBounds): decile
    // edges of lineitem price cents per return flag — every bound an
    // actual data value at rank ⌈j·n/10⌉ of the (cents, rid) total
    // order (rid = orderkey·8+linenumber, the unique line id). One
    // group-partitioned rank window + a broadcast (groups × 10)
    // boundary-grid join; no interpolation, no floats.
    QueryDef.sql("q161_equidepth",
      """WITH e AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    l_orderkey * 8 + l_linenumber AS rid
        |  FROM lineitem),
        |r AS (
        |  SELECT grp, cents,
        |    row_number() OVER (PARTITION BY grp ORDER BY cents, rid) AS rn
        |  FROM e),
        |c AS (SELECT grp, count(*) AS n FROM e GROUP BY 1),
        |g AS (
        |  SELECT c.grp, CAST(j AS INT) AS j, (j * n + 9) // 10 AS rn
        |  FROM c, generate_series(1, 10) AS t(j))
        |SELECT r.grp, g.j, r.cents AS bound
        |FROM r JOIN g ON g.grp = r.grp AND g.rn = r.rn
        |ORDER BY r.grp, j""".stripMargin) { (s, d) =>
      graft.operators.Robust.equiDepthBounds(
          lineitem(s, d).select(col("l_returnflag").as("grp"),
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long").as("cents"),
            (col("l_orderkey") * 8 + col("l_linenumber")).as("rid")),
          "grp", "cents", "rid", k = 10)
        .orderBy("grp", "j")
    },

    // KMV distinct sketch (operators/Kmv): per return flag, the
    // (k_used, kth_hash) pair of the 256 minimum masked-xorshift hash
    // values over distinct partkeys, beside the exact distinct count —
    // the mergeable, EXACTLY-reproducible distinct summary (the oracle
    // rebuilds the identical sketch in SQL and hash-matches it, unlike
    // HLL's engine-private ±2% band in q55). One distinct shuffle, one
    // group-partitioned rank window over k·|groups| survivors.
    QueryDef.sql("q162_kmv_sketch",
      """WITH keys AS (
        |  SELECT DISTINCT l_returnflag AS grp, l_partkey AS k FROM lineitem),
        |h0 AS (SELECT grp, k, xor(k & 4294967295, 2654435769) AS x FROM keys),
        |h1 AS (SELECT grp, k, xor(x, (x << 13) & 4294967295) AS x FROM h0),
        |h2 AS (SELECT grp, k, xor(x, x >> 17) AS x FROM h1),
        |h3 AS (SELECT grp, k, xor(xor(x, (x << 5) & 4294967295), 2246822507) AS x FROM h2),
        |h4 AS (SELECT grp, k, xor(x, (x << 13) & 4294967295) AS x FROM h3),
        |h5 AS (SELECT grp, k, xor(x, x >> 17) AS x FROM h4),
        |h6 AS (SELECT grp, k, xor(x, (x << 5) & 4294967295) AS x FROM h5),
        |r AS (
        |  SELECT grp, x,
        |    row_number() OVER (PARTITION BY grp ORDER BY x, k) AS rn
        |  FROM h6),
        |sk AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS k_used, max(x) AS kth_hash
        |  FROM r WHERE rn <= 256 GROUP BY 1),
        |tru AS (SELECT grp, count(*) AS n_true FROM keys GROUP BY 1)
        |SELECT grp, k_used, kth_hash, n_true
        |FROM sk JOIN tru USING (grp) ORDER BY grp""".stripMargin) { (s, d) =>
      val li = lineitem(s, d)
      val sk = graft.operators.Kmv.sketch(
        li.select(col("l_returnflag").as("grp"), col("l_partkey")),
        "grp", "l_partkey", k = 256)
      val tru = li.select(col("l_returnflag").as("grp"), col("l_partkey"))
        .distinct()
        .groupBy("grp").agg(count(lit(1)).as("n_true"))
      sk.join(tru, "grp")
        .select(col("grp"), col("k_used"), col("kth_hash"), col("n_true"))
        .orderBy("grp")
    },

    // Month-over-month revenue per nation: monthly DECIMAL-exact cents
    // beside the previous month's (lag window per nation over the month
    // grid — months with zero orders are simply absent, so "previous"
    // means previous OBSERVED month on both engines; the growth ratio
    // is determined by the exact pair and left to the consumer). Two
    // chained aggs + one nation-partitioned lag; dimension chain
    // broadcasts. Month flooring is floor-of-floor over µs dates.
    QueryDef.sql("q164_mom_revenue",
      """WITH cn AS (
        |  SELECT c_custkey, n_name
        |  FROM customer JOIN nation ON n_nationkey = c_nationkey),
        |m AS (
        |  SELECT n_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders JOIN cn ON c_custkey = o_custkey
        |  GROUP BY 1, 2)
        |SELECT n_name, month, cents,
        |  lag(cents) OVER (PARTITION BY n_name ORDER BY month) AS prev_cents
        |FROM m ORDER BY n_name, month""".stripMargin) { (s, d) =>
      val cn = customer(s, d)
        .join(nation(s, d), col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      orders(s, d)
        .join(broadcast(cn), col("c_custkey") === col("o_custkey"))
        .groupBy(col("n_name"),
          to_date(date_trunc("month", col("o_orderdate"))).as("month"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
        .withColumn("prev_cents", lag(col("cents"), 1).over(
          Window.partitionBy("n_name").orderBy("month")))
        .orderBy("n_name", "month")
    },

    // Clamped-at-zero running balance (operators/Balance): per-part
    // stock level over signed quantity flows (returns withdraw), where
    // a withdrawal against empty stock is lost — the sequential-looking
    // recurrence s = max(0, s + x) computed as the closed two-window
    // form P − min(0, running-min P) (BalanceSpec proves the identity
    // against the fold). Both windows share one part-keyed exchange;
    // the oracle restates the identity, the SPEC carries the
    // independent sequential evidence. All-integer; windowed sums are
    // HUGEINT in DuckDB → cast (ground rule).
    QueryDef.sql("q165_clamped_balance",
      """WITH f AS (
        |  SELECT l_partkey, l_shipdate,
        |    l_orderkey * 8 + l_linenumber AS rid,
        |    CAST(l_quantity AS BIGINT) *
        |      (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END) AS flow
        |  FROM lineitem WHERE l_partkey % 50 = 0),
        |p1 AS (
        |  SELECT l_partkey, l_shipdate, rid, flow,
        |    CAST(sum(flow) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, rid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pre
        |  FROM f),
        |p2 AS (
        |  SELECT l_partkey, rid, flow, pre,
        |    min(pre) OVER (PARTITION BY l_partkey ORDER BY l_shipdate, rid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
        |  FROM p1)
        |SELECT l_partkey, rid, flow,
        |  pre - least(CAST(0 AS BIGINT), mn) AS balance
        |FROM p2 ORDER BY l_partkey, rid""".stripMargin) { (s, d) =>
      graft.operators.Balance.clampedRunning(
          lineitem(s, d).filter(col("l_partkey") % 50 === 0)
            .select(col("l_partkey"), col("l_shipdate"),
              (col("l_orderkey") * 8 + col("l_linenumber")).as("rid"),
              (col("l_quantity").cast("long") *
                when(col("l_returnflag") === "R", -1L).otherwise(1L))
                .as("flow")),
          "l_partkey", Seq("l_shipdate", "rid"), "flow")
        .select("l_partkey", "rid", "flow", "balance")
        .orderBy("l_partkey", "rid")
    },

    // Max drawdown (operators/Balance.maxDrawdown): per supplier, the
    // deepest fall from a running peak of the signed net-revenue series
    // (returns withdraw) — dd = runmax(P) − P, answer = max dd. Running
    // sum + running max share ONE (suppkey, order) exchange+sort, then
    // a groupBy collapses per key; `final` is restated as the plain
    // order-independent flow sum. All-integer cents; DuckDB windowed
    // sums are HUGEINT → cast (ground rule).
    QueryDef.sql("q169_max_drawdown",
      """WITH f AS (
        |  SELECT l_suppkey, l_shipdate,
        |    l_orderkey * 8 + l_linenumber AS rid,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END) AS flow
        |  FROM lineitem),
        |p AS (
        |  SELECT l_suppkey, l_shipdate, rid, flow,
        |    CAST(sum(flow) OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, rid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pre
        |  FROM f),
        |d AS (
        |  SELECT l_suppkey, flow, pre,
        |    max(pre) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, rid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - pre AS dd
        |  FROM p)
        |SELECT l_suppkey, max(pre) AS peak,
        |  CAST(sum(flow) AS BIGINT) AS "final", max(dd) AS max_drawdown
        |FROM d GROUP BY 1 ORDER BY l_suppkey""".stripMargin) { (s, d) =>
      graft.operators.Balance.maxDrawdown(
          lineitem(s, d).select(col("l_suppkey"), col("l_shipdate"),
            (col("l_orderkey") * 8 + col("l_linenumber")).as("rid"),
            ((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long") *
              when(col("l_returnflag") === "R", -1L).otherwise(1L)).as("flow")),
          "l_suppkey", Seq("l_shipdate", "rid"), "flow")
        .orderBy("l_suppkey")
    },

    // Kaplan–Meier life-table components (operators/Survival): order
    // fulfilment durations (orderdate → last shipdate) per priority
    // stratum, event = order reached final status 'F', others censored.
    // Integer (d, c, at_risk) triples per observed duration — Ŝ(t) is a
    // float product left to the consumer (avg-class ground rule). One
    // subject groupBy, one stratum-partitioned DESC window; no global
    // window, no join-back.
    QueryDef.sql("q170_survival",
      """WITH subj AS (
        |  SELECT o_orderkey, o_orderpriority AS grp,
        |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(max(l_shipdate) AS DATE)) AS BIGINT) AS dur,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY o_orderkey, o_orderpriority, o_orderdate, o_orderstatus),
        |t AS (
        |  SELECT grp, dur, CAST(sum(ev) AS BIGINT) AS d,
        |    CAST(sum(1 - ev) AS BIGINT) AS c
        |  FROM subj GROUP BY 1, 2)
        |SELECT grp, dur, d, c,
        |  CAST(sum(d + c) OVER (PARTITION BY grp ORDER BY dur DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS at_risk
        |FROM t ORDER BY grp, dur""".stripMargin) { (s, d) =>
      val subj = orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority").as("grp"),
          col("o_orderdate"), col("o_orderstatus"))
        .agg(max(col("l_shipdate")).as("ship_end"))
        .select(col("grp"),
          datediff(to_date(col("ship_end")), to_date(col("o_orderdate")))
            .cast("long").as("dur"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("ev"))
      graft.operators.Survival.kmComponents(subj, "grp", "dur", "ev")
        .orderBy("grp", "dur")
    },

    // Benford first-significant-digit audit: distribution of the
    // leading digit of order totals per priority class beside the class
    // total — the classic fabricated-data screen, all-integer (digit
    // extracted from the BIGINT cents rendering, which both engines
    // print identically; ×100 scaling preserves the leading digit).
    // Two aggs + a broadcast join on the 5-row class totals.
    QueryDef.sql("q172_benford",
      """WITH c AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |dg AS (
        |  SELECT grp,
        |    CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM c),
        |n AS (SELECT grp, digit, count(*) AS n FROM dg GROUP BY 1, 2),
        |t AS (SELECT grp, count(*) AS n_grp FROM dg GROUP BY 1)
        |SELECT grp, digit, n, n_grp
        |FROM n JOIN t USING (grp) ORDER BY grp, digit""".stripMargin) { (s, d) =>
      val base = orders(s, d)
        .select(col("o_orderpriority").as("grp"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .select(col("grp"),
          substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
      val n = base.groupBy("grp", "digit").agg(count(lit(1)).as("n"))
      val t = base.groupBy("grp").agg(count(lit(1)).as("n_grp"))
      n.join(broadcast(t), "grp")
        .select("grp", "digit", "n", "n_grp")
        .orderBy("grp", "digit")
    },

    // RFM segmentation: per customer, quartile scores for recency
    // (days to a fixed anchor — a literal, so no 1-row cross join),
    // frequency and monetary cents, quartiled WITHIN the customer's
    // nation (partitioned ntile windows — no global window; the three
    // orderings share one nation-hash exchange). Ties broken by
    // custkey → total order → deterministic ntile on both engines.
    QueryDef.sql("q173_rfm",
      """WITH base AS (
        |  SELECT c_custkey, n_name,
        |    date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      DATE '1998-12-31') AS rec_days,
        |    count(*) AS freq,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2)
        |SELECT c_custkey, n_name,
        |  CAST(ntile(4) OVER (PARTITION BY n_name
        |    ORDER BY rec_days, c_custkey) AS BIGINT) AS r_score,
        |  CAST(ntile(4) OVER (PARTITION BY n_name
        |    ORDER BY freq, c_custkey) AS BIGINT) AS f_score,
        |  CAST(ntile(4) OVER (PARTITION BY n_name
        |    ORDER BY cents, c_custkey) AS BIGINT) AS m_score
        |FROM base ORDER BY n_name, c_custkey""".stripMargin) { (s, d) =>
      val base = orders(s, d)
        .join(customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .groupBy("c_custkey", "n_name")
        .agg(max(col("o_orderdate")).as("last_od"),
          count(lit(1)).as("freq"),
          sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
            .as("cents"))
        .select(col("c_custkey"), col("n_name"),
          datediff(to_date(lit("1998-12-31")), to_date(col("last_od")))
            .as("rec_days"),
          col("freq"), col("cents"))
      def q(ord: String) = ntile(4).over(
        Window.partitionBy("n_name").orderBy(col(ord), col("c_custkey")))
        .cast("long")
      base.select(col("c_custkey"), col("n_name"),
          q("rec_days").as("r_score"), q("freq").as("f_score"),
          q("cents").as("m_score"))
        .orderBy("n_name", "c_custkey")
    },

    // Weighted lower median (operators/Robust.weightedMedian): per
    // return flag, the quantity-weighted median price-cents — smallest
    // value whose doubled running weight reaches the total. All-integer
    // (exact where float percentile interpolation is not); one value
    // groupBy + one group-partitioned pass carrying both frames.
    QueryDef.sql("q174_weighted_median",
      """WITH v AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem),
        |g AS (SELECT grp, cents, CAST(sum(w) AS BIGINT) AS w FROM v GROUP BY 1, 2),
        |c AS (
        |  SELECT grp, cents, w,
        |    CAST(sum(w) OVER (PARTITION BY grp ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(w) OVER (PARTITION BY grp) AS BIGINT) AS tot
        |  FROM g)
        |SELECT grp, min(cents) AS wmedian, max(tot) AS total_w
        |FROM c WHERE cum * 2 >= tot GROUP BY 1 ORDER BY grp""".stripMargin) { (s, d) =>
      graft.operators.Robust.weightedMedian(
          lineitem(s, d).select(col("l_returnflag").as("grp"),
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long").as("cents"),
            col("l_quantity").cast("long").as("w")),
          "grp", "cents", "w")
        .orderBy("grp")
    },

    // Largest-remainder (Hamilton) apportionment (operators/Apportion):
    // 20 seats per region split across its nations proportionally to
    // DECIMAL-exact revenue cents — floor shares by integer div, spare
    // seats to the largest remainders, ties by nation name. Σ alloc =
    // 20 per region EXACTLY (ApportionSpec). All windows ride ONE
    // region-keyed exchange; dimension chain broadcasts.
    QueryDef.sql("q175_apportionment",
      """WITH w AS (
        |  SELECT r_name, n_name,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS w
        |  FROM orders
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n_regionkey
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT r_name, n_name, w,
        |    CAST(sum(w) OVER (PARTITION BY r_name) AS BIGINT) AS tot,
        |    20 * w AS num
        |  FROM w),
        |b AS (
        |  SELECT r_name, n_name, w, num // tot AS base, num % tot AS rem
        |  FROM t),
        |r AS (
        |  SELECT r_name, n_name, w, base,
        |    row_number() OVER (PARTITION BY r_name ORDER BY rem DESC, n_name) AS rn,
        |    CAST(sum(base) OVER (PARTITION BY r_name) AS BIGINT) AS fsum
        |  FROM b)
        |SELECT r_name, n_name, w, base,
        |  base + (CASE WHEN rn <= 20 - fsum THEN 1 ELSE 0 END) AS alloc
        |FROM r ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      val wdf = orders(s, d)
        .join(customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .join(broadcast(region(s, d)), col("r_regionkey") === col("n_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("w"))
      graft.operators.Apportion.largestRemainder(wdf, "r_name", "n_name", "w", 20)
        .orderBy("r_name", "n_name")
    },

    // FIFO inventory aging (operators/Fifo): remaining on-shelf
    // quantity per (part, receipt-year) after consuming returns
    // oldest-first — rem_i = clamp(cumR_i − C, 0, qty_i), the
    // sequential oldest-first matching as ONE part-keyed running
    // window + a per-part consumption aggregate joined back (FifoSpec
    // proves ≡ the sequential eater). All-integer.
    QueryDef.sql("q177_fifo_aging",
      """WITH rec AS (
        |  SELECT l_partkey, l_shipdate,
        |    l_orderkey * 8 + l_linenumber AS rid,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(year(l_shipdate) AS BIGINT) AS yr
        |  FROM lineitem WHERE l_returnflag <> 'R' AND l_partkey % 25 = 0),
        |con AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS c
        |  FROM lineitem WHERE l_returnflag = 'R' AND l_partkey % 25 = 0
        |  GROUP BY 1),
        |cum AS (
        |  SELECT rec.l_partkey, yr, qty,
        |    CAST(sum(qty) OVER (PARTITION BY rec.l_partkey
        |      ORDER BY l_shipdate, rid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumq,
        |    coalesce(c, 0) AS c
        |  FROM rec LEFT JOIN con USING (l_partkey))
        |SELECT l_partkey, yr,
        |  CAST(sum(greatest(0, least(qty, cumq - c))) AS BIGINT) AS remaining,
        |  CAST(sum(CASE WHEN least(qty, cumq - c) > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_open,
        |  count(*) AS n_receipts
        |FROM cum GROUP BY 1, 2 ORDER BY l_partkey, yr""".stripMargin) { (s, d) =>
      val rec = lineitem(s, d)
        .filter(col("l_returnflag") =!= "R" && col("l_partkey") % 25 === 0)
        .select(col("l_partkey"), col("l_shipdate"),
          (col("l_orderkey") * 8 + col("l_linenumber")).as("rid"),
          col("l_quantity").cast("long").as("qty"),
          year(col("l_shipdate")).cast("long").as("yr"))
      val con = lineitem(s, d)
        .filter(col("l_returnflag") === "R" && col("l_partkey") % 25 === 0)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"))
      graft.operators.Fifo.remainingByReceipt(rec, con,
          "l_partkey", Seq("l_shipdate", "rid"), "qty")
        .groupBy("l_partkey", "yr")
        .agg(sum("remaining").as("remaining"),
          sum(when(col("remaining") > 0, 1L).otherwise(0L)).as("n_open"),
          count(lit(1)).as("n_receipts"))
        .orderBy("l_partkey", "yr")
    },

    // Histogram drift (operators/Drift.l1Adjacent): per nation, the L1
    // distance between CALENDAR-adjacent months' order-price-band
    // distributions — Σ_b |n_t(b) − n_{t−1}(b)|, absent buckets = 0.
    // Not a lag window (that would pair each bucket with whenever it
    // LAST appeared, mixing gaps); the counts frame full-outer-joins
    // itself on (nation, bucket, p = prev_p + 1) — an equi-join on a
    // computed key. All-integer drift components.
    QueryDef.sql("q178_histogram_drift",
      """WITH c AS (
        |  SELECT n_name,
        |    (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS p,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000 AS b
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey),
        |n AS (SELECT n_name, p, b, count(*) AS n FROM c GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT coalesce(cur.n_name, prev.n_name) AS n_name,
        |    coalesce(cur.p, prev.p + 1) AS p,
        |    coalesce(cur.n, 0) AS cn, coalesce(prev.n, 0) AS pn
        |  FROM n cur FULL OUTER JOIN n prev
        |    ON cur.n_name = prev.n_name AND cur.b = prev.b
        |    AND cur.p = prev.p + 1)
        |SELECT n_name, p, CAST(sum(abs(cn - pn)) AS BIGINT) AS l1,
        |  CAST(sum(cn) AS BIGINT) AS n_cur, CAST(sum(pn) AS BIGINT) AS n_prev
        |FROM j GROUP BY 1, 2 ORDER BY n_name, p""".stripMargin) { (s, d) =>
      val base = orders(s, d)
        .join(customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .select(col("n_name"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("p"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .withColumn("b", expr("cents div 5000000"))
      graft.operators.Drift.l1Adjacent(base, "n_name", "p", "b")
        .orderBy("n_name", "p")
    },

    // Mann–Whitney 2U (operators/RankStats): the rank-sum pair count
    // #{a > b} + ½·ties between returned ('R') and normal ('N') line
    // prices per line status, DOUBLED so midranks stay integer —
    // cross-engine exact where a z/p-value float would flake. One
    // stratum-partitioned rank window + a (stratum, value) equality
    // count over the same exchange; no pairwise join.
    QueryDef.sql("q179_mann_whitney",
      """WITH v AS (
        |  SELECT l_linestatus AS st, l_returnflag AS fl,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM lineitem
        |  WHERE l_returnflag IN ('R', 'N') AND l_partkey % 10 = 0),
        |r AS (
        |  SELECT st, fl,
        |    2 * rank() OVER (PARTITION BY st ORDER BY cents) +
        |      count(*) OVER (PARTITION BY st, cents) - 1 AS r2
        |  FROM v)
        |SELECT st,
        |  CAST(sum(CASE WHEN fl = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN fl = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN fl = 'R' THEN r2 ELSE 0 END)
        |    - sum(CASE WHEN fl = 'R' THEN 1 ELSE 0 END)
        |      * (sum(CASE WHEN fl = 'R' THEN 1 ELSE 0 END) + 1) AS BIGINT) AS two_u
        |FROM r GROUP BY 1 ORDER BY st""".stripMargin) { (s, d) =>
      graft.operators.RankStats.mannWhitney2U(
          lineitem(s, d).filter(col("l_partkey") % 10 === 0)
            .select(col("l_linestatus").as("st"), col("l_returnflag").as("fl"),
              (col("l_extendedprice").cast("decimal(18,2)") * 100)
                .cast("long").as("cents")),
          "st", "fl", "cents", flagA = "R", flagB = "N")
        .orderBy("st")
    },

    // Incremental JOIN-view maintenance (operators/Incremental
    // .joinDelta): ΔV = A⋈ΔB ∪ ΔA⋈B ∪ ΔA⋈ΔB — the three new quadrants
    // of (A∪ΔA)×(B∪ΔB); V ∪ ΔV ≡ a full rescan join EXACTLY. The
    // oracle IS the rescan (one plain join over the whole tables), so
    // a wrong/missing quadrant hash-mismatches. The join counterpart
    // of q100's aggregate-state merge; maintenance cost is
    // delta-driven (broadcast Δ against the base scan), never A⋈B
    // again.
    QueryDef.sql("q180_join_view_delta",
      """SELECT o_orderpriority AS grp, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY grp""".stripMargin) { (s, d) =>
      val os = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      val ls = lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
        col("l_quantity"), col("l_extendedprice"))
      val a  = os.filter(col("o_orderkey") % 10 =!= 0)
      val dA = os.filter(col("o_orderkey") % 10 === 0)
      val b  = ls.filter(col("l_quantity") =!= 1.0)
      val dB = ls.filter(col("l_quantity") === 1.0)
      val baseView = a.join(b, Seq("o_orderkey"))
      val delta = graft.operators.Incremental.joinDelta(a, dA, b, dB,
        Seq("o_orderkey"))
      baseView.unionByName(delta)
        .groupBy(col("o_orderpriority").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
            .as("cents"))
        .orderBy("grp")
    },

    // Frequent item TRIPLES (operators/Cooccur.frequentTriples): the
    // size-3 Apriori step above q96's pairs — per order basket, every
    // category combination i1 < i2 < i3 (categories = partkey mod 50,
    // the bounded item domain that keeps Σ C(|basket|,3) linear in
    // baskets), counted and support-thresholded. Both self-joins are
    // basket-key equi-joins with the ordering residual.
    QueryDef.sql("q182_frequent_triples",
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey % 50 AS it FROM lineitem),
        |tri AS (
        |  SELECT a.it AS i1, b.it AS i2, c.it AS i3
        |  FROM li a JOIN li b ON b.bk = a.bk AND a.it < b.it
        |            JOIN li c ON c.bk = a.bk AND b.it < c.it)
        |SELECT i1, i2, i3, count(*) AS support
        |FROM tri GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |ORDER BY support DESC, i1, i2, i3""".stripMargin) { (s, d) =>
      graft.operators.Cooccur.frequentTriples(
          lineitem(s, d).select(col("l_orderkey").as("bk"),
            (col("l_partkey") % 50).as("it")),
          "bk", "it", minSupport = 2L)
        .orderBy(col("support").desc, col("i1"), col("i2"), col("i3"))
    },

    // Exact Pearson-correlation components: per return flag, the six
    // moments (n, Σx, Σy, Σx², Σy², Σxy) that DETERMINE r — carried as
    // BIGINT / DECIMAL(38,0) so the aggregation is exact and
    // order-independent where a corr() float fold is engine-private.
    // The DECIMAL(38,0) second-moment trick extends the money-sum
    // discipline: cents² ≈ 10¹⁴ per row would overflow a BIGINT sum at
    // scale, but is exact in a 38-digit decimal accumulator (headroom
    // to ~10²⁴ rows). One map-side-combined agg, no window, no join.
    QueryDef.sql("q184_pearson_components",
      """SELECT l_returnflag AS grp, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sy,
        |  CAST(sum(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |    AS DECIMAL(38,0))) AS VARCHAR) AS sxx,
        |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS DECIMAL(38,0))) AS VARCHAR) AS syy,
        |  CAST(sum(CAST(CAST(l_quantity AS BIGINT)
        |    * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS DECIMAL(38,0))) AS VARCHAR) AS sxy
        |FROM lineitem GROUP BY 1 ORDER BY grp""".stripMargin) { (s, d) =>
      val x = col("l_quantity").cast("long")
      val y = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
      lineitem(s, d)
        .select(col("l_returnflag").as("grp"), x.as("x"), y.as("y"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          // wide accumulators OUTPUT as digit strings (driver-safe; see q155)
          sum((col("x") * col("x")).cast("decimal(38,0)"))
            .cast("string").as("sxx"),
          sum((col("y") * col("y")).cast("decimal(38,0)"))
            .cast("string").as("syy"),
          sum((col("x") * col("y")).cast("decimal(38,0)"))
            .cast("string").as("sxy"))
        .orderBy("grp")
    },

    // Market concentration (Herfindahl–Hirschman) components: per
    // nation, the supplier revenue total and Σ(per-supplier cents)² —
    // HHI = Σ share² = sq_sum / total² determined exactly by the pair;
    // the share squares use the same DECIMAL(38,0) accumulator as
    // q184. Two chained aggs on the same key + a broadcast dim chain.
    QueryDef.sql("q185_hhi",
      """WITH sup AS (
        |  SELECT n_name, l_suppkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |  GROUP BY 1, 2)
        |SELECT n_name, count(*) AS n_suppliers,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  CAST(sum(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)))
        |    AS VARCHAR) AS sq_cents
        |FROM sup GROUP BY 1 ORDER BY n_name""".stripMargin) { (s, d) =>
      val sup = lineitem(s, d)
        .join(supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(nation(s, d)), col("n_nationkey") === col("s_nationkey"))
        .groupBy("n_name", "l_suppkey")
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
      // decimal cast BEFORE the multiply: a per-supplier cents total is
      // itself an aggregate, so its square can exceed BIGINT at scale
      // (ANSI would throw); (19,0)×(19,0) → DECIMAL(38,0) on both engines
      sup.groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("cents")).as("total_cents"),
          // decimal accumulator OUTPUT as digit string (driver-safe; see q155)
          sum(col("cents").cast("decimal(19,0)") *
            col("cents").cast("decimal(19,0)"))
            .cast("string").as("sq_cents"))
        .orderBy("n_name")
    },

    // Top-N + OTHER rollup — the standard reporting shape "top 3
    // customers per nation by revenue, everyone else as one OTHER
    // row": nation-partitioned revenue rank (ties by custkey), then a
    // re-aggregation over the CASE label. One exchange carries both
    // the window and the final group-by; DECIMAL-exact cents.
    QueryDef.sql("q186_topn_other",
      """WITH cust AS (
        |  SELECT n_name, c_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT n_name, c_custkey, cents,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY cents DESC, c_custkey) AS rn
        |  FROM cust)
        |SELECT n_name,
        |  CASE WHEN rn <= 3 THEN CAST(c_custkey AS VARCHAR) ELSE 'OTHER' END AS who,
        |  CAST(sum(cents) AS BIGINT) AS cents, count(*) AS n_members
        |FROM r GROUP BY 1, 2 ORDER BY n_name, cents DESC, who""".stripMargin) { (s, d) =>
      val cust = orders(s, d)
        .join(customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .groupBy("n_name", "c_custkey")
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("cents"))
      cust
        .withColumn("rn", row_number().over(Window.partitionBy("n_name")
          .orderBy(col("cents").desc, col("c_custkey"))))
        .groupBy(col("n_name"),
          when(col("rn") <= 3, col("c_custkey").cast("string"))
            .otherwise("OTHER").as("who"))
        .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n_members"))
        .orderBy(col("n_name"), col("cents").desc, col("who"))
    },

    // Power-of-2 (log2) histogram — the magnitude-band profile used
    // for latency/size distributions, with the band computed as
    // length(bin(x)) = ⌊log2 x⌋ + 1: INTEGER-exact on both engines
    // (both render unpadded binary), where float log2 would misplace
    // values within an ulp of a power-of-2 boundary (the round()
    // ground-rule class). One map-side-combined agg.
    QueryDef.sql("q187_log2_histogram",
      """WITH c AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |SELECT grp, CAST(length(bin(cents)) AS BIGINT) AS log2_band,
        |  count(*) AS n, min(cents) AS min_c, max(cents) AS max_c
        |FROM c GROUP BY 1, 2 ORDER BY grp, log2_band""".stripMargin) { (s, d) =>
      orders(s, d)
        .select(col("o_orderpriority").as("grp"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
        .groupBy(col("grp"), length(bin(col("cents"))).cast("long").as("log2_band"))
        .agg(count(lit(1)).as("n"), min(col("cents")).as("min_c"),
          max(col("cents")).as("max_c"))
        .orderBy("grp", "log2_band")
    },

    // Q–Q decile comparison: the two return classes' price
    // distributions side by side at matching discrete-rank deciles
    // (Robust.equiDepthBounds for both groups in ONE pass, then a
    // 10-row self-join on the decile index) — the integer-exact
    // distribution-shift visual, complementing q179's rank-sum test
    // statistic and q178's bucket-count drift.
    QueryDef.sql("q188_qq_deciles",
      """WITH e AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    l_orderkey * 8 + l_linenumber AS rid
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |r AS (
        |  SELECT grp, cents,
        |    row_number() OVER (PARTITION BY grp ORDER BY cents, rid) AS rn
        |  FROM e),
        |c AS (SELECT grp, count(*) AS n FROM e GROUP BY 1),
        |g AS (
        |  SELECT c.grp, CAST(j AS INT) AS j, (j * n + 9) // 10 AS rn
        |  FROM c, generate_series(1, 10) AS t(j)),
        |b AS (
        |  SELECT r.grp, g.j, r.cents AS bound
        |  FROM r JOIN g ON g.grp = r.grp AND g.rn = r.rn)
        |SELECT a.j, a.bound AS bound_r, o.bound AS bound_n
        |FROM b a JOIN b o ON a.j = o.j AND a.grp = 'R' AND o.grp = 'N'
        |ORDER BY a.j""".stripMargin) { (s, d) =>
      val bounds = graft.operators.Robust.equiDepthBounds(
        lineitem(s, d).filter(col("l_returnflag").isin("R", "N"))
          .select(col("l_returnflag").as("grp"),
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long").as("cents"),
            (col("l_orderkey") * 8 + col("l_linenumber")).as("rid")),
        "grp", "cents", "rid", k = 10)
        .persist() // 20-row frame, two filter consumers — rank pass runs once
      bounds.filter(col("grp") === "R")
        .select(col("j"), col("bound").as("bound_r"))
        .join(bounds.filter(col("grp") === "N")
          .select(col("j").as("j2"), col("bound").as("bound_n")),
          col("j") === col("j2"))
        .select("j", "bound_r", "bound_n")
        .orderBy("j")
    },

    // Order fill-rate audit — the reconciliation classic "did every
    // line ship on time": per order, lines shipped within 30 days of
    // order date vs total lines → FULL / PARTIAL / NONE classes,
    // counted per priority. One join + two chained aggs, all-integer
    // CASE arithmetic; the class label is determined by exact counts.
    QueryDef.sql("q191_fill_rate",
      """WITH l AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) <= 30 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_fast
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT o_orderpriority AS grp,
        |  CASE WHEN n_fast = n_lines THEN 'FULL'
        |       WHEN n_fast = 0 THEN 'NONE' ELSE 'PARTIAL' END AS fill,
        |  count(*) AS n_orders, CAST(sum(n_lines) AS BIGINT) AS n_lines
        |FROM l GROUP BY 1, 2 ORDER BY grp, fill""".stripMargin) { (s, d) =>
      val perOrder = orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(datediff(to_date(col("l_shipdate")),
            to_date(col("o_orderdate"))) <= 30, 1L).otherwise(0L)).as("n_fast"))
      perOrder
        .groupBy(col("o_orderpriority").as("grp"),
          when(col("n_fast") === col("n_lines"), "FULL")
            .when(col("n_fast") === 0L, "NONE")
            .otherwise("PARTIAL").as("fill"))
        .agg(count(lit(1)).as("n_orders"), sum(col("n_lines")).as("n_lines"))
        .orderBy("grp", "fill")
    },

    // Median of medians (Robust.groupMedian twice): per region, the
    // discrete lower median of its nations' customer-revenue medians —
    // the two-level robust location summary that a single global
    // median can't give (and floats can't hash). Both levels are the
    // same rank-window operator; level-2's input is 25 rows.
    QueryDef.sql("q194_median_of_medians",
      """WITH cust AS (
        |  SELECT r_name, n_name, c_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n_regionkey
        |  GROUP BY 1, 2, 3),
        |l1 AS (
        |  SELECT r_name, n_name, cents AS med
        |  FROM (SELECT r_name, n_name, cents,
        |          row_number() OVER (PARTITION BY n_name
        |            ORDER BY cents, c_custkey) AS rn,
        |          count(*) OVER (PARTITION BY n_name) AS n
        |        FROM cust) x
        |  WHERE rn = (n + 1) // 2),
        |l2 AS (
        |  SELECT r_name, med,
        |    row_number() OVER (PARTITION BY r_name ORDER BY med, n_name) AS rn,
        |    count(*) OVER (PARTITION BY r_name) AS n
        |  FROM l1)
        |SELECT r_name, CAST(n AS BIGINT) AS n_nations, med AS med_of_med
        |FROM l2 WHERE rn = (n + 1) // 2 ORDER BY r_name""".stripMargin) { (s, d) =>
      val cust = orders(s, d)
        .join(customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .join(broadcast(region(s, d)), col("r_regionkey") === col("n_regionkey"))
        .groupBy("r_name", "n_name", "c_custkey")
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("cents"))
      // level 1 keyed by a composite so the region survives the operator
      val l1 = graft.operators.Robust.groupMedian(
          cust.withColumn("_g", concat_ws("|", col("r_name"), col("n_name"))),
          "_g", "cents", "c_custkey")
        .select(split(col("_g"), "\\|").getItem(0).as("r_name"),
          split(col("_g"), "\\|").getItem(1).as("n_name"), col("med"))
      graft.operators.Robust.groupMedian(l1, "r_name", "med", "n_name")
        .select(col("r_name"), col("n").as("n_nations"),
          col("med").as("med_of_med"))
        .orderBy("r_name")
    },

    // Ties at the cut — the rank() vs row_number() semantic the naive
    // top-k silently drops: per nation, the 5th-place revenue boundary
    // and how many customers RANK within 5 (ties can push it past 5).
    // Both windows (rank, row_number) ride one nation exchange; the
    // ranked frame is persisted (boundary + count consumers).
    QueryDef.sql("q195_topk_ties",
      """WITH cust AS (
        |  SELECT n_name, c_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT n_name, cents,
        |    rank() OVER (PARTITION BY n_name ORDER BY cents DESC) AS rk,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY cents DESC, c_custkey) AS rn
        |  FROM cust),
        |b AS (SELECT n_name, cents AS boundary FROM r WHERE rn = 5)
        |SELECT r.n_name, b.boundary,
        |  CAST(sum(CASE WHEN rk <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rank_leq_k
        |FROM r JOIN b ON b.n_name = r.n_name
        |GROUP BY 1, 2 ORDER BY r.n_name""".stripMargin) { (s, d) =>
      val byRev = Window.partitionBy("n_name").orderBy(col("cents").desc)
      val byRevId = Window.partitionBy("n_name")
        .orderBy(col("cents").desc, col("c_custkey"))
      val r = orders(s, d)
        .join(customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .groupBy("n_name", "c_custkey")
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("cents"))
        .withColumn("rk", rank().over(byRev))
        .withColumn("rn", row_number().over(byRevId))
        .persist() // boundary + count consumers share the ranked pass
      val b = r.filter(col("rn") === 5)
        .select(col("n_name"), col("cents").as("boundary"))
      r.join(broadcast(b), "n_name")
        .groupBy("n_name", "boundary")
        .agg(sum(when(col("rk") <= 5, 1L).otherwise(0L)).as("n_rank_leq_k"))
        .orderBy("n_name")
    },

    // Churn accounting: per supplier and calendar-adjacent month pair,
    // how many suppliers were RETAINED / CHURNED / NEW — the set
    // algebra of activity across months, as one full-outer self-join
    // of the distinct (supplier, month) frame on (supplier, m = m'+1)
    // (the q178 calendar-adjacency machinery applied to membership
    // instead of bucket counts). All-integer.
    QueryDef.sql("q197_churn_accounting",
      """WITH act AS (
        |  SELECT DISTINCT l_suppkey AS s,
        |    (year(l_shipdate) * 12 + month(l_shipdate) - 1) AS m
        |  FROM lineitem),
        |j AS (
        |  SELECT coalesce(cur.m, prev.m + 1) AS m,
        |    CASE WHEN cur.s IS NOT NULL AND prev.s IS NOT NULL THEN 'RETAINED'
        |         WHEN cur.s IS NOT NULL THEN 'NEW' ELSE 'CHURNED' END AS status
        |  FROM act cur FULL OUTER JOIN act prev
        |    ON cur.s = prev.s AND cur.m = prev.m + 1)
        |SELECT m, status, count(*) AS n
        |FROM j GROUP BY 1, 2 ORDER BY m, status""".stripMargin) { (s, d) =>
      // Statuses generate ROW-LOCALLY from each supplier's month set
      // (r13 optimization round, guide §2.4): ONE supplier-keyed
      // collect_set aggregation — the set absorbs the old distinct(),
      // its buffer is calendar-bounded (≤ #months in the dataset, the
      // same bound that sized the old join's per-key fan-in) — then
      // per month m: RETAINED iff m−1 ∈ set else NEW, plus CHURNED at
      // m+1 iff m+1 ∉ set. Provably the full-outer adjacency join's
      // row multiset (cur-matched / cur-unmatched / prev-unmatched
      // respectively); the old shape paid the distinct exchange, a
      // persist materialization and a two-sided (s, m)-keyed
      // full-outer SMJ for it. Lambdas capture only the agg-barrier
      // output `ms` (captured-array HOF rule).
      val acts = lineitem(s, d)
        .select(col("l_suppkey").as("s"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
            .cast("long").as("m")) // DuckDB year() is BIGINT — match it
        .groupBy("s").agg(collect_set(col("m")).as("ms"))
      acts
        .select(explode(concat(
          transform(col("ms"), m => struct(m.as("m"),
            when(array_contains(col("ms"), m - 1), "RETAINED")
              .otherwise("NEW").as("status"))),
          transform(filter(col("ms"),
              m => !array_contains(col("ms"), m + 1)),
            m => struct((m + 1).as("m"),
              lit("CHURNED").as("status"))))).as("e"))
        .select(col("e.m").as("m"), col("e.status").as("status"))
        .groupBy("m", "status").agg(count(lit(1)).as("n"))
        .orderBy("m", "status")
    },

    // Mergeable quantile sketch (operators/QDigestAgg): per return
    // flag, the p25/p50/p75/p95 of l_quantity from ONE q-digest
    // aggregation buffer — the summary that merges across partitions /
    // micro-batches / days without re-reading data (the missing member
    // of the KMV/CountMin/Misra–Gries/top-k family). Exact regime
    // here: l_quantity has ≤50 distinct values < 3k nodes, so the
    // buffer is the exact histogram, merge is map-sum
    // (order-independent), and the oracle recomputes the identical
    // integer ranks — rank p‰ = (n·p + 999) div 1000, no float ceil.
    QueryDef.sql("q198_quantile_sketch",
      """WITH vals AS (
        |  SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS v,
        |    count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n FROM vals GROUP BY 1),
        |cum AS (
        |  SELECT grp, v,
        |    CAST(sum(c) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM vals)
        |SELECT cum.grp AS grp, n,
        |  CAST(min(CASE WHEN cum >= (n * 250 + 999) // 1000 THEN v END) AS BIGINT) AS q25,
        |  CAST(min(CASE WHEN cum >= (n * 500 + 999) // 1000 THEN v END) AS BIGINT) AS q50,
        |  CAST(min(CASE WHEN cum >= (n * 750 + 999) // 1000 THEN v END) AS BIGINT) AS q75,
        |  CAST(min(CASE WHEN cum >= (n * 950 + 999) // 1000 THEN v END) AS BIGINT) AS q95
        |FROM cum JOIN tot ON tot.grp = cum.grp
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag").as("grp"))
        .agg(graft.operators.QDigestAgg.qdigest(
          col("l_quantity").cast("long"), k = 64, levels = 8,
          probesPerMille = Seq(250, 500, 750, 950)).as("sk"))
        .select(col("grp"), col("sk.n").as("n"),
          element_at(col("sk.qs"), 1).as("q25"),
          element_at(col("sk.qs"), 2).as("q50"),
          element_at(col("sk.qs"), 3).as("q75"),
          element_at(col("sk.qs"), 4).as("q95"))
        .orderBy("grp")
    },

    // CUSUM changepoint (operators/Changepoint): per nation, the order
    // day where cumulative revenue deviates most from uniform growth —
    // max |n·S_i − i·S_n| cross-multiplied all-integer (no float i/n),
    // products DECIMAL(19,0)² (q185 pre-cast rule), peak stat exits as
    // a digit string. One nation-keyed exchange carries all four window
    // frames + the peak filter.
    QueryDef.sql("q212_cusum_changepoint",
      """WITH cn AS (
        |  SELECT c_custkey, n_name
        |  FROM customer JOIN nation ON n_nationkey = c_nationkey),
        |daily AS (
        |  SELECT n_name AS grp, o_orderdate AS ord,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM orders JOIN cn ON c_custkey = o_custkey
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT grp, ord,
        |    row_number() OVER (PARTITION BY grp ORDER BY ord) AS i,
        |    CAST(sum(v) OVER (PARTITION BY grp ORDER BY ord
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
        |    count(*) OVER (PARTITION BY grp) AS n,
        |    CAST(sum(v) OVER (PARTITION BY grp) AS BIGINT) AS tot
        |  FROM daily),
        |st AS (
        |  SELECT grp, ord, n, tot,
        |    abs(CAST(n AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))
        |      - CAST(i AS DECIMAL(19,0)) * CAST(tot AS DECIMAL(19,0))) AS stat
        |  FROM w),
        |mx AS (SELECT grp, max(stat) AS m FROM st GROUP BY 1)
        |SELECT st.grp AS nation, CAST(max(st.n) AS BIGINT) AS n_days,
        |  max(st.tot) AS total_cents, min(st.ord) AS peak_day,
        |  CAST(max(st.stat) AS VARCHAR) AS peak_stat
        |FROM st JOIN mx ON st.grp = mx.grp AND st.stat = mx.m
        |GROUP BY 1 ORDER BY nation""".stripMargin) { (s, d) =>
      val cn = customer(s, d)
        .join(nation(s, d), col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val daily = orders(s, d)
        .join(broadcast(cn), col("c_custkey") === col("o_custkey"))
        .groupBy(col("n_name"), col("o_orderdate"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
      graft.operators.Changepoint.cusumArgmax(daily, "n_name", "o_orderdate", "cents")
        .select(col("grp").as("nation"), col("n_points").as("n_days"),
          col("total").as("total_cents"), col("peak_ord").as("peak_day"),
          col("peak_stat"))
        .orderBy("nation")
    },

    // Per-group discrete quartile bands (Robust.quantileBands): the
    // p25/p50/p75 of order value cents per priority as ACTUAL data
    // values at ranks ⌈i·n/4⌉ — the exact companion to q198's q-digest
    // approximation and the multi-band generalization of q126's
    // median/MAD. Oracle = DuckDB's native percentile_disc (verified
    // rank-identical before writing: first value with cum. dist ≥ q).
    QueryDef.sql("q258_quantile_bands",
      """WITH v AS (SELECT o_orderpriority AS prio,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders)
        |SELECT prio, CAST(count(*) AS BIGINT) AS n,
        |  CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v) AS BIGINT) AS q25,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT) AS q50,
        |  CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY v) AS BIGINT) AS q75
        |FROM v GROUP BY 1 ORDER BY prio""".stripMargin) { (s, d) =>
      val cents = orders(s, d).select(col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("v"),
        col("o_orderkey"))
      graft.operators.Robust
        .quantileBands(cents, "o_orderpriority", "v", "o_orderkey")
        .select(col("o_orderpriority").as("prio"), col("n"),
          col("q25"), col("q50"), col("q75"))
        .orderBy("prio")
    },

    // Declarative data-quality constraint audit (operators/Constraints
    // — the Deequ shape): 4 lineitem row rules in ONE aggregation pass
    // + 2 orders row rules + key uniqueness + referential integrity,
    // unioned into a (rule, n_rows, violations, pass) report — the
    // pre-publish snapshot gate. One rule (quantity ≤ 25) fails by
    // construction so nonzero counting is exercised.
    QueryDef.sql("q266_constraint_audit",
      """WITH li AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
        |    CAST(sum(CASE WHEN l_discount < CAST(0 AS DOUBLE)
        |      OR l_discount > CAST(0.1 AS DOUBLE) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_disc,
        |    CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS v_q25,
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_ship
        |  FROM lineitem),
        |o AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_price,
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uniq
        |  FROM orders),
        |fk AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey),
        |rep AS (
        |  SELECT 'l_quantity_in_1_50' AS rule, n, v_qty AS violations FROM li
        |  UNION ALL SELECT 'l_discount_in_0_0.1', n, v_disc FROM li
        |  UNION ALL SELECT 'l_quantity_le_25', n, v_q25 FROM li
        |  UNION ALL SELECT 'l_shipdate_not_null', n, v_ship FROM li
        |  UNION ALL SELECT 'o_totalprice_positive', n, v_price FROM o
        |  UNION ALL SELECT 'o_orderstatus_domain', n, v_status FROM o
        |  UNION ALL SELECT 'o_orderkey_unique', n, v_uniq FROM o
        |  UNION ALL SELECT 'lineitem_orderkey_fk', n, v FROM fk)
        |SELECT rule, n AS n_rows, violations, violations = 0 AS pass
        |FROM rep ORDER BY rule""".stripMargin) { (s, d) =>
      val li = lineitem(s, d)
      val o = orders(s, d)
      graft.operators.Constraints.rowAudit(li, Seq(
          ("l_quantity_in_1_50",
            col("l_quantity") < 1 || col("l_quantity") > 50),
          ("l_discount_in_0_0.1",
            col("l_discount") < 0d || col("l_discount") > 0.1d),
          ("l_quantity_le_25", col("l_quantity") > 25),
          ("l_shipdate_not_null", col("l_shipdate").isNull)))
        .unionByName(graft.operators.Constraints.rowAudit(o, Seq(
          ("o_totalprice_positive", col("o_totalprice") <= 0),
          ("o_orderstatus_domain",
            !col("o_orderstatus").isin("O", "F", "P")))))
        .unionByName(graft.operators.Constraints.uniqueAudit(
          o, "o_orderkey_unique", Seq("o_orderkey")))
        .unionByName(graft.operators.Constraints.fkAudit(
          li, "l_orderkey", o, "o_orderkey", "lineitem_orderkey_fk"))
        .orderBy("rule")
    },

    // Theil–Sen robust revenue trend per nation (Robust.theilSenScaled):
    // lower-median pairwise slope of MONTHLY cents (pairs bounded by
    // months², calendar-granular by contract), slopes shift-scaled to
    // keep every div operand non-negative (the q219/q224 div-bridge
    // rule) and ordered at permille-of-cent resolution — the
    // outlier-resistant trend next to q212's CUSUM changepoint.
    QueryDef.sql("q268_theil_sen_trend",
      """WITH monthly AS (
        |  SELECT n.n_name AS g,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS oi,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS vi
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.g, a.oi, b.oi AS oj, b.vi - a.vi AS dv, b.oi - a.oi AS dd
        |  FROM monthly a JOIN monthly b ON a.g = b.g AND b.oi > a.oi),
        |sc AS (
        |  SELECT g, oi, oj, dv, dd,
        |    ((dv + 1000000000000 * dd) * 1000) // dd AS sc
        |  FROM pairs),
        |rk AS (
        |  SELECT g, dv, dd, sc,
        |    row_number() OVER (PARTITION BY g ORDER BY sc, dv, dd, oi, oj)
        |      AS rn,
        |    count(*) OVER (PARTITION BY g) AS np
        |  FROM sc)
        |SELECT g AS nation, CAST(np AS BIGINT) AS n_pairs,
        |  CAST(dv AS BIGINT) AS dv, CAST(dd AS BIGINT) AS dd,
        |  CAST(sc - 1000000000000000 AS BIGINT) AS slope_scaled
        |FROM rk WHERE rn = (np + 1) // 2
        |ORDER BY nation""".stripMargin) { (s, d) =>
      val monthly = orders(s, d)
        .join(broadcast(customer(s, d)
          .join(nation(s, d), col("n_nationkey") === col("c_nationkey"))
          .select(col("c_custkey"), col("n_name"))),
          col("c_custkey") === col("o_custkey"))
        .groupBy(col("n_name"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("mi"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
      graft.operators.Robust.theilSenScaled(monthly, "n_name", "mi",
          "cents", scale = 1000L, shift = 1000000000000L)
        .select(col("n_name").as("nation"), col("n_pairs"), col("dv"),
          col("dd"), col("slope_scaled"))
        .orderBy("nation")
    },

    // Exact GLOBAL order statistics WITHOUT a global sort
    // (operators/Selection): histogram pass + targeted bucket refine —
    // the distributed-selection pattern, the exact counterpart of
    // q194's median-of-medians approximation and the q65/q198 sketch
    // quantiles. Ranks are the explicit (n+1) div 2 / (9n+9) div 10
    // picks (q285 convention); the oracle IS the global sort the
    // engine refuses to do — a genuinely different formulation.
    QueryDef.sql("q292_global_selection",
      """WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS c FROM lineitem),
        |r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn,
        |    count(*) OVER () AS n FROM v)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN c END) AS BIGINT) AS p50,
        |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN c END) AS BIGINT)
        |    AS p90,
        |  CAST(max(c) AS BIGINT) AS vmax
        |FROM r ORDER BY n""".stripMargin) { (s, d) =>
      graft.operators.Selection.globalProfile(s,
          lineitem(s, d).select(
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long").as("cents")),
          "cents")
        .orderBy("n")
    },

    // Level-1 FD discovery (Profile.fdDiscovery) over four orders
    // columns: which column determines which — the schema-INFERENCE
    // pass (the declared-constraint audits q122/q266 VALIDATE; q148
    // lists one FD's violators; this searches the 12-pair lattice
    // level). The key's three FDs hold, all nine others fail with
    // exact violator counts. Oracle = independent per-pair scalar
    // subqueries over DISTINCT combos (the engine runs per-determinant
    // multi-distinct aggs — different machinery).
    QueryDef.sql("q293_fd_discovery", {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      val parts = for { det <- cols; dep <- cols if dep != det } yield
        s"""SELECT '$det' AS det, '$dep' AS dep,
           |  CAST((SELECT count(DISTINCT $det) FROM orders) AS BIGINT)
           |    AS n_det_values,
           |  CAST((SELECT count(*) FROM (
           |    SELECT $det FROM (SELECT DISTINCT $det, $dep FROM orders)
           |    GROUP BY 1 HAVING count(*) > 1)) AS BIGINT)
           |    AS n_violating_dets""".stripMargin
      "SELECT det, dep, n_det_values, n_violating_dets, " +
        "CAST(CASE WHEN n_violating_dets = 0 THEN 1 ELSE 0 END AS BIGINT) " +
        "AS holds FROM (" + parts.mkString(" UNION ALL ") +
        ") ORDER BY det, dep"
    }) { (s, d) =>
      graft.operators.Profile.fdDiscovery(orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    },

    // Kruskal–Wallis H components (RankStats.kruskalWallis): the
    // k-sample extension of q179's Mann–Whitney — do the five order
    // priorities draw the same totalprice distribution, tested per
    // region. Midranks carried DOUBLED (pure integers), tie term
    // Σ(t³−t) as a DECIMAL(38,0) digit string (t³ overflows BIGINT at
    // corpus-scale tie groups); H itself is float assembly left to the
    // consumer per the avg-class rule. Region-partitioned rank windows
    // only — never global.
    QueryDef.sql("q296_kruskal_wallis",
      """WITH v AS (
        |  SELECT r_name AS region, o_orderpriority AS priority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n_regionkey
        |  WHERE o_totalprice IS NOT NULL),
        |r AS (
        |  SELECT region, priority,
        |    2 * rank() OVER (PARTITION BY region ORDER BY x)
        |      + count(*) OVER (PARTITION BY region, x) - 1 AS r2
        |  FROM v),
        |ties AS (
        |  SELECT region, CAST(sum(t * t * t - t) AS VARCHAR) AS tie_cubes
        |  FROM (SELECT region, x, count(*) AS t FROM v GROUP BY 1, 2)
        |  GROUP BY 1),
        |g AS (
        |  SELECT region, priority, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(r2) AS BIGINT) AS r2_sum
        |  FROM r GROUP BY 1, 2)
        |SELECT g.region AS region, g.priority AS priority, g.n_g, g.r2_sum,
        |  CAST(sum(g.n_g) OVER (PARTITION BY g.region) AS BIGINT) AS n_tot,
        |  ties.tie_cubes
        |FROM g JOIN ties USING (region)
        |ORDER BY region, priority""".stripMargin) { (s, d) =>
      val v = orders(s, d)
        .join(customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .join(broadcast(region(s, d)), col("r_regionkey") === col("n_regionkey"))
        .select(col("r_name").as("region"),
          col("o_orderpriority").as("priority"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("x"))
      graft.operators.RankStats.kruskalWallis(v, "region", "priority", "x")
        .select(col("region"), col("priority"), col("n_g"), col("r2_sum"),
          col("n_tot"), col("tie_cubes"))
        .orderBy("region", "priority")
    },

    // Neyman-allocated stratified sampling (Sampling.neymanSelect):
    // 100 sample slots per region split across its nations ∝ N_h·σ_h
    // of account-balance cents (the variance-optimal allocation),
    // σ-weight = ⌊√(N_h·Σx²−(Σx)²)⌋ assembled in DECIMAL(38,0) and
    // floored after the IEEE sqrt (bit-identical cross-engine, q245
    // rule), seats via q175's Hamilton, quotas filled in md5(id) hash
    // order (q247). Σ alloc = 100 per region exactly; the oracle
    // re-derives allocation AND selection independently.
    QueryDef.sql("q298_neyman_allocation",
      """WITH c AS (
        |  SELECT r_name AS region, n_name AS nation, c_custkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM customer JOIN nation ON n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n_regionkey),
        |st AS (
        |  SELECT region, nation, CAST(count(*) AS BIGINT) AS n_h,
        |    CAST(floor(sqrt(CAST(count(*) * sum(CAST(x AS HUGEINT) * x)
        |      - sum(x) * sum(x) AS DOUBLE))) AS BIGINT) AS w
        |  FROM c GROUP BY 1, 2),
        |t AS (
        |  SELECT region, nation, n_h, w,
        |    CAST(sum(w) OVER (PARTITION BY region) AS BIGINT) AS tot,
        |    100 * w AS num
        |  FROM st),
        |b AS (SELECT region, nation, n_h, w, num // tot AS base,
        |        num % tot AS rem FROM t),
        |r AS (
        |  SELECT region, nation, n_h, w, base,
        |    row_number() OVER (PARTITION BY region
        |      ORDER BY rem DESC, nation) AS rn,
        |    CAST(sum(base) OVER (PARTITION BY region) AS BIGINT) AS fsum
        |  FROM b),
        |alloc AS (
        |  SELECT region, nation, n_h, w,
        |    CAST(base + (CASE WHEN rn <= 100 - fsum THEN 1 ELSE 0 END)
        |      AS BIGINT) AS alloc
        |  FROM r),
        |sel AS (
        |  SELECT region, nation, c_custkey,
        |    row_number() OVER (PARTITION BY region, nation
        |      ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS srn
        |  FROM c)
        |SELECT a.region AS region, a.nation AS nation, a.n_h, a.w, a.alloc,
        |  CAST(sum(CASE WHEN s.srn <= a.alloc THEN 1 ELSE 0 END) AS BIGINT)
        |    AS sel_n,
        |  CAST(sum(CASE WHEN s.srn <= a.alloc THEN s.c_custkey ELSE 0 END)
        |    AS BIGINT) AS sel_idsum
        |FROM alloc a JOIN sel s ON a.region = s.region AND a.nation = s.nation
        |GROUP BY a.region, a.nation, a.n_h, a.w, a.alloc
        |ORDER BY region, nation""".stripMargin) { (s, d) =>
      val pop = customer(s, d)
        .join(broadcast(nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .join(broadcast(region(s, d)), col("r_regionkey") === col("n_regionkey"))
        .select(col("r_name").as("region"), col("n_name").as("nation"),
          col("c_custkey"),
          (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("x"))
      graft.operators.Sampling.neymanSelect(pop, "region", "nation",
          "c_custkey", "x", seatsPerGrp = 100)
        .orderBy("region", "nation")
    },

    // Candidate-KEY discovery (Profile.keyDiscovery): the uniqueness
    // lattice at levels 1–2 over five orders columns — the third leg
    // of the schema-inference suite (q293 searches FDs, q122/q266
    // validate declared constraints, this searches KEYS). Engine = ONE
    // multi-distinct Expand agg (5 + 10 distinct ops, single scan);
    // oracle = 15 independent scalar subqueries. is_minimal marks pair
    // keys neither of whose members already keys the table.
    QueryDef.sql("q303_key_discovery", {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_orderdate")
      val n = "(SELECT count(*) FROM orders)"
      def d1(c: String) = s"(SELECT count(DISTINCT $c) FROM orders)"
      val singles = cols.map { c =>
        s"""SELECT '$c' AS key_cols, CAST(1 AS BIGINT) AS level,
           |  CAST(${d1(c)} AS BIGINT) AS n_distinct,
           |  CAST($n AS BIGINT) AS n_rows,
           |  CAST(CASE WHEN ${d1(c)} = $n THEN 1 ELSE 0 END AS BIGINT)
           |    AS is_key,
           |  CAST(CASE WHEN ${d1(c)} = $n THEN 1 ELSE 0 END AS BIGINT)
           |    AS is_minimal""".stripMargin
      }
      val pairSel = for {
        i <- cols.indices; j <- (i + 1) until cols.size
      } yield {
        val (a, b) = (cols(i), cols(j))
        val d2 = s"(SELECT count(DISTINCT ($a, $b)) FROM orders)"
        s"""SELECT '$a+$b', CAST(2 AS BIGINT), CAST($d2 AS BIGINT),
           |  CAST($n AS BIGINT),
           |  CAST(CASE WHEN $d2 = $n THEN 1 ELSE 0 END AS BIGINT),
           |  CAST(CASE WHEN $d2 = $n AND ${d1(a)} <> $n AND ${d1(b)} <> $n
           |    THEN 1 ELSE 0 END AS BIGINT)""".stripMargin
      }
      "SELECT * FROM (" + (singles ++ pairSel).mkString(" UNION ALL ") +
        ") ORDER BY level, key_cols"
    }) { (s, d) =>
      graft.operators.Profile.keyDiscovery(orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_orderdate"))
    },

    // Exact OLS trend components per nation (the least-squares
    // companion of q268's Theil–Sen): over monthly revenue cents,
    // slope = (n·Σxy − Σx·Σy) / (n·Σxx − (Σx)²) — both sides emitted
    // as exact DECIMAL(38,0) digit strings (q184 discipline: products
    // of aggregates exceed BIGINT at scale), the float division left
    // to the consumer per the avg-class rule. One groupBy + one
    // nation-level agg; x is the month index, so Σxy needs the
    // decimal pre-cast BEFORE the multiply.
    QueryDef.sql("q306_ols_components",
      """WITH monthly AS (
        |  SELECT n.n_name AS nation,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS x,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1, 2)
        |SELECT nation, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS VARCHAR) AS sxy,
        |  CAST(sum(x * x) AS VARCHAR) AS sxx,
        |  CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS VARCHAR)
        |    AS slope_num,
        |  CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS VARCHAR)
        |    AS slope_den
        |FROM monthly GROUP BY nation ORDER BY nation""".stripMargin) { (s, d) =>
      val monthly = orders(s, d)
        .join(broadcast(customer(s, d)
          .join(nation(s, d), col("n_nationkey") === col("c_nationkey"))
          .select(col("c_custkey"), col("n_name"))),
          col("c_custkey") === col("o_custkey"))
        .groupBy(col("n_name").as("nation"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("x"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("y"))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      monthly.groupBy("nation")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(dec(col("x")) * col("y")).as("_sxy"),
          sum(dec(col("x")) * col("x")).as("_sxx"))
        .select(col("nation"), col("n"), col("sx"), col("sy"),
          col("_sxy").cast("string").as("sxy"),
          col("_sxx").cast("string").as("sxx"),
          (col("n") * col("_sxy") - dec(col("sx")) * col("sy"))
            .cast("string").as("slope_num"),
          (col("n") * col("_sxx") - dec(col("sx")) * col("sx"))
            .cast("string").as("slope_den"))
        .orderBy("nation")
    }
  )
}
