package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The declared-SQL surface: the same semantics as the DataFrame-built
  * queries, expressed through `spark.sql` — including Spark 4.x native
  * `WITH RECURSIVE` for the dimension build (the reference's own
  * formulation, aggregation_example.sql:88-166). h5's oracle is
  * byte-for-byte the h1 oracle: both engines run a recursive CTE and
  * must agree.
  */
object SqlQueries {

  /** Spark-dialect twin of HierarchyQueries.nodesSql (STRING casts;
    * everything else is shared ANSI SQL).
    */
  private val sparkDimSql =
    """WITH RECURSIVE nodes AS (
      |  SELECT CAST('ROOT' AS STRING) AS node_natural_key, CAST('All Regions' AS STRING) AS node_name, CAST('Total' AS STRING) AS level_name, CAST(NULL AS STRING) AS parent_natural_key
      |  UNION ALL
      |  SELECT 'R' || lpad(CAST(r_regionkey AS STRING), 2, '0'), r_name, 'Region', 'ROOT' FROM region
      |  UNION ALL
      |  SELECT 'N' || lpad(CAST(n_nationkey AS STRING), 3, '0'), n_name, 'Nation', 'R' || lpad(CAST(n_regionkey AS STRING), 2, '0') FROM nation
      |), nodes_temp AS (
      |  SELECT n.*,
      |         (n.parent_natural_key IS NULL) AS is_root,
      |         (n.node_natural_key NOT IN (SELECT parent_natural_key FROM nodes WHERE parent_natural_key IS NOT NULL)) AS is_leaf
      |  FROM nodes n
      |), walk AS (
      |  SELECT node_natural_key, node_name, level_name, parent_natural_key, is_root, is_leaf,
      |         1 AS level_number,
      |         lpad(node_natural_key, 12, '0') AS path_key,
      |         node_natural_key AS level_1_node_natural_key, node_name AS level_1_node_name, level_name AS level_1_level_name,
      |         CAST(NULL AS STRING) AS level_2_node_natural_key, CAST(NULL AS STRING) AS level_2_node_name, CAST(NULL AS STRING) AS level_2_level_name,
      |         CAST(NULL AS STRING) AS level_3_node_natural_key, CAST(NULL AS STRING) AS level_3_node_name, CAST(NULL AS STRING) AS level_3_level_name
      |    FROM nodes_temp WHERE parent_natural_key IS NULL
      |  UNION ALL
      |  SELECT c.node_natural_key, c.node_name, c.level_name, c.parent_natural_key, c.is_root, c.is_leaf,
      |         p.level_number + 1,
      |         p.path_key || '/' || lpad(c.node_natural_key, 12, '0'),
      |         p.level_1_node_natural_key, p.level_1_node_name, p.level_1_level_name,
      |         CASE WHEN p.level_number + 1 = 2 THEN c.node_natural_key ELSE p.level_2_node_natural_key END,
      |         CASE WHEN p.level_number + 1 = 2 THEN c.node_name ELSE p.level_2_node_name END,
      |         CASE WHEN p.level_number + 1 = 2 THEN c.level_name ELSE p.level_2_level_name END,
      |         CASE WHEN p.level_number + 1 = 3 THEN c.node_natural_key ELSE p.level_3_node_natural_key END,
      |         CASE WHEN p.level_number + 1 = 3 THEN c.node_name ELSE p.level_3_node_name END,
      |         CASE WHEN p.level_number + 1 = 3 THEN c.level_name ELSE p.level_3_level_name END
      |    FROM nodes_temp c JOIN walk p ON c.parent_natural_key = p.node_natural_key
      |), dim AS (
      |  SELECT w.*, CAST(ROW_NUMBER() OVER (ORDER BY path_key ASC) AS BIGINT) AS node_sort_order FROM walk w
      |)
      |SELECT node_natural_key, node_name, level_name, level_number, is_root, is_leaf, node_sort_order,
      |       level_1_node_natural_key, level_1_node_name, level_1_level_name,
      |       level_2_node_natural_key, level_2_node_name, level_2_level_name,
      |       level_3_node_natural_key, level_3_node_name, level_3_level_name
      |FROM dim ORDER BY node_sort_order""".stripMargin

  /** DuckDB-dialect equivalent (same text as the h1 oracle, VARCHAR
    * casts), regenerated here so the two files stay independent.
    */
  private val duckDimSql = sparkDimSql.replace(" AS STRING)", " AS VARCHAR)")

  /** The non-recursive prefix of [[sparkDimSql]] (seed union + root/
    * leaf flags), split out so h5 can materialize it ONCE before the
    * native recursion (see the h5 comment; semantics unchanged —
    * the oracle runs the single-statement form).
    */
  private val sparkNodesTempSql =
    """WITH nodes AS (
      |  SELECT CAST('ROOT' AS STRING) AS node_natural_key, CAST('All Regions' AS STRING) AS node_name, CAST('Total' AS STRING) AS level_name, CAST(NULL AS STRING) AS parent_natural_key
      |  UNION ALL
      |  SELECT 'R' || lpad(CAST(r_regionkey AS STRING), 2, '0'), r_name, 'Region', 'ROOT' FROM region
      |  UNION ALL
      |  SELECT 'N' || lpad(CAST(n_nationkey AS STRING), 3, '0'), n_name, 'Nation', 'R' || lpad(CAST(n_regionkey AS STRING), 2, '0') FROM nation
      |)
      |SELECT n.*,
      |       (n.parent_natural_key IS NULL) AS is_root,
      |       (n.node_natural_key NOT IN (SELECT parent_natural_key FROM nodes WHERE parent_natural_key IS NOT NULL)) AS is_leaf
      |FROM nodes n""".stripMargin

  /** The fixed-dims contract of the control-plane hierarchy (h5's
    * anchor, h8's dim): ROOT + regions + nations, and TPC-H fixes
    * |region| = 5 and |nation| = 25 at every scale.
    */
  private[graft] val FixedDimsMaxRows: Int = 1 + 5 + 25

  /** `df` collected into a LocalRelation-backed DataFrame, reading at
    * most one row past [[FixedDimsMaxRows]] and failing, naming
    * `contract`, if it is there. `coalesce(1)` keeps the limited collect
    * one job: over several partitions Spark's take runs one job to try
    * the first partition, then another for the rest.
    */
  private[graft] def collectFixedDims(df: DataFrame, contract: String): DataFrame = {
    val rows = df.coalesce(1).limit(FixedDimsMaxRows + 1).collect()
    require(rows.length <= FixedDimsMaxRows,
      s"$contract must stay at most $FixedDimsMaxRows rows to be " +
        "collected to the driver; got more")
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** The recursive walk over the materialized anchor view
    * `nodes_temp_m` — textually identical to [[sparkDimSql]]'s walk/dim
    * with the sub-CTE reference swapped for the view.
    */
  private val sparkWalkSql =
    """WITH RECURSIVE walk AS (
      |  SELECT node_natural_key, node_name, level_name, parent_natural_key, is_root, is_leaf,
      |         1 AS level_number,
      |         lpad(node_natural_key, 12, '0') AS path_key,
      |         node_natural_key AS level_1_node_natural_key, node_name AS level_1_node_name, level_name AS level_1_level_name,
      |         CAST(NULL AS STRING) AS level_2_node_natural_key, CAST(NULL AS STRING) AS level_2_node_name, CAST(NULL AS STRING) AS level_2_level_name,
      |         CAST(NULL AS STRING) AS level_3_node_natural_key, CAST(NULL AS STRING) AS level_3_node_name, CAST(NULL AS STRING) AS level_3_level_name
      |    FROM nodes_temp_m WHERE parent_natural_key IS NULL
      |  UNION ALL
      |  SELECT c.node_natural_key, c.node_name, c.level_name, c.parent_natural_key, c.is_root, c.is_leaf,
      |         p.level_number + 1,
      |         p.path_key || '/' || lpad(c.node_natural_key, 12, '0'),
      |         p.level_1_node_natural_key, p.level_1_node_name, p.level_1_level_name,
      |         CASE WHEN p.level_number + 1 = 2 THEN c.node_natural_key ELSE p.level_2_node_natural_key END,
      |         CASE WHEN p.level_number + 1 = 2 THEN c.node_name ELSE p.level_2_node_name END,
      |         CASE WHEN p.level_number + 1 = 2 THEN c.level_name ELSE p.level_2_level_name END,
      |         CASE WHEN p.level_number + 1 = 3 THEN c.node_natural_key ELSE p.level_3_node_natural_key END,
      |         CASE WHEN p.level_number + 1 = 3 THEN c.node_name ELSE p.level_3_node_name END,
      |         CASE WHEN p.level_number + 1 = 3 THEN c.level_name ELSE p.level_3_level_name END
      |    FROM nodes_temp_m c JOIN walk p ON c.parent_natural_key = p.node_natural_key
      |), dim AS (
      |  SELECT w.*, CAST(ROW_NUMBER() OVER (ORDER BY path_key ASC) AS BIGINT) AS node_sort_order FROM walk w
      |)
      |SELECT node_natural_key, node_name, level_name, level_number, is_root, is_leaf, node_sort_order,
      |       level_1_node_natural_key, level_1_node_name, level_1_level_name,
      |       level_2_node_natural_key, level_2_node_name, level_2_level_name,
      |       level_3_node_natural_key, level_3_node_name, level_3_level_name
      |FROM dim ORDER BY node_sort_order""".stripMargin

  val all: Seq[QueryDef] = Seq(

    QueryDef("h5_reporting_dim_sql", duckDimSql) { (s, dir) =>
      Tables.region(s, dir).createOrReplaceTempView("region")
      Tables.nation(s, dir).createOrReplaceTempView("nation")
      // The anchor (the nodes_temp sub-CTE: scans + a NOT IN
      // anti-join) is collected once to a LocalRelation: the hierarchy
      // is control-plane-sized BY CONTRACT (ROOT + regions + nations,
      // fixed dims at any corpus scale). Spark's UnionLoopExec takes a
      // level's rows without running a job when the level's optimized
      // plan is a LocalRelation, and plans/FoldLocalJoins folds each
      // level's join of the local anchor with the previous local level
      // into one, so every level of the walk folds on the driver
      // instead of running a repartition + count + collect. Only the
      // anchor collect and the ordered dim after the walk run jobs. The
      // walk stays NATIVE WITH RECURSIVE; the oracle stays the single
      // self-contained recursive statement.
      collectFixedDims(s.sql(sparkNodesTempSql),
        "h5 fixed-dims contract: the hierarchy anchor (ROOT + regions + nations)")
        .createOrReplaceTempView("nodes_temp_m")
      s.sql(sparkWalkSql)
    },

    // Non-recursive CTE + window through pure SQL (SURVEY C1/W2).
    QueryDef("h6_sql_cte_topn",
      """WITH nation_counts AS (
        |  SELECT c_nationkey, COUNT(*) AS n_customers,
        |         CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        |  FROM customer GROUP BY c_nationkey
        |)
        |SELECT * FROM (
        |  SELECT nc.*, CAST(ROW_NUMBER() OVER (ORDER BY nc.sum_acctbal DESC, nc.c_nationkey) AS BIGINT) AS rnk
        |  FROM nation_counts nc) t
        |WHERE rnk <= 10 ORDER BY rnk""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      s.sql(
        """WITH nation_counts AS (
          |  SELECT c_nationkey, COUNT(*) AS n_customers,
          |         CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
          |  FROM customer GROUP BY c_nationkey
          |)
          |SELECT * FROM (
          |  SELECT nc.*, CAST(ROW_NUMBER() OVER (ORDER BY nc.sum_acctbal DESC, nc.c_nationkey) AS BIGINT) AS rnk
          |  FROM nation_counts nc) t
          |WHERE rnk <= 10 ORDER BY rnk""".stripMargin)
    },

    // ---- FILTER-clause aggregates (SURVEY §2.5 noted these absent) ----
    // Standard-SQL conditional aggregation; Spark and DuckDB both
    // support FILTER natively and Catalyst compiles it to the same
    // single-pass plan as the CASE WHEN form — one scan, one exchange,
    // per-branch partial aggregates. The SQL text is shared verbatim.
    QueryDef("h7_sql_filter_agg",
      """SELECT l_linestatus,
        |  CAST(COUNT(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS n_returned,
        |  CAST(COUNT(*) FILTER (WHERE l_returnflag <> 'A') AS BIGINT) AS n_kept,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_discounted
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_linestatus,
          |  CAST(COUNT(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS n_returned,
          |  CAST(COUNT(*) FILTER (WHERE l_returnflag <> 'A') AS BIGINT) AS n_kept,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_discounted
          |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)
    },

    // ---- correlated EXISTS / NOT EXISTS (TPC-H Q4 shape) ----
    // The correlated-subquery SQL surface: both engines decorrelate
    // EXISTS into a left-semi join and NOT EXISTS into a left-anti
    // join on the correlation key (Catalyst: RewritePredicateSubquery),
    // so at scale each predicate costs one hash join on l_orderkey —
    // never a per-row re-execution of the subquery. Shared text; the
    // two predicates over the same subquery table exercise semi and
    // anti decorrelation in a single plan.
    QueryDef("h9_sql_exists", SqlText.h9) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(SqlText.h9)
    },

    // ---- LATERAL correlated subquery (top-2 orders per nation) ----
    // The LATERAL SQL surface: a per-row dependent subquery with ORDER
    // BY + LIMIT. Catalyst decorrelates it via DecorrelateInnerQuery
    // into a join + per-key window rank — one shuffle keyed by the
    // correlation key, never a re-executed subquery per outer row
    // (which is also exactly how the per-group top-k pipeline ops
    // p3/p5 plan it explicitly). Shared text with DuckDB.
    QueryDef("h10_sql_lateral", SqlText.h10) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      Tables.nation(s, dir).createOrReplaceTempView("nation")
      s.sql(SqlText.h10)
    },

    // ---- correlated SCALAR-AGGREGATE subqueries (TPC-H Q17 shape) ----
    // The third correlated-subquery decorrelation class after h9
    // (EXISTS → semi/anti join) and h10 (LATERAL → join + rank):
    // a correlated scalar AGGREGATE, which Catalyst rewrites
    // (RewriteCorrelatedScalarSubquery) into a group-by over the
    // correlation key joined back to the outer — per-ORDER aggregates
    // computed ONCE, never a subquery re-execution per outer row.
    // "Line items with more than twice the order's mean quantity",
    // stated integer/decimal-exactly as qty·COUNT > 2·SUM so both
    // engines compare exact values (no division, no doubles in the
    // predicate). Shared text verbatim.
    QueryDef("h11_sql_correlated_agg", SqlText.h11) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(SqlText.h11)
    },

    // ---- TPC-H Q2 shape: scalar subquery inside a join's filter ----
    // The decorrelation path no other query hits: a correlated MIN
    // over a multi-join subquery, used as an EQUALITY filter on the
    // outer join tree ("supplier with the region-minimum price per
    // part"; lineitem stands in for partsupp in this schema). Catalyst
    // plans the subquery ONCE as a per-partkey aggregate over the
    // region-filtered join and hash-joins it back on (p_partkey,
    // price) — never a nested-loop re-execution per outer row; the
    // dims broadcast, the two lineitem scans shuffle on l_partkey.
    // DISTINCT guards duplicate (part, supplier) rows when a pair hits
    // the minimum price twice. Shared text; doubles compared by
    // equality are safe (same parquet values, MIN picks one of them).
    QueryDef("h15_sql_min_cost_supplier", SqlText.h15) { (s, dir) =>
      Tables.part(s, dir).createOrReplaceTempView("part")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.nation(s, dir).createOrReplaceTempView("nation")
      Tables.region(s, dir).createOrReplaceTempView("region")
      s.sql(SqlText.h15)
    },

    // ---- TPC-H Q20 shape: semi-join chain with an agg subquery ----
    // The second missing decorrelation path: IN (semi) whose subquery
    // is itself a GROUP BY with a HAVING that references a CORRELATED
    // scalar aggregate ("suppliers who shipped >50% of a marked
    // part's 1997 volume"). Three nesting levels: semi-join on
    // s_suppkey ⊃ grouped aggregate on (suppkey, partkey) ⊃ correlated
    // per-partkey total — Catalyst decorrelates the inner scalar into
    // a partkey aggregate joined to the HAVING, and the outer IN into
    // a left-semi hash join; DECIMAL sums keep the 0.5 threshold
    // exact. Shared text verbatim.
    QueryDef("h16_sql_semi_agg_chain", SqlText.h16) { (s, dir) =>
      Tables.part(s, dir).createOrReplaceTempView("part")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.nation(s, dir).createOrReplaceTempView("nation")
      s.sql(SqlText.h16)
    },

    // ---- TPC-H Q13 shape: outer-join count distribution ----
    // Two-level aggregation where the inner count comes from a LEFT
    // OUTER join with a JOIN-SIDE (not WHERE-side) filter — the
    // distinguishing Q13 trap: pushing the NOT LIKE into a WHERE would
    // silently drop zero-order customers instead of counting them at
    // 0. COUNT(o_orderkey) (not COUNT(*)) keeps NULL-matched rows out
    // of the per-customer count. Distributed shape: one shuffle on
    // o_custkey for the outer join + count, then the distribution
    // aggregate is at most |distinct counts| rows. Shared text.
    QueryDef("h17_sql_custdist", SqlText.h17) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql(SqlText.h17)
    },

    // ---- TPC-H Q22 shape: scalar-avg threshold + anti-join ----
    // Global-avg comparison done EXACTLY by cross-multiplication
    // (acctbal * COUNT > SUM, all DECIMAL — no division, so no
    // engine-specific AVG return-type drift), then NOT EXISTS against
    // orders with a correlated predicate ("never placed an URGENT
    // order") → a left-anti hash join. The two scalar subqueries scan
    // the same filtered customer slice — exactly the shape the
    // MergeScalarAggJoins rule (plans/MergeScalarAggJoins.scala)
    // collapses into one aggregate pass. Shared text.
    QueryDef("h18_sql_acctbal_anti", SqlText.h18) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql(SqlText.h18)
    },

    // ---- TPC-H Q11 shape: HAVING vs global-scalar fraction ----
    // Per-partkey value for one nation's suppliers, kept only when it
    // exceeds a fixed fraction (1/700) of the SAME filtered global
    // total — the post-aggregation scalar-subquery HAVING path (the
    // one decorrelation shape h11/h15/h16 don't hit: the subquery is
    // uncorrelated but sits in HAVING, so Catalyst plans it as a
    // 1-row broadcast against the aggregate output, re-using nothing
    // per-group). All arithmetic in DECIMAL; cents output. Shared
    // text.
    QueryDef("h19_sql_value_fraction", SqlText.h19) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier")
      Tables.nation(s, dir).createOrReplaceTempView("nation")
      s.sql(SqlText.h19)
    },

    // ---- TPC-H Q15 shape: CTE referenced twice (view + its MAX) ----
    // The "top supplier" view pattern: a quarter-scoped per-supplier
    // revenue CTE consumed BOTH as the join input and inside the
    // scalar MAX subquery. Exercises CTE reuse (Spark plans the CTE
    // once behind ReusedExchange when beneficial) and exact-DECIMAL
    // equality against an aggregate of the same expression — safe
    // only because revenue never leaves DECIMAL before the compare
    // (a double sum would be partition-order-dependent and the MAX
    // equality would flap). Shared text.
    QueryDef("h20_sql_top_supplier", SqlText.h20) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier")
      s.sql(SqlText.h20)
    },

    // ---- TPC-H Q18 shape: semi-join on a HAVING aggregate + re-agg ----
    // Large-order customers: IN over a grouped-HAVING subquery on the
    // SAME fact table that is then re-joined and re-aggregated in the
    // outer query — the double-scan shape Q18 is famous for. Catalyst
    // plans the IN as a left-semi hash join on l_orderkey against the
    // thresholded aggregate; the outer sum re-shuffles only the
    // surviving orders. DECIMAL quantity sums keep the >300 threshold
    // and the output exact. Shared text.
    QueryDef("h21_sql_large_orders", SqlText.h21) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(SqlText.h21)
    },

    // ---- TPC-H Q6 shape: scan-only multi-range forecast ----
    // The pushdown litmus test: no join at all — revenue from three
    // simultaneous range predicates (date window, discount band,
    // quantity cap) that must ALL reach the parquet scan as
    // PushedFilters, leaving a single partial→final agg over the
    // surviving rows. Arithmetic at scale 1e4 (2dp price × 2dp
    // discount) so the sum is integral before the BIGINT cast —
    // DuckDB rounds decimal→int casts while Spark truncates, so a
    // fractional sum would diverge. Shared text.
    QueryDef("h22_sql_range_revenue", SqlText.h22) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(SqlText.h22)
    },

    // ---- TPC-H Q9 shape: multi-dim profit by nation × year ----
    // The widest join tree of the SQL surface: lineitem ⋈ part
    // (LIKE-filtered) ⋈ supplier ⋈ nation with a computed measure
    // spanning two tables (price net of discount minus a synthetic
    // 10%-of-retail cost — the testdata has no partsupp, so the cost
    // side rides part.p_retailprice; the SHAPE — expression agg over
    // a 4-way join grouped by a dim attribute × EXTRACT(YEAR) — is
    // Q9's). Dims broadcast; one shuffle on the (nation, year) agg.
    // Scale-1e4 integral arithmetic throughout. Shared text.
    QueryDef("h23_sql_profit_by_nation", SqlText.h23) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.part(s, dir).createOrReplaceTempView("part")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier")
      Tables.nation(s, dir).createOrReplaceTempView("nation")
      s.sql(SqlText.h23)
    },

    // ---- TPC-H Q10 shape: returned-item top customers ----
    // Quarter-scoped customer ⋈ orders ⋈ lineitem('R') ⋈ nation with
    // a revenue ranking and LIMIT 20 — the classic "who returned the
    // most" report. GROUP BY carries the customer attributes through
    // (no re-join after the agg); the top-k rides the TopKRewrite
    // sort+limit path. Shared text.
    QueryDef("h24_sql_returned_customers", SqlText.h24) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.nation(s, dir).createOrReplaceTempView("nation")
      s.sql(SqlText.h24)
    },

    // ---- TPC-H Q12 shape: conditional agg over a join-derived bucket ----
    // orders ⋈ lineitem where the grouping key is the lineitem side
    // (returnflag standing in for shipmode — the testdata has no
    // l_shipmode) and the measures are CASE-dispatched counts of the
    // ORDER side's priority class, bucketed by a shipping-lateness
    // predicate computed ACROSS the join (l_shipdate vs o_orderdate +
    // 60 days). Q12's hallmark: the CASE arms partition the joined
    // rows, not the scan. Shared text.
    QueryDef("h25_sql_late_ship_priority", SqlText.h25) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(SqlText.h25)
    },

    // ---- TPC-H Q14 shape: CASE-filtered share of a joined measure ----
    // One month of lineitem ⋈ part where the numerator keeps only
    // PROMO parts — numerator and denominator emitted as separate
    // exact scale-1e4 BIGINTs instead of Q14's 100*x/y division
    // (integer-div syntax differs across engines; the exact pair is
    // strictly stronger, q45's basis-point pattern). Shared text.
    QueryDef("h26_sql_promo_share", SqlText.h26) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.part(s, dir).createOrReplaceTempView("part")
      s.sql(SqlText.h26)
    },

    // ---- TPC-H Q16 shape: NOT IN exclusion + grouped COUNT(DISTINCT) ----
    // Supplier variety per (brand, type, size) over the lineitem
    // part-supplier relation (testdata has no partsupp), excluding a
    // brand, a type, and — the Q16 hallmark — suppliers from a NOT IN
    // subquery (negative-balance stand-in for the comment filter).
    // NOT IN over a non-nullable key plans as a null-aware anti join
    // that degenerates to a plain broadcast anti; the distinct count
    // is exact (two-level hash agg). Shared text.
    QueryDef("h27_sql_supplier_part_cnt", SqlText.h27) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.part(s, dir).createOrReplaceTempView("part")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier")
      s.sql(SqlText.h27)
    },

    // ---- TPC-H Q19 shape: disjunctive multi-column join predicates ----
    // Three OR'd conjunct groups each tying part attributes (brand,
    // size band) to lineitem attributes (quantity band). The planner
    // trap Q19 exists to test: the l_partkey = p_partkey equi-key
    // must be extracted from the disjunction so the join stays HASH
    // (the OR residual evaluated post-join) instead of falling back
    // to nested-loop. Revenue at exact scale 1e4. Shared text.
    QueryDef("h28_sql_disjunctive_revenue", SqlText.h28) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.part(s, dir).createOrReplaceTempView("part")
      s.sql(SqlText.h28)
    })

  /** Shared verbatim between the Spark run and the DuckDB oracle. */
  private object SqlText {
    val h9: String =
      """SELECT 'heavy' AS bucket, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
        |GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'light' AS bucket, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
        |GROUP BY o_orderpriority
        |ORDER BY bucket, o_orderpriority""".stripMargin

    val h10: String =
      """SELECT n.n_name, t.o_orderkey, t.o_totalprice
        |FROM nation n
        |JOIN customer c ON c.c_nationkey = n.n_nationkey,
        |LATERAL (
        |  SELECT o.o_orderkey, o.o_totalprice
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
        |  ORDER BY o.o_totalprice DESC, o.o_orderkey
        |  LIMIT 2
        |) t
        |ORDER BY n_name, o_totalprice DESC, o_orderkey""".stripMargin

    val h11: String =
      """SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(l.l_quantity AS DOUBLE) AS qty
        |FROM lineitem l
        |WHERE CAST(l.l_quantity AS DECIMAL(12,2))
        |        * (SELECT COUNT(*) FROM lineitem l2
        |           WHERE l2.l_orderkey = l.l_orderkey)
        |      > (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) * 2
        |         FROM lineitem l2
        |         WHERE l2.l_orderkey = l.l_orderkey)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin

    val h15: String =
      """SELECT DISTINCT p.p_partkey, p.p_name, s.s_name, n.n_name,
        |  CAST(l.l_extendedprice AS DOUBLE) AS best_price
        |FROM part p, supplier s, lineitem l, nation n, region r
        |WHERE l.l_partkey = p.p_partkey AND l.l_suppkey = s.s_suppkey
        |  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
        |  AND r.r_name = 'EUROPE' AND p.p_size >= 40
        |  AND l.l_extendedprice = (
        |    SELECT MIN(l2.l_extendedprice)
        |    FROM lineitem l2, supplier s2, nation n2, region r2
        |    WHERE l2.l_partkey = p.p_partkey AND l2.l_suppkey = s2.s_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY best_price DESC, p_partkey, s_name
        |LIMIT 100""".stripMargin

    val h16: String =
      """SELECT s.s_name, n.n_name
        |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE s.s_suppkey IN (
        |  SELECT l.l_suppkey FROM lineitem l
        |  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
        |    AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l.l_suppkey, l.l_partkey
        |  HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) * 10 >
        |    (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) * 5
        |     FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
        |       AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |       AND l2.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'))
        |ORDER BY s_name""".stripMargin

    val h17: String =
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT OUTER JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority NOT LIKE '1%'
        |  GROUP BY c.c_custkey
        |) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin

    val h18: String =
      """SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM (
        |  SELECT RIGHT(c.c_name, 2) AS cntrycode, c.c_acctbal
        |  FROM customer c
        |  WHERE RIGHT(c.c_name, 2) IN ('01','13','25','37','49','50','62')
        |    AND CAST(c.c_acctbal AS DECIMAL(18,2)) *
        |        (SELECT COUNT(*) FROM customer c2
        |         WHERE c2.c_acctbal > 0.00
        |           AND RIGHT(c2.c_name, 2) IN ('01','13','25','37','49','50','62'))
        |      > (SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(18,2))) FROM customer c3
        |         WHERE c3.c_acctbal > 0.00
        |           AND RIGHT(c3.c_name, 2) IN ('01','13','25','37','49','50','62'))
        |    AND NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_custkey = c.c_custkey
        |                      AND o.o_orderpriority = '1-URGENT')
        |) t
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin

    val h19: String =
      """SELECT l.l_partkey,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |    AS value_cents
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE n.n_name = 'NATION_7'
        |GROUP BY l.l_partkey
        |HAVING SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 700 >
        |  (SELECT SUM(CAST(l2.l_extendedprice AS DECIMAL(18,2)))
        |   FROM lineitem l2
        |   JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
        |   JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |   WHERE n2.n_name = 'NATION_7')
        |ORDER BY value_cents DESC, l_partkey""".stripMargin

    val h20: String =
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |        * CAST(1 - l_discount AS DECIMAL(4,2))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey
        |)
        |SELECT s.s_suppkey, s.s_name,
        |  CAST(r.total_revenue AS DOUBLE) AS total_revenue
        |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        |WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin

    val h21: String =
      """SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |  CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300)
        |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin

    val h22: String =
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * CAST(l_discount AS DECIMAL(4,2)) * 10000) AS BIGINT)
        |    AS revenue_e4
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin

    val h23: String =
      """SELECT n.n_name AS nation,
        |  CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |             * CAST(1 - l.l_discount AS DECIMAL(4,2)) * 10000
        |           - CAST(l.l_quantity AS DECIMAL(12,0))
        |             * CAST(p.p_retailprice AS DECIMAL(12,1)) * 1000) AS BIGINT)
        |    AS profit_e4
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE p.p_name LIKE '%red%'
        |GROUP BY n.n_name, EXTRACT(YEAR FROM l.l_shipdate)
        |ORDER BY nation, o_year DESC""".stripMargin

    val h24: String =
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |           * CAST(1 - l.l_discount AS DECIMAL(4,2)) * 10000) AS BIGINT)
        |    AS revenue_e4,
        |  CAST(c.c_acctbal AS DOUBLE) AS c_acctbal
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
        |ORDER BY revenue_e4 DESC, c_custkey
        |LIMIT 20""".stripMargin

    val h25: String =
      """SELECT l.l_returnflag AS ship_class,
        |  CASE WHEN l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
        |       THEN 'late' ELSE 'ontime' END AS ship_bucket,
        |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders o
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_returnflag IN ('R', 'A')
        |  AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l.l_returnflag,
        |  CASE WHEN l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
        |       THEN 'late' ELSE 'ontime' END
        |ORDER BY ship_class, ship_bucket""".stripMargin

    val h26: String =
      """SELECT
        |  CAST(SUM(CASE WHEN p.p_type = 'PROMO'
        |                THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
        |                     * CAST(1 - l.l_discount AS DECIMAL(4,2)) * 10000
        |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS BIGINT)
        |    AS promo_revenue_e4,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |           * CAST(1 - l.l_discount AS DECIMAL(4,2)) * 10000) AS BIGINT)
        |    AS total_revenue_e4
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin

    val h27: String =
      """SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
        |  CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#45'
        |  AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l.l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p.p_brand, p.p_type, p.p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

    val h28: String =
      """SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |                * CAST(1 - l.l_discount AS DECIMAL(4,2)) * 10000)
        |         AS BIGINT) AS revenue_e4
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin
  }
}
