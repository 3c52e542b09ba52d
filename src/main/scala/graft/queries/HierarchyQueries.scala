package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Hierarchy
import graft.sources.Tables

/** The reference's hierarchical-aggregation workload at TPC-H scale:
  * region→nation as a 3-level hierarchy (synthetic "All Regions" root)
  * with orders⋈customer as the fact stream (FIXTURES.md §2 note).
  *
  * Natural keys are namespaced ('ROOT' / 'Rxx' / 'Nxxx') so
  * region/nation integer key ranges can't collide on the closure's
  * descendant join — the reference relies on globally-unique natural
  * keys (aggregation_example.sql:10); namespacing restores that
  * invariant here.
  *
  * Scale posture: dims are built once per query from tiny tables and
  * broadcast. The fact side is pre-aggregated to customer grain with
  * one shuffle on o_custkey, so the hierarchy fan-out multiplies one
  * row per customer, not per order; each report then adds one
  * aggregation shuffle (plus countDistinct's expand). At scale the
  * fan-out's shuffle volume drops from ~3× orders to ~orders +
  * 3× customers. At 100 TB only the fact table grows — the hierarchy
  * stays broadcast-size by definition.
  */
object HierarchyQueries {

  private val nodesSql =
    """WITH RECURSIVE nodes AS (
      |  SELECT CAST('ROOT' AS VARCHAR) AS node_natural_key, CAST('All Regions' AS VARCHAR) AS node_name, CAST('Total' AS VARCHAR) AS level_name, CAST(NULL AS VARCHAR) AS parent_natural_key
      |  UNION ALL
      |  SELECT 'R' || lpad(CAST(r_regionkey AS VARCHAR), 2, '0'), r_name, 'Region', 'ROOT' FROM region
      |  UNION ALL
      |  SELECT 'N' || lpad(CAST(n_nationkey AS VARCHAR), 3, '0'), n_name, 'Nation', 'R' || lpad(CAST(n_regionkey AS VARCHAR), 2, '0') FROM nation
      |), nodes_temp AS (
      |  SELECT n.*,
      |         (n.parent_natural_key IS NULL) AS is_root,
      |         (n.node_natural_key NOT IN (SELECT parent_natural_key FROM nodes WHERE parent_natural_key IS NOT NULL)) AS is_leaf
      |  FROM nodes n
      |), walk AS (
      |  SELECT node_natural_key, node_name, level_name, parent_natural_key, is_root, is_leaf,
      |         1 AS level_number,
      |         lpad(node_natural_key, 12, '0') AS path_key,
      |         [{node_id: node_natural_key, node_natural_key: node_natural_key, node_name: node_name, level_name: level_name,
      |           parent_node_id: parent_natural_key, is_root: is_root, is_leaf: is_leaf, level_number: 1}] AS jpath,
      |         node_natural_key AS level_1_node_natural_key, node_name AS level_1_node_name, level_name AS level_1_level_name,
      |         CAST(NULL AS VARCHAR) AS level_2_node_natural_key, CAST(NULL AS VARCHAR) AS level_2_node_name, CAST(NULL AS VARCHAR) AS level_2_level_name,
      |         CAST(NULL AS VARCHAR) AS level_3_node_natural_key, CAST(NULL AS VARCHAR) AS level_3_node_name, CAST(NULL AS VARCHAR) AS level_3_level_name
      |    FROM nodes_temp WHERE parent_natural_key IS NULL
      |  UNION ALL
      |  SELECT c.node_natural_key, c.node_name, c.level_name, c.parent_natural_key, c.is_root, c.is_leaf,
      |         p.level_number + 1,
      |         p.path_key || '/' || lpad(c.node_natural_key, 12, '0'),
      |         array_append(p.jpath,
      |           {node_id: c.node_natural_key, node_natural_key: c.node_natural_key, node_name: c.node_name, level_name: c.level_name,
      |            parent_node_id: c.parent_natural_key, is_root: c.is_root, is_leaf: c.is_leaf, level_number: p.level_number + 1}),
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
      |)""".stripMargin

  private val closureSql =
    """, closure AS (
      |  SELECT node_natural_key AS ancestor_node_natural_key, node_name AS ancestor_node_name, level_name AS ancestor_level_name,
      |         level_number AS ancestor_level_number, is_root AS ancestor_is_root, is_leaf AS ancestor_is_leaf, node_sort_order AS ancestor_node_sort_order,
      |         node_natural_key AS descendant_node_natural_key, node_name AS descendant_node_name, level_name AS descendant_level_name,
      |         level_number AS descendant_level_number, is_root AS descendant_is_root, is_leaf AS descendant_is_leaf, node_sort_order AS descendant_node_sort_order
      |    FROM dim
      |  UNION ALL
      |  SELECT p.ancestor_node_natural_key, p.ancestor_node_name, p.ancestor_level_name, p.ancestor_level_number,
      |         p.ancestor_is_root, p.ancestor_is_leaf, p.ancestor_node_sort_order,
      |         c.node_natural_key, c.node_name, c.level_name, c.level_number, c.is_root, c.is_leaf, c.node_sort_order
      |    FROM dim c JOIN closure p ON c.parent_natural_key = p.descendant_node_natural_key
      |)""".stripMargin

  private val factsSql =
    """, facts AS (
      |  SELECT 'N' || lpad(CAST(c.c_nationkey AS VARCHAR), 3, '0') AS fact_key, o.o_custkey, o.o_totalprice
      |    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |)""".stripMargin

  private val dimOutputCols = Seq(
    "node_natural_key", "node_name", "level_name", "level_number",
    "is_root", "is_leaf", "node_sort_order") ++
    (1 to 3).flatMap(i => Seq(s"level_${i}_node_natural_key",
      s"level_${i}_node_name", s"level_${i}_level_name"))

  /** Adjacency-list nodes from region/nation; node_id = natural key
    * (deterministic — no uuid needed outside the tutorial fixture).
    */
  def nodes(s: SparkSession, dir: String): DataFrame = {
    val root = s.range(1).select(
      lit("ROOT").as("node_natural_key"),
      lit("All Regions").as("node_name"),
      lit("Total").as("level_name"),
      lit(null).cast("string").as("parent_natural_key"))
    val region = Tables.region(s, dir).select(
      concat(lit("R"), lpad(col("r_regionkey").cast("string"), 2, "0")).as("node_natural_key"),
      col("r_name").as("node_name"),
      lit("Region").as("level_name"),
      lit("ROOT").as("parent_natural_key"))
    val nation = Tables.nation(s, dir).select(
      concat(lit("N"), lpad(col("n_nationkey").cast("string"), 3, "0")).as("node_natural_key"),
      col("n_name").as("node_name"),
      lit("Nation").as("level_name"),
      concat(lit("R"), lpad(col("n_regionkey").cast("string"), 2, "0")).as("parent_natural_key"))
    root.unionByName(region).unionByName(nation)
      .select(col("node_natural_key").as("node_id"), col("node_natural_key"),
        col("node_name"), col("level_name"),
        col("parent_natural_key").as("parent_node_id"))
  }

  // Dims are materialized once per (session, sf dir) and reused — the
  // Spark analogue of the reference's CTAS dims (aggregation_example
  // .sql:86,351: build product_reporting_dim / product_aggregation_dim
  // once, query them many times). localCheckpoint caches the tiny dim
  // in memory and truncates its recursive lineage; SessionCache holds
  // entries via weak session keys (no leak across sessions).
  def reportingDim(s: SparkSession, dir: String): DataFrame =
    graft.sources.SessionCache.getOrElseUpdate(s, s"h_reporting:$dir")(
      Hierarchy.buildReportingDim(nodes(s, dir), levels = 3).localCheckpoint(true))

  def closureDim(s: SparkSession, dir: String): DataFrame =
    graft.sources.SessionCache.getOrElseUpdate(s, s"h_closure:$dir")(
      Hierarchy.buildClosureDim(reportingDim(s, dir)).localCheckpoint(true))

  /** Facts at customer grain: orders pre-aggregated on `o_custkey`
    * into additive partials (exact DECIMAL(18,2) `p_sum`, order count
    * `p_cnt`), then keyed by the customer's nation. Orders⋈customer is
    * N:1 on the group key, so aggregating below the join is exact
    * (eager aggregation, Yan & Larson, VLDB 1995), and the hierarchy
    * fan-out then multiplies ~customers rows instead of ~orders. The
    * customer side is broadcast at test scale; at 100 TB this becomes
    * a shuffle join on o_custkey, the key the pre-aggregation already
    * partitions on.
    */
  def facts(s: SparkSession, dir: String): DataFrame =
    customerPartials(Tables.orders(s, dir))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .select(
        concat(lit("N"), lpad(col("c_nationkey").cast("string"), 3, "0")).as("fact_key"),
        col("o_custkey"), col("p_sum"), col("p_cnt"))

  private[queries] def customerPartials(orders: DataFrame): DataFrame =
    orders.groupBy("o_custkey").agg(partialAggs.head, partialAggs.tail: _*)

  /** Additive partials of the report measures, at whatever grain the
    * caller groups on: exact DECIMAL(18,2) `p_sum` and order count
    * `p_cnt`.
    */
  private[graft] def partialAggs: Seq[Column] = Seq(
    sum(col("o_totalprice").cast(DecimalType(18, 2))).as("p_sum"),
    count(lit(1)).as("p_cnt"))

  /** The report measures over customer-grain facts. The decimal sum is
    * exact, so summing partials yields the same double as summing
    * orders; the distinct count is recomputed per node over
    * `o_custkey`, never summed from partials.
    */
  private[graft] def reportAggs: Seq[(String, Column)] = Seq(
    "sum_total_price" -> sum(col("p_sum")).cast("double"),
    "distinct_customer_count" -> countDistinct(col("o_custkey")),
    "count_of_fact_records" -> sum(col("p_cnt")))

  private val reportAggsSql =
    """CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total_price,
      |       COUNT(DISTINCT f.o_custkey) AS distinct_customer_count,
      |       COUNT(*) AS count_of_fact_records""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // node_json / node_json_path (reference aggregation_example.sql:
    // 176-184) are compared as canonical JSON text on both sides —
    // node_id = natural key here, so the structs are fully
    // deterministic and hash-checkable.
    QueryDef("h1_reporting_dim",
      nodesSql +
        """
          |SELECT node_natural_key, node_name, level_name, level_number, is_root, is_leaf, node_sort_order,
          |       CAST(to_json({node_id: node_natural_key, node_natural_key: node_natural_key, node_name: node_name, level_name: level_name,
          |         parent_node_id: parent_natural_key, is_root: is_root, is_leaf: is_leaf, level_number: level_number,
          |         node_sort_order: node_sort_order}) AS VARCHAR) AS node_json,
          |       CAST(to_json(jpath) AS VARCHAR) AS node_json_path,
          |       level_1_node_natural_key, level_1_node_name, level_1_level_name,
          |       level_2_node_natural_key, level_2_node_name, level_2_level_name,
          |       level_3_node_natural_key, level_3_node_name, level_3_level_name
          |FROM dim ORDER BY node_sort_order""".stripMargin) { (s, dir) =>
      reportingDim(s, dir)
        .withColumn("node_json",
          to_json(col("node_json"), Map("ignoreNullFields" -> "false")))
        .withColumn("node_json_path",
          to_json(col("node_json_path"), Map("ignoreNullFields" -> "false")))
        .select((dimOutputCols ++ Seq("node_json", "node_json_path")).map(col): _*)
        .orderBy("node_sort_order")
    },

    QueryDef("h2_closure_dim",
      nodesSql + closureSql +
        """
          |SELECT ancestor_node_natural_key, ancestor_node_name, ancestor_level_name, ancestor_level_number,
          |       ancestor_is_root, ancestor_is_leaf, ancestor_node_sort_order,
          |       descendant_node_natural_key, descendant_node_name, descendant_level_name, descendant_level_number,
          |       descendant_is_root, descendant_is_leaf, descendant_node_sort_order,
          |       descendant_level_number - ancestor_level_number AS net_level
          |FROM closure ORDER BY ancestor_node_sort_order, descendant_node_sort_order""".stripMargin) { (s, dir) =>
      closureDim(s, dir)
        .orderBy("ancestor_node_sort_order", "descendant_node_sort_order")
    },

    // SQL-surface twin of h2: the ancestor–descendant closure build
    // expressed through Spark's native WITH RECURSIVE over the
    // materialized reporting dim — the reference's own formulation
    // (aggregation_example.sql:351-425: anchor EVERY node as its own
    // root, recurse down the parent edges). Oracle = h2's oracle text,
    // so the DataFrame loop (h2), the native recursion (h8) and
    // DuckDB's recursive CTE must all agree row-for-row. The dim is
    // collected to a LocalRelation under the fixed-dims contract, and
    // plans/FoldLocalJoins folds every level's join on the driver: the
    // recursion runs no job per level, only the dim collect and the
    // ordered output do.
    QueryDef("h8_closure_dim_sql",
      nodesSql + closureSql +
        """
          |SELECT ancestor_node_natural_key, ancestor_node_name, ancestor_level_name, ancestor_level_number,
          |       ancestor_is_root, ancestor_is_leaf, ancestor_node_sort_order,
          |       descendant_node_natural_key, descendant_node_name, descendant_level_name, descendant_level_number,
          |       descendant_is_root, descendant_is_leaf, descendant_node_sort_order,
          |       descendant_level_number - ancestor_level_number AS net_level
          |FROM closure ORDER BY ancestor_node_sort_order, descendant_node_sort_order""".stripMargin) { (s, dir) =>
      SqlQueries.collectFixedDims(
          reportingDim(s, dir).select(col("node_natural_key"), col("node_name"),
            col("level_name"), col("level_number"), col("is_root"), col("is_leaf"),
            col("node_sort_order"), col("parent_node_id")),
          "h8 fixed-dims contract: the reporting dim (ROOT + regions + nations)")
        .createOrReplaceTempView("h8_dim")
      s.sql(
        """WITH RECURSIVE closure AS (
          |  SELECT node_natural_key AS ancestor_node_natural_key, node_name AS ancestor_node_name, level_name AS ancestor_level_name,
          |         level_number AS ancestor_level_number, is_root AS ancestor_is_root, is_leaf AS ancestor_is_leaf, node_sort_order AS ancestor_node_sort_order,
          |         node_natural_key AS descendant_node_natural_key, node_name AS descendant_node_name, level_name AS descendant_level_name,
          |         level_number AS descendant_level_number, is_root AS descendant_is_root, is_leaf AS descendant_is_leaf, node_sort_order AS descendant_node_sort_order
          |    FROM h8_dim
          |  UNION ALL
          |  SELECT p.ancestor_node_natural_key, p.ancestor_node_name, p.ancestor_level_name, p.ancestor_level_number,
          |         p.ancestor_is_root, p.ancestor_is_leaf, p.ancestor_node_sort_order,
          |         c.node_natural_key, c.node_name, c.level_name, c.level_number, c.is_root, c.is_leaf, c.node_sort_order
          |    FROM h8_dim c JOIN closure p ON c.parent_node_id = p.descendant_node_natural_key
          |)
          |SELECT ancestor_node_natural_key, ancestor_node_name, ancestor_level_name, ancestor_level_number,
          |       ancestor_is_root, ancestor_is_leaf, ancestor_node_sort_order,
          |       descendant_node_natural_key, descendant_node_name, descendant_level_name, descendant_level_number,
          |       descendant_is_root, descendant_is_leaf, descendant_node_sort_order,
          |       descendant_level_number - ancestor_level_number AS net_level
          |FROM closure ORDER BY ancestor_node_sort_order, descendant_node_sort_order""".stripMargin)
    },

    QueryDef("h3_rollup_report",
      nodesSql + factsSql +
        s""", ra AS (
          |  SELECT CASE WHEN GROUPING(d.level_3_node_natural_key) = 0 THEN d.level_3_node_natural_key
          |              WHEN GROUPING(d.level_2_node_natural_key) = 0 THEN d.level_2_node_natural_key
          |              WHEN GROUPING(d.level_1_node_natural_key) = 0 THEN d.level_1_node_natural_key END AS product_node_key,
          |         $reportAggsSql
          |    FROM facts f JOIN dim d ON f.fact_key = d.node_natural_key
          |   GROUP BY ROLLUP (d.level_1_node_natural_key, d.level_2_node_natural_key, d.level_3_node_natural_key)
          |  HAVING NOT GROUPING(d.level_1_node_natural_key) = 1
          |)
          |SELECT lpad('-', (d.level_number - 1) * 7, '-') || d.level_name AS product_level_name,
          |       lpad('-', (d.level_number - 1) * 7, '-') || d.node_name AS product_node_name,
          |       ra.sum_total_price, ra.distinct_customer_count, ra.count_of_fact_records,
          |       d.node_sort_order
          |  FROM ra JOIN dim d ON ra.product_node_key = d.node_natural_key
          | ORDER BY d.node_sort_order""".stripMargin) { (s, dir) =>
      Hierarchy.rollupReport(facts(s, dir), reportingDim(s, dir),
        col("fact_key"), reportAggs, levels = 3)
    },

    QueryDef("h4_closure_report",
      nodesSql + closureSql + factsSql +
        s"""
          |SELECT lpad('-', (c.ancestor_level_number - 1) * 7, '-') || c.ancestor_level_name AS product_level_name,
          |       lpad('-', (c.ancestor_level_number - 1) * 7, '-') || c.ancestor_node_name AS product_node_name,
          |       $reportAggsSql,
          |       c.ancestor_node_sort_order
          |  FROM facts f JOIN closure c ON f.fact_key = c.descendant_node_natural_key
          | GROUP BY c.ancestor_node_name, c.ancestor_level_name, c.ancestor_level_number, c.ancestor_node_sort_order
          | ORDER BY c.ancestor_node_sort_order""".stripMargin) { (s, dir) =>
      Hierarchy.closureReport(facts(s, dir), closureDim(s, dir),
        col("fact_key"), reportAggs)
    },

    // ---- share-of-parent hierarchy report ----
    // The drill-down ratio every rollup UI shows next to the absolute
    // number: each node's total as BASIS POINTS of its parent's total
    // (root = 10000). Totals come from ONE closure fan-out aggregate
    // (h4's shape) in exact integer cents; the parent linkage is the
    // dim's own adjacency (broadcast), so the share join is
    // dim-sized × dim-sized — no second pass over facts, no window.
    QueryDef("h14_share_of_parent",
      nodesSql + closureSql + factsSql +
        """, totals AS (
          |  SELECT c.ancestor_node_natural_key AS node_key,
          |         c.ancestor_node_name AS node_name,
          |         c.ancestor_level_number AS level_number,
          |         c.ancestor_node_sort_order AS sort_order,
          |         SUM(CAST(CAST(f.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
          |  FROM facts f JOIN closure c ON f.fact_key = c.descendant_node_natural_key
          |  GROUP BY 1, 2, 3, 4
          |)
          |SELECT t.node_name, t.level_number, CAST(t.cents AS BIGINT) AS cents,
          |  CAST(CASE WHEN p.cents IS NULL THEN 10000
          |       ELSE (10000 * t.cents) // p.cents END AS BIGINT) AS share_bp,
          |  t.sort_order
          |FROM totals t
          |LEFT JOIN dim d ON t.node_key = d.node_natural_key
          |LEFT JOIN totals p ON d.parent_natural_key = p.node_key
          |ORDER BY t.sort_order""".stripMargin) { (s, dir) =>
      val cl = closureDim(s, dir)
      // p_sum is the exact DECIMAL(18,2) sum of the customer's orders,
      // so its cents equal the sum of per-order cents
      val f = facts(s, dir)
        .withColumn("p_cents", (col("p_sum") * 100).cast("long"))
      val totals = f.join(broadcast(cl),
          col("fact_key") === col("descendant_node_natural_key"))
        .groupBy(col("ancestor_node_natural_key").as("node_key"),
          col("ancestor_node_name").as("node_name"),
          col("ancestor_level_number").as("level_number"),
          col("ancestor_node_sort_order").as("sort_order"))
        .agg(sum("p_cents").as("cents"))
      val parentOf = reportingDim(s, dir)
        .select(col("node_natural_key").as("node_key"),
          col("parent_node_id").as("parent_key"))
      val parentTotals = totals
        .select(col("node_key").as("parent_key"), col("cents").as("p_cents"))
      totals.join(broadcast(parentOf), Seq("node_key"), "left")
        .join(broadcast(parentTotals), Seq("parent_key"), "left")
        .select(col("node_name"), col("level_number"), col("cents"),
          when(col("p_cents").isNull, lit(10000L))
            .otherwise(expr("(10000 * cents) div p_cents")).as("share_bp"),
          col("sort_order"))
        .orderBy("sort_order")
    })
}
