package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.Recursion

/** Hierarchical-dimension builders and reports — the reference's core
  * capability (reference: aggregation_example.sql), re-expressed
  * Spark-first.
  *
  * Input node contract (adjacency list, reference DDL
  * aggregation_example.sql:1-14): columns `node_id`,
  * `node_natural_key`, `node_name`, `level_name`, `parent_node_id`
  * (NULL ⇒ root, reference :130). `node_natural_key` may be any
  * orderable type; it is also the deterministic sibling sort key.
  *
  * Sort-order note: the reference orders depth-first by the *string
  * rendering* of a struct path whose first field is a random uuid
  * (aggregation_example.sql:184,186) — environment-specific and
  * non-portable (its own golden CSV shows uuid-dependent sibling
  * order). We replace it with an explicit accumulated `path_key` of
  * zero-padded natural keys, which is a deterministic depth-first
  * order (SURVEY.md W1).
  */
object Hierarchy {

  private val PadWidth = 12

  /** Zero-pad a natural key for lexicographic DFS ordering. Spark's
    * `lpad` TRUNCATES inputs longer than the pad width, which would
    * silently collide long keys — so keys already ≥ PadWidth chars pass
    * through unpadded (still deterministic, just not numerically aligned
    * with shorter siblings).
    */
  private def lpadKey(c: Column): Column = {
    val s = c.cast("string")
    when(length(s) >= PadWidth, s).otherwise(lpad(s, PadWidth, "0"))
  }

  /** Derive `is_root` / `is_leaf` (reference: aggregation_example.sql:60-78).
    * `is_leaf` is the semi-join formulation of the reference's
    * `node_id IN (SELECT parent_node_id …)` CASE (NULL parent ids fall
    * through to leaf=TRUE there — identical to the anti-join here).
    */
  def deriveAttrs(nodes: DataFrame): DataFrame = {
    val parents = nodes.select(col("parent_node_id").as("p_id"))
      .where(col("p_id").isNotNull).distinct()
    nodes
      .withColumn("is_root", col("parent_node_id").isNull)
      .join(broadcast(parents), col("node_id") === col("p_id"), "left")
      .withColumn("is_leaf", col("p_id").isNull)
      .drop("p_id")
  }

  /** Build the flattened reporting dimension: one row per node with
    * `level_number`, deterministic `node_sort_order`, and
    * `level_1..levels` ancestor columns
    * (reference: aggregation_example.sql:86-204).
    *
    * The un-partitioned `row_number` window is a single-partition
    * exchange — acceptable because dimensions are small by definition
    * (≪ facts); never apply to fact-sized data.
    */
  def buildReportingDim(nodesRaw: DataFrame, levels: Int): DataFrame = {
    // localCheckpoint stabilizes non-deterministic columns (uuid()
    // defaults, SURVEY P9) before the self-joins below re-evaluate them.
    val nodes = deriveAttrs(nodesRaw).localCheckpoint(true)

    // Path entries mirror the reference's node_json_path element shape
    // (aggregation_example.sql:111-128): full node record + its level.
    def pathEntry(prefix: String, levelNumber: Column): Column = struct(
      col(s"${prefix}node_id").as("node_id"),
      col(s"${prefix}node_natural_key").as("node_natural_key"),
      col(s"${prefix}node_name").as("node_name"),
      col(s"${prefix}level_name").as("level_name"),
      col(s"${prefix}parent_node_id").as("parent_node_id"),
      col(s"${prefix}is_root").as("is_root"),
      col(s"${prefix}is_leaf").as("is_leaf"),
      levelNumber.as("level_number"))

    val baseCols = Seq("node_id", "node_natural_key", "node_name", "level_name",
      "parent_node_id", "is_root", "is_leaf")

    val anchor = nodes
      .filter(col("parent_node_id").isNull)
      .withColumn("level_number", lit(1))
      .withColumn("path_key", lpadKey(col("node_natural_key")))
      .withColumn("path", array(pathEntry("", lit(1))))

    def step(frontier: DataFrame): DataFrame = {
      val c = nodes.as("c")
      val p = frontier.as("p")
      c.join(p, col("c.parent_node_id") === col("p.node_id"))
        .select(
          baseCols.map(n => col(s"c.$n")) ++ Seq(
            (col("p.level_number") + 1).as("level_number"),
            concat(col("p.path_key"), lit("/"),
              lpadKey(col("c.node_natural_key"))).as("path_key"),
            array_append(col("p.path"),
              pathEntry("c.", col("p.level_number") + 1)).as("path")): _*)
    }

    val walked = Recursion.expand(anchor, step, maxDepth = levels + 1)

    // Global DFS order (dim-sized data only — see scaladoc).
    val order = Window.orderBy(col("path_key").asc)
    val levelCols = (1 to levels).flatMap { i =>
      val e = try_element_at(col("path"), lit(i))
      Seq(
        e.getField("node_natural_key").as(s"level_${i}_node_natural_key"),
        e.getField("node_name").as(s"level_${i}_node_name"),
        e.getField("level_name").as(s"level_${i}_level_name"))
    }
    walked
      .withColumn("node_sort_order", row_number().over(order).cast("long"))
      // Reference-parity struct columns (aggregation_example.sql:176-184):
      // node_json = the node's full record incl. its final sort order;
      // node_json_path = root→node list of per-level records.
      .withColumn("node_json", struct(
        (baseCols.map(col) :+ col("level_number") :+
          col("node_sort_order")): _*))
      .withColumn("node_json_path", col("path"))
      .select(baseCols.map(col) ++
        Seq(col("level_number"), col("path_key"), col("node_sort_order"),
          col("node_json"), col("node_json_path")) ++
        levelCols: _*)
      .orderBy("node_sort_order")
  }

  private val nodeAttrs = Seq("node_natural_key", "node_name", "level_name",
    "level_number", "is_root", "is_leaf", "node_sort_order")

  /** Build the exploded ancestor–descendant closure dimension
    * (reference: aggregation_example.sql:351-425): one row per
    * (ancestor, descendant) pair including self-pairs — the anchor is
    * *every* node, unfiltered (reference comment near :382). Joining
    * facts on the descendant key then fans out each fact to all its
    * ancestors, which is what makes non-additive aggregates
    * (COUNT DISTINCT) correct at every level in one plain GROUP BY.
    * Depth-independent — the shape that scales (SURVEY.md §0).
    */
  def buildClosureDim(reportingDim: DataFrame): DataFrame = {
    val d = reportingDim.localCheckpoint(true)

    val anchor = d.select(
      nodeAttrs.map(n => col(n).as(s"ancestor_$n")) ++
        nodeAttrs.map(n => col(n).as(s"descendant_$n")) :+
        col("node_id").as("descendant_node_id"): _*)

    def step(frontier: DataFrame): DataFrame = {
      val c = d.as("c")
      val p = frontier.as("p")
      c.join(p, col("c.parent_node_id") === col("p.descendant_node_id"))
        .select(
          nodeAttrs.map(n => col(s"p.ancestor_$n")) ++
            nodeAttrs.map(n => col(s"c.$n").as(s"descendant_$n")) :+
            col("c.node_id").as("descendant_node_id"): _*)
    }

    Recursion.expand(anchor, step)
      .withColumn("net_level",
        col("descendant_level_number") - col("ancestor_level_number"))
      .drop("descendant_node_id")
  }

  /** `LPAD`-indented display name (reference: aggregation_example.sql:334-337).
    * Spark's `functions.lpad` takes a literal length; dynamic length
    * needs the expression form.
    */
  private def indent(levelNumber: Column, text: Column): Column =
    concat(call_function("lpad", lit("-"), (levelNumber - 1) * 7, lit("-")), text)

  /** Strategy 1 — level-column flattening + GROUP BY ROLLUP
    * (reference: aggregation_example.sql:308-348). `aggs` are
    * pre-aliased aggregate columns; their aliases are preserved in the
    * output. The dim side is broadcast (dims ≪ facts); the single
    * shuffle is the ROLLUP aggregation exchange.
    *
    * Input contract (shared with `closureReport`): `facts` may come at
    * any grain that keeps `factKey` and every column a distinct count
    * reads — e.g. pre-aggregated per distinct key, so the ×levels
    * fan-out multiplies fewer rows. Additive measures are then passed
    * as re-aggregations of their partials (`sum(p_sum)`, `sum(p_cnt)`
    * for a count); distinct counts stay `countDistinct` over the kept
    * key, recomputed per node and never summed from children.
    */
  def rollupReport(facts: DataFrame, dim: DataFrame, factKey: Column,
      namedAggs: Seq[(String, Column)], levels: Int): DataFrame = {
    val aggs = namedAggs.map { case (n, c) => c.as(n) }
    val aggAliases = namedAggs.map(_._1)
    val levelKeys = (1 to levels).map(i => col(s"level_${i}_node_natural_key"))
    val joined = facts.join(broadcast(dim), factKey === dim("node_natural_key"))

    // grouping() is only valid inside the aggregate list (SURVEY A5).
    val gCols = (1 to levels).map(i => grouping(levelKeys(i - 1)).as(s"g_$i"))
    val allAggs = aggs ++ gCols
    val agged = joined.rollup(levelKeys: _*)
      .agg(allAggs.head, allAggs.tail: _*)
      // HAVING NOT GROUPING(level_1)=1 — drop the grand-total set
      // (reference :331).
      .where(col("g_1") === 0)

    // Deepest non-null level key picks the node this grouping set
    // represents (reference :309-315). Build the when-chain so the
    // DEEPEST level is tested first (outermost).
    val nodeKey = (1 to levels).foldLeft[Column](lit(null)) { (acc, i) =>
      when(col(s"g_$i") === 0, levelKeys(i - 1)).otherwise(acc)
    }
    val keyed = agged.withColumn("product_node_key", nodeKey)

    // Join back to the dim for names and deterministic sort order
    // (reference :343-346); natural key is unique (reference UK :10).
    val dimSlim = broadcast(dim.select(
      col("node_natural_key").as("k"),
      col("node_name"), col("level_name"), col("level_number"),
      col("node_sort_order")))
    keyed.join(dimSlim, col("product_node_key") === col("k"))
      .select(Seq(
        indent(col("level_number"), col("level_name")).as("product_level_name"),
        indent(col("level_number"), col("node_name")).as("product_node_name")) ++
        aggAliases.map(col) :+
        col("node_sort_order"): _*)
      .orderBy("node_sort_order")
  }

  /** Strategy 2 — closure-table aggregation
    * (reference: aggregation_example.sql:433-453): fan-out join on the
    * descendant key, then one plain GROUP BY per ancestor recomputes
    * every aggregate (distinct counts included) at every level.
    * The closure is broadcast; fact rows fan out ×depth on the map
    * side, then one aggregation shuffle on the ancestor key. `facts`
    * follow `rollupReport`'s input contract: any grain that keeps
    * `factKey` and the distinct-count columns, with additive measures
    * passed as re-aggregations of their partials.
    */
  def closureReport(facts: DataFrame, closure: DataFrame, factKey: Column,
      namedAggs: Seq[(String, Column)]): DataFrame = {
    val aggs = namedAggs.map { case (n, c) => c.as(n) }
    val aggAliases = namedAggs.map(_._1)
    facts.join(broadcast(closure),
        factKey === closure("descendant_node_natural_key"))
      .groupBy(col("ancestor_node_name"), col("ancestor_level_name"),
        col("ancestor_level_number"), col("ancestor_node_sort_order"))
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(
        indent(col("ancestor_level_number"), col("ancestor_level_name"))
          .as("product_level_name"),
        indent(col("ancestor_level_number"), col("ancestor_node_name"))
          .as("product_node_name")) ++
        aggAliases.map(col) :+
        col("ancestor_node_sort_order"): _*)
      .orderBy("ancestor_node_sort_order")
  }
}
