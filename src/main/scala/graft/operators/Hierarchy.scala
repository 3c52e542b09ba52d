package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.plans.{Loops, Recursion}

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

  private val baseCols = Seq("node_id", "node_natural_key", "node_name", "level_name",
    "parent_node_id", "is_root", "is_leaf")

  // Path entries mirror the reference's node_json_path element shape
  // (aggregation_example.sql:111-128): full node record + its level.
  private def pathEntry(prefix: String, levelNumber: Column): Column = struct(
    (baseCols.map(n => col(s"$prefix$n").as(n)) :+ levelNumber.as("level_number")): _*)

  /** Level 1 of the walk: the roots, each with its path key and a
    * one-entry path.
    */
  private def anchorOf(nodes: DataFrame): DataFrame =
    nodes.filter(col("parent_node_id").isNull).select(baseCols.map(col) ++ Seq(
      lit(1).as("level_number"),
      lpadKey(col("node_natural_key")).as("path_key"),
      array(pathEntry("", lit(1))).as("path")): _*)

  /** One level of the walk: the children of `frontier` among `nodes`,
    * their path keys and paths extended by one entry.
    */
  private def childrenOf(nodes: DataFrame)(frontier: DataFrame): DataFrame = {
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

  /** Build the flattened reporting dimension: one row per node with
    * `level_number`, deterministic `node_sort_order`, and
    * `level_1..levels` ancestor columns
    * (reference: aggregation_example.sql:86-204).
    *
    * Two walks emit the same rows, names and types:
    *  - One task, when the node count fits one partition by the loop
    *    width rule (`Loops.fitsOneTask` at a row width of
    *    the node schema × (2·levels + 2), ≤ 83,886 nodes of five
    *    strings at 3 levels and the 64 MB default) and both id columns
    *    are strings or integral, whose JVM equality is Spark's join
    *    equality. After one count job, one lazy task (`coalesce(1)` +
    *    `mapPartitions`) holds the nodes and walks the parent pointers
    *    from the roots level by level; nothing is sent to the driver.
    *    The task holds the node rows plus one path entry and a few
    *    words per walked node, below the output width the gate sizes.
    *    `node_sort_order` is computed in the task in `path_key` order
    *    (UTF-8 bytes, nulls first), the order of the window below.
    *  - Otherwise `Recursion.expand`: one distributed join per level,
    *    and `node_sort_order` from an un-partitioned `row_number`
    *    window, a single-partition exchange — acceptable because
    *    dimensions are small by definition (≪ facts); never apply to
    *    fact-sized data.
    *
    * A node deeper than `levels` (or a cycle reachable from a root,
    * through duplicate `node_id`s) throws the `IllegalStateException`
    * of `Recursion.depthExceeded` on both walks; the one-task walk
    * throws it from its task, inside the caller's first action.
    */
  def buildReportingDim(nodesRaw: DataFrame, levels: Int): DataFrame = {
    val walked = oneTaskKeyType(nodesRaw, levels)
      .map(walkInOneTask(nodesRaw, _, levels))
      .getOrElse(walkInRounds(nodesRaw, levels))
    val levelCols = (1 to levels).flatMap { i =>
      val e = try_element_at(col("path"), lit(i))
      Seq(
        e.getField("node_natural_key").as(s"level_${i}_node_natural_key"),
        e.getField("node_name").as(s"level_${i}_node_name"),
        e.getField("level_name").as(s"level_${i}_level_name"))
    }
    walked
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
      // Both walks end in one partition (the task, or the window's
      // exchange), so sorting within it is the global order; a global
      // sort would add a range exchange that runs the walk twice more.
      .sortWithinPartitions("node_sort_order")
  }

  /** The walk's rows (anchor schema + `node_sort_order`) from
    * `Recursion.expand`: one join per level, then a global window.
    */
  private def walkInRounds(nodesRaw: DataFrame, levels: Int): DataFrame = {
    // localCheckpoint stabilizes non-deterministic columns (uuid()
    // defaults, SURVEY P9) before the self-joins below re-evaluate them.
    val nodes = deriveAttrs(nodesRaw).localCheckpoint(true)
    Recursion.expand(anchorOf(nodes), childrenOf(nodes), maxDepth = levels + 1)
      // Global DFS order (dim-sized data only — see scaladoc).
      .withColumn("node_sort_order",
        row_number().over(Window.orderBy(col("path_key").asc)).cast("long"))
  }

  /** The type the one-task walk matches parent pointers on — `long`
    * for integral ids, the binary-collated string for string ids — if
    * the node set fits one partition (one count job). Other id types
    * (decimals, doubles, collated strings, mixed) have a join equality
    * that JVM equality does not reproduce, so they keep the rounds.
    */
  private def oneTaskKeyType(nodes: DataFrame, levels: Int): Option[DataType] = {
    val ids = Seq("node_id", "parent_node_id").map(nodes.schema(_).dataType)
    val keyType =
      if (ids.forall(_ == StringType)) Some(StringType)
      else if (ids.forall {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }) Some(LongType)
      else None
    // each output row carries its node twice (columns, node_json) and
    // up to `levels` ancestors twice (node_json_path, level columns)
    val bytesPerRow = math.min(Int.MaxValue.toLong,
      nodes.schema.defaultSize.toLong * (2L * levels + 2)).toInt
    keyType.filter(_ =>
      Loops.fitsOneTask(nodes.sparkSession, nodes.count(), bytesPerRow))
  }

  /** The walk's rows in one lazy task: `coalesce(1)` + `mapPartitions`
    * over [[walkParents]]. The row schema is that of the rounds' union
    * of levels (anchor ∪ one level, analysed without a job) plus
    * `node_sort_order`. Path-key parts come from [[lpadKey]] in the
    * projection, so Spark's cast and pad apply.
    */
  private def walkInOneTask(nodes: DataFrame, keyType: DataType,
      levels: Int): DataFrame = {
    val attrs = deriveAttrs(nodes)
    val anchor = anchorOf(attrs)
    val schema = anchor.union(childrenOf(attrs)(anchor)).schema
      .add("node_sort_order", LongType, nullable = false)
    nodes.select(baseCols.take(5).map(col) ++ Seq(
        col("node_id").cast(keyType), col("parent_node_id").cast(keyType),
        lpadKey(col("node_natural_key"))): _*)
      .coalesce(1)
      .mapPartitions((it: Iterator[Row]) => walkParents(it, levels))(
        Encoders.row(schema))
  }

  private val PathSep = UTF8String.fromString("/")

  /** Walk one partition of node rows (the five input columns, id key,
    * parent key, path-key part) from the roots, level by level, and
    * emit every walked node in `path_key` order: the base columns with
    * `is_root`/`is_leaf`, `level_number`, `path_key`, the root→node
    * path and `node_sort_order`. A child is walked once per walked
    * row whose id key equals its parent key, as the rounds' join does.
    * Memory is the node rows plus a few words and one path entry per
    * walked node; paths are assembled per emitted row.
    */
  private def walkParents(in: Iterator[Row], levels: Int): Iterator[Row] = {
    val nodes = in.toArray
    val children = nodes.indices.filter(i => !nodes(i).isNullAt(6))
      .groupBy(i => nodes(i).get(6))
    def isLeaf(i: Int) = nodes(i).isNullAt(5) || !children.contains(nodes(i).get(5))
    // walked node w: its input row, the walked index of its parent
    // (-1 for a root), its level and its path key
    val node, up, level = scala.collection.mutable.ArrayBuffer.empty[Int]
    val key = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    def visit(i: Int, parent: Int, lvl: Int, k: UTF8String): Unit = {
      if (lvl > levels) throw Recursion.depthExceeded(levels + 1)
      node += i; up += parent; level += lvl; key += k
    }
    def part(i: Int) = UTF8String.fromString(nodes(i).getString(7))
    nodes.indices.filter(nodes(_).isNullAt(4)).foreach(i => visit(i, -1, 1, part(i)))
    var from = 0
    while (from < node.length) {
      val end = node.length
      for (w <- from until end; c <- children.getOrElse(nodes(node(w)).get(5), Nil))
        visit(c, w, level(w) + 1, UTF8String.concat(key(w), PathSep, part(c)))
      from = end
    }
    val entries = node.indices.map { w =>
      val r = nodes(node(w))
      Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4),
        r.isNullAt(4), isLeaf(node(w)), level(w))
    }
    def path(w: Int): List[Row] =
      Iterator.iterate(w)(up(_)).takeWhile(_ >= 0).foldLeft(List.empty[Row])(
        (p, a) => entries(a) :: p)
    val byKey: Ordering[Int] = (a, b) => (key(a), key(b)) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x, y) => x.binaryCompare(y)
    }
    node.indices.sorted(byKey).iterator.zipWithIndex.map { case (w, i) =>
      val e = entries(w)
      Row.fromSeq(e.toSeq ++ Seq(Option(key(w)).map(_.toString).orNull,
        path(w), i + 1L))
    }
  }

  private val nodeAttrs = Seq("node_natural_key", "node_name", "level_name",
    "level_number", "is_root", "is_leaf", "node_sort_order")

  /** Build the exploded ancestor–descendant closure dimension
    * (reference: aggregation_example.sql:351-425): one row per
    * (ancestor, descendant) pair including self-pairs — every node is
    * its own ancestor (reference comment near :382). Joining facts on
    * the descendant key then fans out each fact to all its ancestors,
    * which is what makes non-additive aggregates (COUNT DISTINCT)
    * correct at every level in one plain GROUP BY.
    *
    * Derived from the dim's paths, with no recursion: each row's
    * `node_json_path` already lists its ancestors root→self, so one
    * explode plus one broadcast join back to the dim on `node_id`
    * (the reference's primary key) yields every pair with the
    * ancestor's own columns, `node_sort_order` included.
    * Depth-independent — the shape that scales (SURVEY.md §0).
    */
  def buildClosureDim(reportingDim: DataFrame): DataFrame = {
    val ancestors = broadcast(reportingDim.select(
      col("node_id").as("ancestor_node_id") +:
        nodeAttrs.map(n => col(n).as(s"ancestor_$n")): _*))
    reportingDim
      .select(explode(col("node_json_path.node_id")).as("ancestor_node_id") +:
        nodeAttrs.map(n => col(n).as(s"descendant_$n")): _*)
      .join(ancestors, "ancestor_node_id")
      .select(nodeAttrs.map(n => col(s"ancestor_$n")) ++
        nodeAttrs.map(n => col(s"descendant_$n")): _*)
      .withColumn("net_level",
        col("descendant_level_number") - col("ancestor_level_number"))
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
