package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Tutorial
import graft.operators.Hierarchy
import graft.queries.{DeepHierarchyQueries, HierarchyQueries}
import graft.sources.Tables

/** Golden tests against the reference tutorial dataset
  * (reference: aggregation_example.sql; expected values derived from
  * its seed data :18-53,:220-298 and golden CSV results/
  * product_reporting_dim_table_contents.csv — compared on natural
  * keys, never on generated uuids).
  */
class HierarchySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val nodes = Tutorial.productNodes(spark)
  private lazy val dim = Hierarchy.buildReportingDim(nodes, 3).localCheckpoint(true)
  private lazy val closure = Hierarchy.buildClosureDim(dim).localCheckpoint(true)
  private val small = "/root/testdata/sf0.001"

  test("tutorial nodes are a local relation: no Spark job, fixed ids, resolved parents") {
    import org.apache.spark.sql.types._
    val ((df, first, second), counts) = scala.util.Using.resource(
        new MetricsLedger(spark.sparkContext)) { ledger =>
      ledger.measure {
        val df = Tutorial.productNodes(spark)
        (df, df.collect(), df.collect())
      }
    }
    assert(df.schema == StructType(Seq(
      StructField("node_id", StringType, nullable = false),
      StructField("node_natural_key", IntegerType, nullable = false),
      StructField("node_name", StringType),
      StructField("level_name", StringType),
      StructField("parent_node_id", StringType))))
    assert(counts.jobs == 0, s"building and collecting the nodes ran ${counts.jobs} jobs")
    val ids = first.map(_.getString(0)).toSet
    assert(first.length == 7 && ids.size == 7)
    val parentOf = first.map(r => r.getInt(1) -> Option(r.getString(4))).toMap
    assert(parentOf(0).isEmpty, "the root's parent must be null")
    assert((parentOf - 0).values.forall(_.exists(ids)),
      s"every non-root parent must be a node id: $parentOf")
    assert(second.toSeq == first.toSeq, "two collects of one DataFrame must agree")
  }

  test("reporting dim: 7 rows, correct levels and flags") {
    val rows = dim.select("node_natural_key", "node_name", "level_number",
      "is_root", "is_leaf").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getBoolean(3), r.getBoolean(4)))
      .toSet
    assert(rows == Set(
      (0, "All Products", 1, true, false),
      (10, "Produce", 2, false, false),
      (20, "Candy", 2, false, false),
      (101, "Spinach", 3, false, true),
      (102, "Tomatoes", 3, false, true),
      (201, "Hershey Bar", 3, false, true),
      (202, "Nerds", 3, false, true)))
  }

  test("reporting dim: node_sort_order is a valid deterministic DFS order") {
    val ordered = dim.orderBy("node_sort_order")
      .select("node_natural_key").collect().map(_.getInt(0)).toSeq
    // zero-padded natural-key path ⇒ Produce(10) before Candy(20)
    assert(ordered == Seq(0, 10, 101, 102, 20, 201, 202))
  }

  test("reporting dim: level columns hold the ancestor path, NULL below depth") {
    val spinach = dim.filter(col("node_name") === "Spinach").collect().head
    assert(spinach.getAs[Int]("level_1_node_natural_key") == 0)
    assert(spinach.getAs[Int]("level_2_node_natural_key") == 10)
    assert(spinach.getAs[Int]("level_3_node_natural_key") == 101)
    val root = dim.filter(col("node_name") === "All Products").collect().head
    assert(root.isNullAt(root.fieldIndex("level_2_node_natural_key")))
    assert(root.isNullAt(root.fieldIndex("level_3_node_natural_key")))
  }

  test("closure dim: 17 pairs = 7 self + 6 depth-1 + 4 depth-2") {
    assert(closure.count() == 17)
    assert(closure.filter(col("net_level") === 0).count() == 7)
    assert(closure.filter(col("net_level") === 1).count() == 6)
    assert(closure.filter(col("net_level") === 2).count() == 4)
    // every (ancestor, descendant) pair appears exactly once
    assert(closure.groupBy("ancestor_node_natural_key", "descendant_node_natural_key")
      .count().filter(col("count") > 1).isEmpty)
  }

  test("closure report: All Products row matches reference-derivable totals") {
    val facts = Tutorial.salesFacts(spark, nodes)
    val aggs: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "sum_sales" -> sum(col("sales_amount")).cast("double"),
      "sum_units" -> sum(col("unit_quantity")).cast("double"),
      "n_cust" -> countDistinct(col("customer_id")),
      "n_facts" -> count(lit(1)))
    val rep = Hierarchy.closureReport(facts, closure, col("product_id"), aggs)
    val top = rep.orderBy("ancestor_node_sort_order").collect().head
    assert(top.getAs[Double]("sum_sales") == 33.0)
    assert(top.getAs[Double]("sum_units") == 24.0)
    assert(top.getAs[Long]("n_cust") == 5L)
    assert(top.getAs[Long]("n_facts") == 8L)
  }

  test("rollup report equals closure report on all shared levels") {
    val facts = Tutorial.salesFacts(spark, nodes)
    val aggs: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "sum_sales" -> sum(col("sales_amount")).cast("double"),
      "n_cust" -> countDistinct(col("customer_id")),
      "n_facts" -> count(lit(1)))
    val ro = Hierarchy.rollupReport(facts, dim, col("product_id"), aggs, 3)
      .select("product_node_name", "sum_sales", "n_cust", "n_facts")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
    val cl = Hierarchy.closureReport(facts, closure, col("product_id"), aggs)
      .select("product_node_name", "sum_sales", "n_cust", "n_facts")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
    assert(ro == cl)
  }

  test("depth-8 generality: dim columns, closure depth-independence, report parity") {
    // Heap-indexed binary tree of depth 8 (255 nodes) generated from a
    // range — the reference's per-depth hand-edit caveat
    // (aggregation_example.sql:202,325) must not exist here: the SAME
    // builder call with levels = 8 derives all 8 level-column triples.
    import spark.implicits._
    val depth = 8
    val n = (1 << depth) - 1
    val nodes8 = (1 to n).map { k =>
      val key = f"B$k%04d"
      val parent = if (k == 1) null else f"B${k / 2}%04d"
      (key, key, s"n$k", s"L${32 - Integer.numberOfLeadingZeros(k)}", parent)
    }.toDF("node_id", "node_natural_key", "node_name", "level_name",
      "parent_node_id")
    val dim8 = Hierarchy.buildReportingDim(nodes8, levels = depth)
      .localCheckpoint(true)
    assert(dim8.count() == n)
    // all 8 programmatic level-column triples exist and level_8 is
    // populated exactly on the leaves
    (1 to depth).foreach { i =>
      assert(dim8.columns.contains(s"level_${i}_node_natural_key"), s"level $i")
    }
    assert(dim8.filter(col(s"level_${depth}_node_natural_key").isNotNull)
      .count() == (1 << (depth - 1)))
    val closure8 = Hierarchy.buildClosureDim(dim8).localCheckpoint(true)
    // closure size for a complete binary tree: Σ_k depth(k) over nodes
    // = Σ_{l=1..8} l·2^(l-1); net_level spans 0..7 (depth-independent walk)
    val expectPairs = (1 to depth).map(l => l.toLong * (1L << (l - 1))).sum
    assert(closure8.count() == expectPairs)
    assert(closure8.agg(max("net_level")).head.getInt(0) == depth - 1)
    // rollup and closure strategies agree at depth 8, facts on leaves
    val facts8 = ((1 << (depth - 1)) until (1 << depth))
      .map(k => (f"B$k%04d", k.toLong, k * 1.0))
      .toDF("fact_key", "cid", "amt")
    val aggs: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "s" -> sum(col("amt")).cast("double"), "c" -> countDistinct(col("cid")))
    val ro = Hierarchy.rollupReport(facts8, dim8, col("fact_key"), aggs, depth)
      .select("product_node_name", "s", "c").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val cl = Hierarchy.closureReport(facts8, closure8, col("fact_key"), aggs)
      .select("product_node_name", "s", "c").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(ro == cl && ro.size == n, s"rollup=${ro.size} closure=${cl.size}")
  }

  test("closure report row equals direct subtree aggregate (Candy)") {
    val facts = Tutorial.salesFacts(spark, nodes)
    val aggs: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "sum_sales" -> sum(col("sales_amount")).cast("double"),
      "n_cust" -> countDistinct(col("customer_id")))
    val rep = Hierarchy.closureReport(facts, closure, col("product_id"), aggs)
    val candy = rep.filter(col("product_node_name").endsWith("Candy")).collect().head
    // Candy subtree = Hershey Bar (3+15, Phil+Lottie) + Nerds (5, Kalie)
    assert(candy.getAs[Double]("sum_sales") == 23.0)
    assert(candy.getAs[Long]("n_cust") == 3L)
  }

  test("h5 anchor collect is bounded by the fixed-dims contract") {
    import graft.queries.SqlQueries
    val max = SqlQueries.FixedDimsMaxRows
    assert(max === 31)
    val local = SqlQueries.collectFixedDims(spark.range(max).toDF(), "h5 fixed-dims contract")
    assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(local.collect().length === max)
    val e = intercept[IllegalArgumentException] {
      SqlQueries.collectFixedDims(spark.range(10L * max).toDF(), "h5 fixed-dims contract")
    }
    assert(e.getMessage.contains("h5 fixed-dims contract"))
  }

  test("h8 dim collect is bounded by the fixed-dims contract") {
    // h8 reads the reporting dim from the session cache: a doubled
    // (62-row) dim cached under a probe dir must stop h8 at the collect
    val probe = s"$small#doubled-dim"
    val real = HierarchyQueries.reportingDim(spark, small)
    graft.sources.SessionCache.getOrElseUpdate(spark, s"h_reporting:$probe")(
      real.unionAll(real))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("h8_closure_dim_sql")(spark, probe)
    }
    assert(e.getMessage.contains("h8 fixed-dims contract"))
  }

  test("warm h5 and h8 fold their recursion levels on the driver") {
    def run(q: String) = SparkEntry.queries(q)(spark, small).collect()
    val (h5, h8) = ("h5_reporting_dim_sql", "h8_closure_dim_sql")
    assert(run(h5).length == 31 && run(h8).length == 86) // warm-up
    val ((r5, r8), (c5, c8)) = scala.util.Using.resource(
        new MetricsLedger(spark.sparkContext)) { ledger =>
      val (r5, c5) = ledger.measure(run(h5))
      val (r8, c8) = ledger.measure(run(h8))
      ((r5, r8), (c5, c8))
    }
    assert(r5.length == 31 && r8.length == 86)
    assert(c5.jobs <= 6 && c8.jobs <= 4,
      s"warm h5 ran ${c5.jobs} jobs (at most 6), h8 ${c8.jobs} (at most 4)")
  }

  /** The per-order report measures that customer-grain facts replace:
    * the reference each pre-aggregated report must reproduce exactly. */
  private def rowGrainAggs: Seq[(String, Column)] = Seq(
    "sum_total_price" -> sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double"),
    "distinct_customer_count" -> countDistinct(col("o_custkey")),
    "count_of_fact_records" -> count(lit(1)))

  private def assertSameRows(what: String, got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.nonEmpty && g == w, s"$what:\ngot  $g\nwant $w")
  }

  test("customer-grain h3/h4/h12/h13/h14 equal row-grain references built from orders") {
    val rowFacts = Tables.orders(spark, small)
      .join(broadcast(Tables.customer(spark, small)), col("o_custkey") === col("c_custkey"))
      .select(concat(lit("N"), lpad(col("c_nationkey").cast("string"), 3, "0")).as("fact_key"),
        col("o_custkey"), col("o_totalprice"))
    val h = HierarchyQueries
    assertSameRows("h3", SparkEntry.queries("h3_rollup_report")(spark, small),
      Hierarchy.rollupReport(rowFacts, h.reportingDim(spark, small), col("fact_key"),
        rowGrainAggs, levels = 3))
    assertSameRows("h4", SparkEntry.queries("h4_closure_report")(spark, small),
      Hierarchy.closureReport(rowFacts, h.closureDim(spark, small), col("fact_key"),
        rowGrainAggs))
    // h14's shares are a function of its per-node cents; pin those
    // against the per-order cents summed over the same closure
    assertSameRows("h14",
      SparkEntry.queries("h14_share_of_parent")(spark, small).select("sort_order", "cents"),
      Hierarchy.closureReport(rowFacts, h.closureDim(spark, small), col("fact_key"),
        Seq("cents" -> sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))))
        .select("ancestor_node_sort_order", "cents"))

    // sf0.001 has no customer in the deep tree's leaf stratum (its
    // leaves start at custkey 342), so h12/h13 are checked at sf0.01
    val mid = "/root/testdata/sf0.01"
    val d = DeepHierarchyQueries
    val deepFacts = Tables.orders(spark, mid)
      .where(col("o_custkey").between(d.leafStart, d.nNodes))
      .select(concat(lit("D"), lpad(col("o_custkey").cast("string"), 5, "0")).as("fact_key"),
        col("o_custkey"), col("o_totalprice"))
    val deepDim = d.reportingDim(spark, mid)
    val depth = deepDim.columns.count(_.matches("level_\\d+_node_natural_key"))
    assertSameRows("h12", SparkEntry.queries("h12_deep_rollup")(spark, mid),
      Hierarchy.rollupReport(deepFacts, deepDim, col("fact_key"), rowGrainAggs, depth))
    assertSameRows("h13", SparkEntry.queries("h13_deep_closure")(spark, mid),
      Hierarchy.closureReport(deepFacts, d.closureDim(spark, mid), col("fact_key"),
        rowGrainAggs))
  }

  test("pre-aggregated facts recompute distinct counts: a key under several fact keys, null measures") {
    import spark.implicits._
    // tutorial leaves; most customers land under several of them, some
    // rows carry no price and a few no customer at all
    val leaves = Seq(101, 102, 201, 202)
    val rnd = new scala.util.Random(20261017L)
    val rows = (1 to 80).map { _ =>
      (leaves(rnd.nextInt(leaves.size)),
        if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(12).toLong),
        if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(1000000) / 1000.0))
    }
    val facts = rows.toDF("fact_key", "o_custkey", "o_totalprice")
    val partials = HierarchyQueries.partialAggs
    val preAgg = facts.groupBy("fact_key", "o_custkey")
      .agg(partials.head, partials.tail: _*)
    val keysUnderSeveralLeaves = rows.collect { case (l, Some(k), _) => k -> l }
      .groupBy(_._1).count(_._2.map(_._2).distinct.size > 1)
    assert(keysUnderSeveralLeaves >= 5)

    assertSameRows("rollup",
      Hierarchy.rollupReport(preAgg, dim, col("fact_key"), HierarchyQueries.reportAggs, 3),
      Hierarchy.rollupReport(facts, dim, col("fact_key"), rowGrainAggs, 3))
    val closureRows = Hierarchy.closureReport(preAgg, closure, col("fact_key"),
      HierarchyQueries.reportAggs)
    assertSameRows("closure", closureRows,
      Hierarchy.closureReport(facts, closure, col("fact_key"), rowGrainAggs))
    // the root's distinct count is below the sum of its children's:
    // a summed distinct count could not pass the checks above
    val dc = closureRows.collect().map(r =>
      r.getAs[String]("product_node_name").dropWhile(_ == '-') ->
        r.getAs[Long]("distinct_customer_count")).toMap
    assert(dc("All Products") < dc("Produce") + dc("Candy"), dc)
  }

  // ---- one-task walk vs Recursion.expand rounds, on seeded random forests ----

  /** Build under a one-byte loop target: every node set is then wider
    * than one partition, so the dim builds take `Recursion.expand`. */
  private def inRounds[T](f: => T): T = {
    val key = "spark.graft.loop.targetPartitionBytes"
    spark.conf.set(key, "1")
    try f finally spark.conf.unset(key)
  }

  private def isOneTask(dim: DataFrame): Boolean = dim.queryExecution.analyzed
    .find(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.MapPartitions])
    .isDefined

  /** Parent index per node of a seeded random forest: `roots` roots,
    * one chain under root 0 reaching exactly `depth` levels, the rest
    * hung under random nodes above `depth`; then three orphans whose
    * parent index is absent, each with two children. */
  private def forest(seed: Long, n: Int, roots: Int, depth: Int): IndexedSeq[Option[Int]] = {
    val rnd = new scala.util.Random(seed)
    val parent = scala.collection.mutable.ArrayBuffer.fill[Option[Int]](roots)(None)
    val level = scala.collection.mutable.ArrayBuffer.fill(roots)(1)
    (2 to depth).foreach { l =>
      parent += Some(if (l == 2) 0 else parent.length - 1); level += l
    }
    while (parent.length < n) {
      val p = rnd.nextInt(parent.length)
      if (level(p) < depth) { parent += Some(p); level += level(p) + 1 }
    }
    (0 until 3).foreach { k =>
      parent += Some(n + 1000 + k)
      val o = parent.length - 1
      parent += Some(o); parent += Some(o)
    }
    parent.toIndexedSeq
  }

  /** Node frames of the forests the property tests share: int ids and
    * keys (negative keys too), string ids with string keys (≥ 12-char
    * keys that `lpadKey` passes through, non-ASCII keys whose UTF-8
    * order differs from their UTF-16 order, one null key on a leaf),
    * and long ids with 12-digit keys. */
  private lazy val forests: Seq[(String, DataFrame)] = {
    import spark.implicits._
    def perm(seed: Long, n: Int) = new scala.util.Random(seed).shuffle((0 until n).toVector)
    val ints = {
      val f = forest(1L, 120, 3, 64)
      val key = perm(11L, f.size)
      f.indices.map(i => (i * 7 + 3, key(i) - 40, s"n$i", s"L$i", f(i).map(_ * 7 + 3)))
        .toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
    }
    val strings = {
      val f = forest(2L, 150, 4, 9)
      val key = perm(12L, f.size)
      val leaf = (0 until 150).reverse.find(i => !f.contains(Some(i))).get
      val heads = Seq("a", "B", "é", "Ａ", "😀", "Zz")
      f.indices.map { i =>
        val k = heads(key(i) % heads.size) + key(i) + (if (key(i) % 3 == 0) "-long-natural" else "")
        (s"id$i", if (i == leaf) null else k, s"n$i", s"L$i", f(i).map(p => s"id$p").orNull)
      }.toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
    }
    val longs = {
      val f = forest(3L, 100, 2, 20)
      val key = perm(13L, f.size)
      f.indices.map { i =>
        (10000000000L + i, (if (i % 2 == 0) 100000000000L else 0L) + key(i),
          s"n$i", s"L$i", f(i).map(10000000000L + _))
      }.toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
    }
    Seq("int" -> ints, "string" -> strings, "long" -> longs)
  }

  private val forestLevels = 64

  /** The reporting dim of each forest from both walks. */
  private lazy val forestDims: Seq[(String, DataFrame, DataFrame)] = forests.map { case (what, nodes) =>
    (what, Hierarchy.buildReportingDim(nodes, forestLevels).localCheckpoint(true),
      inRounds(Hierarchy.buildReportingDim(nodes, forestLevels).localCheckpoint(true)))
  }

  /** `f`'s failure carries the depth guard's IllegalStateException:
    * thrown directly by the rounds, or as the cause of the one-task
    * walk's failed task. */
  private def assertDepthGuard(f: => Any): Unit = {
    val e = intercept[Exception](f)
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("exceeded maxDepth=")), e)
  }

  test("one-task reporting dim equals the Recursion.expand dim on random forests") {
    forests.zip(forestDims).foreach { case ((what, nodes), (_, one, rounds)) =>
      assert(isOneTask(Hierarchy.buildReportingDim(nodes, forestLevels)), what)
      assert(!inRounds(isOneTask(Hierarchy.buildReportingDim(nodes, forestLevels))), what)
      assert(one.schema === rounds.schema, what)
      val (o, r) = (one.collect().toSeq, rounds.collect().toSeq)
      assert(o.nonEmpty && o == r, s"$what:\none    $o\nrounds $r")
      // orphans and their children are walked by neither
      assert(o.size === nodes.count() - 9, what)
    }
    val deepest = forestDims.map(_._2.agg(max("level_number")).head.getInt(0))
    assert(deepest.head === forestLevels)
  }

  test("one-task and rounds reporting dims throw the depth guard on a too-deep tree and a duplicate-id cycle") {
    import spark.implicits._
    val chain = (1 to 6).map(i => (i, i, s"n$i", s"L$i", if (i == 1) None else Some(i - 1)))
      .toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
    // "b" has two rows: the second is its own child, a cycle under root "a"
    val cycle = Seq(("a", "k1", "root", "L1", null), ("b", "k2", "x", "L2", "a"),
        ("b", "k3", "y", "L3", "b"))
      .toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
    for ((nodes, levels) <- Seq(chain -> 5, cycle -> 8)) {
      assert(isOneTask(Hierarchy.buildReportingDim(nodes, levels + 1)))
      assertDepthGuard(Hierarchy.buildReportingDim(nodes, levels).collect())
      assertDepthGuard(inRounds(Hierarchy.buildReportingDim(nodes, levels)).collect())
    }
    // exactly `levels` deep is within bounds on both walks
    assert(Hierarchy.buildReportingDim(chain, 6).count() === 6L)
    assert(inRounds(Hierarchy.buildReportingDim(chain, 6)).count() === 6L)
  }

  /** The closure by recursion over the parent edges, as it was built
    * before the dim's paths were used: the self pairs, then one join
    * per level from each pair's descendant to that node's children. */
  private def closureByRounds(dim: DataFrame): DataFrame = {
    val attrs = Seq("node_natural_key", "node_name", "level_name",
      "level_number", "is_root", "is_leaf", "node_sort_order")
    val anchor = dim.select(attrs.map(n => col(n).as(s"ancestor_$n")) ++
      attrs.map(n => col(n).as(s"descendant_$n")) :+ col("node_id").as("d_id"): _*)
    graft.plans.Recursion.expand(anchor, fr =>
      dim.as("c").join(fr.as("p"), col("c.parent_node_id") === col("p.d_id"))
        .select(attrs.map(n => col(s"p.ancestor_$n")) ++
          attrs.map(n => col(s"c.$n").as(s"descendant_$n")) :+
          col("c.node_id").as("d_id"): _*),
      maxDepth = forestLevels + 1)
      .withColumn("net_level",
        col("descendant_level_number") - col("ancestor_level_number"))
      .drop("d_id")
  }

  private def assertSameClosure(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema, what)
    def rows(df: DataFrame) =
      df.orderBy("ancestor_node_sort_order", "descendant_node_sort_order").collect().toSeq
    val (g, w) = (rows(got), rows(want))
    assert(g.nonEmpty && g == w, s"$what:\ngot  $g\nwant $w")
  }

  test("path-derived closure equals the recursive closure on random forests, from both dim walks") {
    forestDims.foreach { case (what, one, rounds) =>
      assertSameClosure(what, Hierarchy.buildClosureDim(one), closureByRounds(one))
    }
    // the rounds' dim feeds the path-derived closure the same way
    val (what, _, rounds) = forestDims(1)
    assertSameClosure(s"$what (rounds dim)", Hierarchy.buildClosureDim(rounds),
      closureByRounds(rounds))
  }

  test("a one-task walk that throws leaves the loop confs and the session cache clean") {
    import spark.implicits._
    import graft.sources.SessionCache
    val chain = (1 to 6).map(i => (s"c$i", i, s"n$i", s"L$i", if (i == 1) None else Some(s"c${i - 1}")))
      .toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
    assert(isOneTask(Hierarchy.buildReportingDim(chain, 5)))
    val before = TestSpark.loopConfs()
    val key = "hierarchy-spec:too-deep"
    assertDepthGuard(SessionCache.getOrElseUpdate(spark, key)(
      Hierarchy.buildReportingDim(chain, 5).localCheckpoint(true)))
    assert(TestSpark.loopConfs() === before)
    // no entry was left for the key: the next lookup builds
    var built = false
    SessionCache.getOrElseUpdate(spark, key) { built = true; spark.range(1).toDF() }
    assert(built)
  }
}
