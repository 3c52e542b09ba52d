package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Tutorial
import graft.operators.Hierarchy

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
    val max = SqlQueries.AnchorMaxRows
    assert(max === 31)
    assert(SqlQueries.collectAnchor(spark.range(max).toDF()).length === max)
    val e = intercept[IllegalArgumentException] {
      SqlQueries.collectAnchor(spark.range(10L * max).toDF())
    }
    assert(e.getMessage.contains("h5 fixed-dims contract"))
  }
}
