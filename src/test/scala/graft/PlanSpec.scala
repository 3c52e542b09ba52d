package graft

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.HierarchyQueries

/** Physical-plan hygiene: the properties that keep these operators
  * viable at 100 TB, asserted on the actual executed plans.
  */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("closure report broadcasts the closure dim (no sort-merge on the fact side)") {
    val rep = graft.operators.Hierarchy.closureReport(
      HierarchyQueries.facts(spark, dir),
      HierarchyQueries.closureDim(spark, dir),
      col("fact_key"),
      Seq("n" -> count(lit(1))))
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("h3/h4 fan out customer-grain facts: the hierarchy join streams an o_custkey HashAggregate") {
    // (query, the dim key its fan-out join builds on)
    Seq("h3_rollup_report" -> "node_natural_key",
      "h4_closure_report" -> "descendant_node_natural_key").foreach { case (q, dimKey) =>
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      // executed plan after AQE; the helper's collect/find walk into
      // query stages
      val fanOut = collect(plan) {
        case j: BroadcastHashJoinExec if j.buildSide == BuildRight &&
            j.rightKeys.flatMap(_.references.map(_.name)) == Seq(dimKey) => j
      }
      assert(fanOut.size == 1, s"$q: expected one fan-out join built on $dimKey:\n$plan")
      val preAgg = find(fanOut.head.left) {
        case a: HashAggregateExec => a.groupingExpressions.map(_.name) == Seq("o_custkey")
        case _ => false
      }
      assert(preAgg.isDefined,
        s"$q: the fan-out must stream the o_custkey pre-aggregate:\n$plan")
    }
  }

  test("minhash pair generation is a bucket equi-join, never cartesian") {
    val pairs = graft.operators.Dedup.minhashPairs(
      graft.sources.Tables.documents(spark, dir), minEst = 0.5)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs dedup is forbidden:\n$plan")
  }

  test("ngram jaccard pair generation is an inverted-index join, never cartesian") {
    val pairs = graft.operators.Dedup.ngramJaccardPairs(
      graft.sources.Tables.documents(spark, dir))
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs dedup is forbidden:\n$plan")
  }

  test("parquet scan prunes columns for narrow projections") {
    val df = graft.sources.Tables.lineitem(spark, dir)
      .select("l_returnflag").groupBy("l_returnflag").count()
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<l_returnflag:string>"),
      s"expected pruned ReadSchema:\n$scan")
  }

  test("filter pushdown reaches the parquet scan") {
    val df = graft.sources.Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [") &&
      scan.contains("EqualTo(o_orderstatus,F)"),
      s"expected pushed filter:\n$scan")
  }

  test("saltedDistinct plans two aggregations; the second shuffle carries distinct pairs") {
    val df = graft.operators.Skew.saltedDistinct(
      graft.sources.Tables.events(spark, dir), Seq("event_type"), "user_id")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // stage 1: distinct over (event_type, user_id) — exchange on the
    // PAIR (hot keys spread); stage 2: additive count — exchange on the
    // key alone, fed by already-distinct rows
    assert(plan.contains("Exchange hashpartitioning(event_type") &&
      plan.contains("user_id"), s"expected pair-keyed exchange:\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).size
    assert(nAggs >= 4, s"expected partial+final aggs for both stages:\n$plan")
    // and NO countDistinct Expand: the decomposition replaces it
    assert(!plan.contains("Expand"), s"expected no expand-based distinct:\n$plan")
  }

  test("v2 profile's multi-distinct Expand pipeline stays hash-based") {
    // string min/max buffers are immutable and would demote the WHOLE
    // multi-distinct aggregate to SortAggregate (a full sort of the
    // ×6-expanded fact); the query isolates them in a tiny global agg.
    // Expected shape: the Expand feeds HashAggregates; the only
    // SortAggregates are the empty-key string-minmax pair (no sort).
    val df = SparkEntry.queries("v2_profile")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("Expand"), s"expected expand-based distincts:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
    val sortAggs = "SortAggregate".r.findAllIn(plan).size
    assert(sortAggs <= 2,
      s"multi-distinct pipeline demoted to sort-based aggregation:\n$plan")
  }

  test("PQ codeword argmin aggregates hash-based (packed long, no struct-min)") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val df = graft.operators.Similarity.pqTopK(
      emb, queryId = 0L, k = 10, codebookIds = (1L to 16L).toSeq)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"PQ argmin demoted to sort-based aggregation:\n$plan")
  }

  test("IVF cell-assignment argmax aggregates hash-based (packed long, no struct-max)") {
    // the n×K assignment aggregate is the widest shuffle of the IVF
    // pipeline; a max(struct(score, cell)) buffer is immutable and
    // demotes it to SortAggregate — the packed exact-integer key keeps
    // a mutable long buffer (same class as the PQ argmin and v2 fixes)
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val df = graft.operators.Similarity.ivfAssignments(
      emb, centroidIds = (0L to 7L).map(_ * 50L))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"IVF argmax demoted to sort-based aggregation:\n$plan")
  }

  test("cube report is one Expand + one aggregation exchange") {
    val df = graft.operators.GroupingOps.cubeReport(
      graft.sources.Tables.orders(spark, dir)
        .select("o_orderpriority", "o_orderstatus", "o_totalprice"),
      Seq("o_orderpriority", "o_orderstatus"),
      Seq("n" -> count(lit(1))))
    df.collect()
    // AQE's toString repeats the pre-adaptive plan under "Initial Plan";
    // count only the final section
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("Expand".r.findAllIn(plan).size >= 1, s"expected Expand:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one aggregation exchange:\n$plan")
  }

  test("dup-substring spans: semi-join flagging, windows per doc, never cartesian") {
    val df = graft.operators.Dedup.dupSubstringSpans(
      graft.sources.Tables.documents(spark, dir), windowTokens = 16)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs span detection is forbidden:\n$plan")
    assert(plan.contains("LeftSemi"), s"expected semi-join flagging:\n$plan")
    // the island windows must be doc-partitioned, never global
    assert(!plan.contains("Window [") ||
      "Window \\[[^\\]]*\\], \\[doc_id".r.findAllIn(plan).nonEmpty,
      s"island windows must partition by doc_id:\n$plan")
  }

  test("HITS rounds are hash aggregates over equi-joins: no BNL, no single-partition funnel") {
    import org.apache.spark.sql.functions._
    val edges = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(graft.sources.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val df = graft.operators.Graph.hits(edges, iters = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"HITS must be equi-joins only:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"unnormalized HITS must have no scalar funnel:\n$plan")
  }

  test("DSIR selection has no scalar-subquery broadcasts (normalization removed algebraically)") {
    val df = graft.SparkEntry.queries("p27_dsir_select")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"p27 must not cross-join scalar statistics:\n$plan")
  }

  test("q43 merge-upsert: key-hash FULL OUTER join, no funnel, no quadratic join") {
    val df = graft.SparkEntry.queries("q43_merge_upsert")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), s"MERGE needs a full-outer join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"the merge join must be key-hash:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"nothing in the merge funnels to one partition:\n$plan")
  }

  test("e19 RFM scoring has no fact-sized window — thresholds ride one 1-row broadcast") {
    val df = graft.SparkEntry.queries("e19_rfm_scores")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"quintile scoring must not be a global ntile window:\n$plan")
    // the 12-threshold frame is 1 row: its cross join is the benign
    // dispositioned BNL (PLANAUDIT e19); the user aggregate must not
    // itself funnel before the percentile aggregate consumes it
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the 1-row threshold broadcast:\n$plan")
  }

  test("p29 subword packing broadcasts the trained segmentation onto the corpus scan") {
    val df = graft.SparkEntry.queries("p29_pack_bpe_budget")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the vocab-sized BPE merge table must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"no quadratic joins in the encode path:\n$plan")
  }

  test("e21 decay engagement: one user-keyed aggregate, TakeOrdered top-k, no window") {
    val df = graft.SparkEntry.queries("e21_decay_engagement")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 must be per-partition top-k, not a global sort:\n$plan")
    assert(!plan.contains("Window ") && !plan.contains("Window ["),
      s"decay is scan-side arithmetic, not a window:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"one user-keyed exchange only:\n$plan")
  }

  test("g8 link prediction: seed-scoped wedge equi-joins, degree table broadcast") {
    val df = graft.SparkEntry.queries("g8_link_prediction")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the supplier-degree dim must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"wedge generation must be equi-join only, never all-pairs:\n$plan")
  }
}
