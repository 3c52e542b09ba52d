package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew
import graft.sources.Tables

/** Scale-mechanism tests: bucketed co-located joins, salting
  * equivalence, streaming from a real file source.
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("bucketed tables join without a shuffle (co-located join)") {
    // spark.sql.warehouse.dir is static — bucketed tables land in the
    // session's default warehouse; drop them when done
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Tables.lineitem(spark, dir).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.orders(spark, dir).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")
    try {
      // hint("merge") pins a SortMergeJoin (AQE would broadcast these
      // tiny tables and hide the property under test)
      val joined = spark.table("li_b").hint("merge")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      joined.collect() // force execution through AQE
      val plan = joined.queryExecution.executedPlan.toString
      // bucketed co-located join: scans read bucketed, and there is no
      // exchange on either JOIN key (the group-by's own exchange on
      // o_orderpriority is expected and unrelated)
      assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"expected shuffle-free bucketed join:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("bucketed shingle index makes the dedup pair self-join exchange-free") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, dir).limit(120)
    val kept = Dedup.keptShingles(docs, maxDf = 50)
    spark.sql("DROP TABLE IF EXISTS kept_sh_b")
    kept.write.bucketBy(8, "g").sortBy("g")
      .mode("overwrite").saveAsTable("kept_sh_b")
    try {
      val bucketed = spark.table("kept_sh_b").hint("merge")
      val pairs = Dedup.ngramJaccardPairsFromKept(bucketed, minJaccard = 0.6)
      val got = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
      // the shingle-key self-join reads both sides pre-partitioned on g:
      // no exchange on the join key (the pair-count groupBy's exchange
      // on (a_id, b_id) is expected and unrelated)
      assert(!plan.contains("Exchange hashpartitioning(g"),
        s"expected exchange-free shingle join:\n$plan")
      // identical pairs through the unbucketed path
      val expect = Dedup.ngramJaccardPairsFromKept(kept, minJaccard = 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(got.toSeq === expect.toSeq)
      assert(got.nonEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS kept_sh_b")
  }

  test("salted aggregation is exactly result-equal to the plain aggregate") {
    val ev = Tables.events(spark, dir)
    val salted = Skew.saltedSumCount(ev, Seq("event_type"), "value")
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val plain = ev.groupBy("event_type")
      .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as("s"),
        count(lit(1)).as("n"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("salted join shuffles on (key, salt) and equals the plain join") {
    val fact = Tables.lineitem(spark, dir).select("l_suppkey", "l_quantity")
    val dim = Tables.supplier(spark, dir)
      .withColumnRenamed("s_suppkey", "l_suppkey")
      .select("l_suppkey", "s_nationkey")
    val salted = Skew.saltedJoin(fact, dim, Seq("l_suppkey"))
    // The hot-key spreading claim: NOT a broadcast join (one hot key
    // on one task), but a shuffle join keyed on (l_suppkey, _salt).
    val plan = salted.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"salted join must not broadcast:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a shuffle join on the salted key:\n$plan")
    assert(plan.contains("_salt"), s"salt key missing from the plan:\n$plan")

    val got = salted.groupBy("s_nationkey").count()
      .orderBy("s_nationkey").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val want = fact.join(dim, "l_suppkey").groupBy("s_nationkey").count()
      .orderBy("s_nationkey").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("AQE splits a skewed join partition at runtime (no manual salt)") {
    import spark.implicits._
    // one hot key carrying ~90% of the left side; thresholds lowered so
    // the skew is visible at test volume (defaults are 256 MB). Session
    // confs restored after — the suite shares the session.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // the group-by above the join means the split "adds" a shuffle in
      // AQE's cost check even though that exchange exists either way;
      // force mirrors what a real skewed ETL would configure
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = (1 to 60000).map(i =>
        (if (i % 10 == 0) (i % 50).toLong else 7L, s"payload_$i"))
        .toDF("k", "pay")
      val right = (0L to 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
      // max(pay) keeps the unique payload strings flowing through the
      // join shuffle — a pruned all-constant key column compresses
      // below any skew threshold at test volume
      val joined = left.hint("merge")
        .join(right.hint("merge"), Seq("k"))
        .groupBy("name").agg(count(lit(1)).as("n"), max("pay").as("p"))
      val rows = joined.collect()
      assert(rows.map(_.getLong(1)).sum == 60000L)
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin(skew=true)") &&
        plan.contains("AQEShuffleRead skewed"),
        s"expected AQE to mark and split the skewed side:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partitioned scan prunes partitions (PartitionFilters reach the scan)") {
    val byMonth = graft.sources.Warehouse.ordersByMonth(spark, dir)
    val months = byMonth.select("o_month").distinct().count()
    val filtered = byMonth
      .filter(col("o_month") >= "1997-01" && col("o_month") <= "1997-12")
      .groupBy("o_month").count()
    filtered.collect()
    val scan = filtered.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters: ["), s"no PartitionFilters:\n$scan")
    assert(scan.contains("o_month"), s"partition key missing from filters:\n$scan")
    // the scan's selected partition count must be < all months: the
    // pruned directories are never opened
    val selected = "partition count: (\\d+)".r
      .findFirstMatchIn(filtered.queryExecution.executedPlan.toString)
    val prunedOk = selected.forall(_.group(1).toInt < months)
    assert(prunedOk, s"expected < $months partitions selected:\n$scan")
    // and the query itself answers correctly vs the unpartitioned source
    val expect = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1998-01-01")
      .count()
    val got = filtered.agg(sum("count")).collect()(0).getLong(0)
    assert(got == expect, s"partitioned answer $got != flat answer $expect")
  }

  test("shard reader opens only its own shard directory (p18 dataloader contract)") {
    // A training reader asks for shard k; partition pruning must keep
    // every other shard's files unopened, and the shard content must
    // equal the raw table filtered by the same hash arithmetic.
    val byShard = graft.sources.Warehouse.documentsByShard(spark, dir)
    val one = byShard.filter(col("shard") === 3)
    val got = one.count()
    val scan = one.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters: ["), s"no PartitionFilters:\n$scan")
    assert(scan.contains("shard"), s"partition key missing:\n$scan")
    val selected = "partition count: (\\d+)".r
      .findFirstMatchIn(one.queryExecution.executedPlan.toString)
    assert(selected.forall(_.group(1).toInt == 1), s"expected 1 partition:\n$scan")
    val expect = Tables.documents(spark, dir)
      .filter(graft.sources.Warehouse.shardId(col("doc_id")) === 3).count()
    assert(got == expect, s"shard 3 count $got != raw-table recompute $expect")
  }

  test("dynamic partition pruning: a filtered dim prunes fact partitions at runtime") {
    // The other half of q23's static pruning story: when the partition
    // key arrives through a JOIN (dim filtered at runtime), Spark's DPP
    // plants a dynamicpruning subquery in the fact scan's
    // PartitionFilters, so only the dim's surviving months are listed —
    // the mechanism that makes dim-driven fact scans cheap at 100 TB.
    import spark.implicits._
    val byMonth = graft.sources.Warehouse.ordersByMonth(spark, dir)
    val months = byMonth.select("o_month").distinct().as[String].collect().sorted
    // the dim must be a REAL scan: a local relation constant-folds its
    // filter away at plan time and DPP never sees a selective predicate
    val dimPath = "spark-warehouse/dpp_months_dim"
    months.zipWithIndex.toSeq.toDF("m", "idx")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("idx") < 3)
    val joined = byMonth.join(dim, col("o_month") === col("m"))
      .groupBy("o_month").count()
    val initial = joined.queryExecution.executedPlan.toString
    assert(initial.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in PartitionFilters:\n$initial")
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = byMonth.where(col("o_month").isin(months.take(3): _*))
      .groupBy("o_month").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect, s"DPP answer $got != static-filter answer $expect")
  }

  test("runtime bloom filter from a selective dim filter prunes the fact side") {
    // The 100 TB shuffle-join reducer: when a dim carries a selective
    // predicate, Catalyst's InjectRuntimeFilter builds a bloom filter
    // of the surviving join keys and applies it to the fact side
    // BEFORE the join's exchange, so filtered-out fact rows never
    // shuffle. Thresholds are production-sized (fact scan ≥ 10 GB), so
    // this test lowers them to exercise the mechanism at sf0.001;
    // broadcast is disabled because a broadcast join needs no runtime
    // filter (the dim rides along anyway).
    val set = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = set.map { case (k, _) => k -> spark.conf.getOption(k) }
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def query() = Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val q = query()
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected a bloom runtime filter in the optimized plan:\n$optimized")
      val withFilter = q.collect().map(_.toSeq).toSet
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = query().collect().map(_.toSeq).toSet
      assert(withFilter == without,
        s"bloom-filtered result differs: $withFilter vs $without")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed edge table drives PageRank with zero exchange on the edge side") {
    // The 100 TB PageRank layout the Graph scaladoc promises: persist
    // the loop-invariant (src, dst, outdeg) table bucketBy("src") once,
    // then every iteration's rank-onto-edge join reads the bucketed
    // scan in place — the only per-round exchange is the contribution
    // aggregate's, and NOTHING ever re-partitions by src. Broadcast is
    // disabled so the tiny test ranks can't hide the property under a
    // BroadcastHashJoin.
    import graft.operators.Graph
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val raw = (1 to 300).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (raw ++ raw.map(_.swap)).toDF("src", "dst")
    val p0 = Graph.prepare(edges)
    spark.sql("DROP TABLE IF EXISTS pr_ewd_b")
    p0.ewd.write.bucketBy(8, "src").sortBy("src")
      .mode("overwrite").saveAsTable("pr_ewd_b")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = Graph.Prepared(spark.table("pr_ewd_b"), p0.nodes, p0.n)
      // the LAZY loop plan: the public entry checkpoints the result, so
      // its plan is an RDD scan — the per-round structure lives here
      val pr = Graph.pageRankLoop(bucketed, iters = 3, damping = 0.85)
      pr.write.format("noop").mode("overwrite").save()
      val plan = pr.queryExecution.executedPlan
      assert(plan.toString.contains("Bucketed: true"),
        s"expected bucketed edge scans:\n$plan")
      // Structural proof that only the O(nodes) rank side moves: each
      // per-round join has exactly one aggregate-free side — the edge
      // side — and that side is the bucketed scan with NO shuffle
      // between it and the join. (The rank side DOES re-exchange to
      // align with the bucket count; that is the O(nodes) cost the
      // design pays on purpose.)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      // collect through the AQE wrappers collect() refuses to descend
      def flat(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
        case s: QueryStageExec => flat(s.plan)
        case other => other.children.flatMap(flat)
      })
      val joins = flat(plan).collect {
        case j: SortMergeJoinExec => (j.left, j.right)
        case j: ShuffledHashJoinExec => (j.left, j.right)
      }
      assert(joins.size == 3, s"expected 3 per-round joins, got ${joins.size}:\n$plan")
      joins.foreach { case (l, r) =>
        // the edge side is the one that IS the bucketed scan (no
        // aggregate above it); deeper rounds' rank sides also contain
        // the scan transitively, but always under their aggregate
        val edgeSides = Seq(l, r).filter { s =>
          val fs = flat(s)
          fs.collectFirst { case a: BaseAggregateExec => a }.isEmpty &&
            fs.exists {
              case f: org.apache.spark.sql.execution.FileSourceScanExec =>
                f.tableIdentifier.exists(_.table == "pr_ewd_b")
              case _ => false
            }
        }
        assert(edgeSides.size == 1, s"expected one bucketed-scan edge side:\n$plan")
        assert(flat(edgeSides.head).collectFirst {
          case e: ShuffleExchangeLike => e }.isEmpty,
          s"edge side must never re-exchange:\n$plan")
      }
      // bit-identical ranks vs the localCheckpoint path (decimal
      // contribution sums are order-free)
      val got = pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val expect = Graph.pageRankPrepared(p0, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS pr_ewd_b")
    }
  }
}
