package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r17 optimization-round loop machinery: scale-adaptive round
  * width, the scoped-conf helpers, and lazy-checkpoint fusion — the
  * internals every CC/graph loop now rides on.
  */
class LoopsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import graft.plans.Loops

  test("adaptedPartitions: derived from rows, clamped to [1, session width]") {
    val width = spark.sessionState.conf.numShufflePartitions
    // tiny state -> 1 partition, never 0
    assert(Loops.adaptedPartitions(spark, 0L) === 1)
    assert(Loops.adaptedPartitions(spark, 1000L) === 1)
    // huge state -> clamped at the session width (the 100 TB posture:
    // big loops keep full parallelism)
    assert(Loops.adaptedPartitions(spark, Long.MaxValue / 64) === width)
    // linear in between: 10 partitions' worth of 64 MB at 32 B/row
    val rowsFor10 = 10L * (64L << 20) / 32
    val got = Loops.adaptedPartitions(spark, rowsFor10)
    assert(got === math.min(width, 10))
  }

  test("adaptedPartitions honors the byte-target knob") {
    val key = "spark.graft.loop.targetPartitionBytes"
    spark.conf.set(key, (1L << 20).toString) // 1 MB target
    try {
      val width = spark.sessionState.conf.numShufflePartitions
      // 32 B/row, 1 MB target -> 32k rows per partition
      assert(Loops.adaptedPartitions(spark, 64 * 1024L) ===
        math.min(width, 2))
    } finally spark.conf.unset(key)
  }

  test("withShufflePartitions: scopes width (and AQE when narrow), restores both") {
    val width = spark.sessionState.conf.numShufflePartitions
    assume(width > 1, "needs a multi-partition session to test narrowing")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    Loops.withShufflePartitions(spark, 1) {
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "1")
      // narrow scope = static execution for the rounds
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "false")
    }
    assert(spark.sessionState.conf.numShufflePartitions === width)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqeBefore)
    // full-width scope keeps AQE as-is (the skew net stays on for
    // big-state loops)
    Loops.withShufflePartitions(spark, width) {
      assert(spark.conf.get("spark.sql.adaptive.enabled") === aqeBefore)
    }
    // restore still runs when the body throws
    intercept[RuntimeException] {
      Loops.withShufflePartitions(spark, 1) { throw new RuntimeException("x") }
    }
    assert(spark.sessionState.conf.numShufflePartitions === width)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqeBefore)
  }

  test("checkpointLazy: a full action materializes; the frame then survives release of its source") {
    import spark.implicits._
    val src = (1L to 1000L).toDF("x")
    val cp = Loops.checkpointLazy(src.withColumn("y", col("x") * 2))
    // the count IS the materializing job (fusion contract)
    assert(cp.count() === 1000L)
    // after materialization the plan is a LogicalRDD and re-reads blocks
    assert(cp.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    assert(cp.agg(sum("y")).as[Long].head() === 1000L * 1001L)
  }

  test("adaptedPartitions: no overflow collapse at extreme row counts (r17 advice)") {
    val width = spark.sessionState.conf.numShufflePartitions
    // rows × 32 B overflows a Long here; the division form must still
    // clamp to the session width, never collapse to 1
    assert(Loops.adaptedPartitions(spark, Long.MaxValue) === width)
    assert(Loops.adaptedPartitions(spark, Long.MaxValue / 16) === width)
  }

  test("renarrow: narrows width + disables AQE mid-scope, never widens; scope restores") {
    val width = spark.sessionState.conf.numShufflePartitions
    assume(width > 1, "needs a multi-partition session to test narrowing")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val key = "spark.graft.loop.targetPartitionBytes"
    spark.conf.set(key, "32") // 1 row per partition: width == min(rows, session)
    try {
      Loops.withShufflePartitions(spark, width) {
        // state "contracts" to 1 row -> narrow to 1, AQE off
        assert(Loops.renarrow(spark, 1L) === 1)
        assert(spark.conf.get("spark.sql.shuffle.partitions") === "1")
        assert(spark.conf.get("spark.sql.adaptive.enabled") === "false")
        // a larger count never widens back
        assert(Loops.renarrow(spark, Long.MaxValue / 2) === 1)
        assert(spark.conf.get("spark.sql.shuffle.partitions") === "1")
      }
    } finally spark.conf.unset(key)
    // the enclosing scope restores BOTH confs even though the AQE flip
    // happened mid-scope (the always-save/restore contract)
    assert(spark.sessionState.conf.numShufflePartitions === width)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqeBefore)
  }

  test("logN CC re-narrows as the edge set contracts and stays exact (large-then-contracting fixture)") {
    import graft.operators.Dedup
    // a fixture that CONTRACTS hard ENOUGH to trigger the ≥10× renarrow
    // (Loops.RenarrowFactor): 64 dense cliques of 24 nodes — each
    // clique is 276 edges collapsing to a 23-edge star after round 1,
    // a 12× drop (a 12-clique's 6× would NOT fire the trigger; the
    // logN edge set converges to the n−1-edge star, never to zero, so
    // only redundancy contracts) — chained into one long component:
    // 17727 initial edges, ~1535 after round 1.
    val pairs = cliqueChain()
    val key = "spark.graft.loop.targetPartitionBytes"
    // 32 B/row target of 1 KB -> 32 rows/partition: initial width
    // min(session, ceil(4287/32)) is > 1 for any multi-core session,
    // and the contracted rounds re-derive a smaller width
    spark.conf.set(key, "1024")
    val widthsSeen = scala.collection.mutable.ArrayBuffer.empty[Int]
    try {
      // observe the width each round actually ran at via a listener on
      // the conf is racy; instead assert the OUTPUT is exact and that
      // renarrow() itself narrowed (unit above) — plus: rounds
      // executed stays the logN bound
      val (labels, rounds) = Dedup.duplicateClustersLogNWithRounds(pairs)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every clique node must label to the component min (node 0's
      // component spans the whole chain)
      assert(got(63023L) === 0L) // last clique, high member
      assert(got(42011L) === 0L) // mid-chain clique member
      assert(rounds <= 10, s"logN bound: $rounds rounds")
      widthsSeen += 1 // marker: reached without error
    } finally spark.conf.unset(key)
    assert(widthsSeen.nonEmpty)
  }

  test("CC results are width-invariant: tiny vs huge byte target, path + forest") {
    import graft.operators.Dedup
    import spark.implicits._
    // path 1-2-3-...-12 plus a disjoint triangle and a singleton pair
    val pairs = ((1L to 11L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L)))
      .toDF("a_id", "b_id")
    val key = "spark.graft.loop.targetPartitionBytes"
    def run(): Map[Long, Long] = {
      val fix = Dedup.duplicateClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val log = Dedup.duplicateClustersLogN(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fix === log, "fixpoint and logN must agree")
      fix
    }
    spark.conf.set(key, "1") // force full session width (rows*32 >= 1 byte each)
    val wide = try run() finally spark.conf.unset(key)
    val narrow = run() // default 64 MB target -> 1 partition for this input
    assert(wide === narrow)
    assert(narrow(12L) === 1L && narrow(102L) === 100L && narrow(201L) === 200L)
  }

  /** 64 dense 24-cliques chained into one component: 17727 edges,
    * ~1535 after the first logN round.
    */
  private def cliqueChain(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val cliques = (0 until 64).flatMap { c =>
      for (i <- 0 until 24; j <- (i + 1) until 24)
        yield (c * 1000L + i, c * 1000L + j)
    }
    (cliques ++ (0 until 63).map(c => (c * 1000L, (c + 1) * 1000L)))
      .toDF("a_id", "b_id")
  }

  test("CC one-task finish (entry and mid-loop) leaves the loop confs unchanged, also when its task throws") {
    import graft.operators.Dedup
    import spark.implicits._
    assume(spark.sessionState.conf.numShufflePartitions > 1,
      "needs a multi-partition session for the entry width to exceed 1")
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled")
    def confs = keys.map(k => k -> spark.conf.getOption(k)).toMap
    val before = confs
    // The finish is lazy: its one task runs inside the caller's action.
    // A throwing projection on its output fails exactly that task.
    def failTask(df: org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception] {
        df.select(raise_error(lit("injected finish-task failure"))).collect()
      }
      assert(e.getMessage.contains("injected finish-task failure"))
    }
    // entry finish, both operators
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (entry, entryRounds) = Dedup.duplicateClustersLogNWithRounds(path)
    assert(entryRounds === 0)
    assert(entry.collect().forall(_.getLong(1) == 1L))
    assert(confs === before)
    failTask(entry)
    assert(confs === before)
    val fix = Dedup.duplicateClusters(path)
    assert(fix.count() === 12L)
    failTask(fix)
    assert(confs === before)
    // mid-loop finish: one distributed round, then the one-task tail
    val key = "spark.graft.loop.targetPartitionBytes"
    spark.conf.set(key, (4096L * 32).toString)
    val (mid, midRounds) =
      try Dedup.duplicateClustersLogNWithRounds(cliqueChain())
      finally spark.conf.unset(key)
    assert(midRounds === 1, "the contracted tail must finish in one task")
    assert(confs === before)
    val got = mid.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 64 * 24 && got.values.forall(_ == 0L))
    failTask(mid)
    assert(confs === before)
  }

  test("CC one-task finish keeps the rounds' column names and types; non-integral ids keep the rounds") {
    import graft.operators.Dedup
    import spark.implicits._
    val ints = Seq((3, 1), (1, 2), (7, 8)).toDF("a_id", "b_id")
    val strs = Seq(("c", "a"), ("a", "b"), ("x", "y")).toDF("a_id", "b_id")
    val key = "spark.graft.loop.targetPartitionBytes"
    for (pairs <- Seq(ints, strs)) {
      val oneTask = Seq(Dedup.duplicateClusters(pairs),
        Dedup.duplicateClustersLogN(pairs))
      spark.conf.set(key, "32") // one edge row per partition: the rounds
      val rounds = try Seq(Dedup.duplicateClusters(pairs),
        Dedup.duplicateClustersLogN(pairs)).map(df => df.schema -> df.collect().toSet)
        finally spark.conf.unset(key)
      for ((df, (schema, rows)) <- oneTask.zip(rounds)) {
        assert(df.schema.map(f => f.name -> f.dataType) ===
          schema.map(f => f.name -> f.dataType))
        assert(df.collect().toSet === rows)
      }
    }
    assert(Dedup.duplicateClustersLogNWithRounds(strs)._2 > 0,
      "string ids do not widen to long: the rounds run")
  }
}
