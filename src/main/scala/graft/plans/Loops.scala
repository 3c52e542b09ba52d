package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Shared discipline for driver-controlled iterative operators
  * (PageRank, connected components, k-means): execution-scope tweaks
  * that apply to a LOOP's jobs but must not leak into the session.
  */
object Loops {

  /** Run `f` with AQE partition coalescing disabled, restoring the
    * caller's setting after.
    *
    * Why: an iterative operator materializes loop-invariant state
    * (edge tables, centroid inputs) hash-partitioned on the loop key
    * once, and relies on each round's aggregate emerging partitioned
    * the SAME way so the next round's join moves only the small
    * re-flowing side. The rounds' shuffles are byte-tiny (the state
    * that re-flows is O(nodes), not O(edges)), so AQE's runtime
    * coalescing happily collapses them — and the next join must then
    * re-exchange the BIG side to match, once per round. Partition
    * count inside a loop is already sized to the cluster; coalescing
    * buys nothing and costs an edge-table reshuffle per round. Skew
    * split and broadcast-flip stay on. Measured at sf0.1: 3-round
    * PageRank drops ~3×, CC fixpoint rounds shed the same per-round
    * tax (BENCHNOTES round-7 ledger).
    *
    * The scope must cover EXECUTION, not just plan building — eager
    * actions (localCheckpoint, count) inside `f` are what bind the
    * conf; a lazy plan returned out of the scope executes under the
    * caller's conf.
    *
    * CONCURRENCY CONTRACT: the toggle mutates the SESSION's SQL conf,
    * so two loops interleaving on the SAME SparkSession object could
    * observe (and on unwind, restore) each other's setting. Every
    * driver in this library (Bench, Verify, the streaming batch
    * drivers) runs loops one at a time per session; a multi-tenant
    * driver must give each thread its own `spark.newSession()` —
    * sessions share the catalog and cached data but have independent
    * SQL confs, which scopes this toggle per thread. That is the
    * standard Spark answer for per-workload conf isolation; a
    * finer-grained mechanism (thread-local conf for one query) does
    * not exist for DataFrame actions.
    */
  def withStablePartitioning[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Scale-adaptive partition count for a loop's round shuffles
    * (r17 optimization round, guide §2: derive partitioning from input
    * size, never a constant). Loops disable AQE coalescing for
    * alignment (see [[withStablePartitioning]]), which also removes
    * AQE's tiny-shuffle collapsing — so every round of a contracted
    * loop (CC after a few rounds, a BFS frontier) otherwise runs at
    * the session's full shuffle width in pure per-task overhead. The
    * loop instead sizes its rounds from the measured state count:
    * `ceil(rows·bytesPerRow / targetBytes)`, clamped to
    * [1, session width]. `spark.graft.loop.targetPartitionBytes`
    * (default 64 MB) parameterizes the target — guide §2.2's
    * 100 MB–1 GB band, kept low: loop state is deserialized rows. At
    * 100 TB big loops stay at full width; only small state narrows.
    * A result of 1 also ends the CC loops (`Dedup.duplicateClusters*`):
    * they finish in ONE task, an exact union-find in ≤ 40 B per edge
    * row (≤ 2,097,152 rows at 64 MB), sending nothing to the driver.
    */
  def adaptedPartitions(spark: SparkSession, rows: Long,
      bytesPerRow: Int = 32): Int = {
    val target = spark.conf
      .get("spark.graft.loop.targetPartitionBytes", (64L << 20).toString)
      .toLong
    val session = spark.sessionState.conf.numShufflePartitions
    // rows-per-partition division, never rows × bytes: the product
    // overflows Long for rows > ~3e17 and the clamp would then
    // collapse an enormous loop state to ONE partition (r17 advice).
    val rowsPerPart = math.max(1L, target / math.max(1, bytesPerRow))
    val r = rows.max(0L)
    val want = r / rowsPerPart + (if (r % rowsPerPart > 0) 1L else 0L)
    math.max(1L, math.min(session.toLong, want)).toInt
  }

  /** Run `f` with `spark.sql.shuffle.partitions` scoped to `n`,
    * restoring the caller's setting after. Same session-conf
    * concurrency contract as [[withStablePartitioning]]. Like that
    * scope, it binds EXECUTION — actions inside `f` — not lazy plans
    * returned out of the scope.
    *
    * When `n` is NARROWER than the session width (the adapted-width
    * signal that the loop's state is measured-small), the scope also
    * disables AQE for the rounds: adaptive execution runs every
    * shuffle stage as its own job with a driver re-optimization
    * between stages — measured at 25-40 ms of driver gap per stage
    * job, which dominates a contracted loop's rounds (d27 spent
    * 1.7 s of its 3.4 s wall in inter-job gaps across 63 jobs, most
    * of them AQE stage jobs over kilobyte states) — while the nets
    * AQE buys (skew split, broadcast flip) have nothing to do on a
    * state that just measured a few partitions' worth of bytes.
    * Static execution runs each round's action as ONE job. At full
    * width (big state, the 100 TB regime) AQE stays on and keeps its
    * skew safety net — the rule is derived from the measured state,
    * not the deployment.
    */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val session = spark.sessionState.conf.numShufflePartitions
    // both keys are ALWAYS saved/restored (not only when narrow at
    // entry): [[renarrow]] may flip AQE off mid-scope once the
    // measured state contracts, and the restore must still unwind it.
    val prev = spark.conf.getOption(key)
    val prevAqe = spark.conf.getOption(aqeKey)
    spark.conf.set(key, n.toString)
    if (n < session) spark.conf.set(aqeKey, "false")
    try f finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      prevAqe match {
        case Some(v) => spark.conf.set(aqeKey, v)
        case None => spark.conf.unset(aqeKey)
      }
    }
  }

  /** Narrow the shuffle width MID-loop, inside an enclosing
    * [[withShufflePartitions]] scope (which owns the save/restore of
    * both confs — this helper only mutates). A contracting loop (CC
    * contraction, a shrinking BFS frontier) sizes its rounds once from
    * the INITIAL state, but a 100 TB problem that contracts 1000×
    * still ran its last ~log(n) rounds at full width in per-task
    * overhead (r17 verdict item 4). The per-round cardinality is
    * already free (it rides the checkpoint-materializing count), so a
    * loop calls this when the count drops ≥ [[RenarrowFactor]]× below
    * what sized the current width; it narrows only (never widens —
    * re-widening would thrash layout for no benefit: a width sized
    * from the PEAK is always safe) and flips AQE off once the width is
    * below the session constant, same rationale as the entry check.
    * Returns the new width (the caller's next sizing baseline).
    */
  def renarrow(spark: SparkSession, rows: Long, bytesPerRow: Int = 32): Int = {
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val want = adaptedPartitions(spark, rows, bytesPerRow)
    if (want < cur) {
      spark.conf.set("spark.sql.shuffle.partitions", want.toString)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      want
    } else cur
  }

  /** Contraction factor below which a loop bothers re-narrowing: the
    * repartition realignment of O(state) rows only pays for itself
    * when the width actually drops a decade.
    */
  val RenarrowFactor: Long = 10L

  /** Storage level for every loop checkpoint, from the session conf
    * `spark.graft.loop.checkpointLevel` (default `MEMORY_AND_DISK`,
    * Spark's own localCheckpoint level — byte-identical behavior when
    * unset).
    *
    * Why this knob exists — the r17 forced-spill matrix: the sort/agg
    * query families degrade gracefully under a 5× memory cut (11+ GB
    * spilled, wall unchanged), but the iterative graph family DIES
    * instead of spilling, at any heap up to 12 GB at sf10. The
    * mechanism is specific to loops: their invariant state (edge
    * tables) lives as DESERIALIZED block-manager rows which (a) sit in
    * the unified pool's storage region and (b) are READ-LOCKED by all
    * concurrent tasks during every round's join — un-evictable exactly
    * when execution memory is scarcest, so the round's aggregation
    * hits UNABLE_TO_ACQUIRE_MEMORY (measured: even a 256 KB request
    * fails at 8 GB while a 5× bigger non-loop query spills happily).
    * Lowering spark.memory.storageFraction to 0.1 does NOT save it —
    * the blocks are locked, not merely protected.
    *
    * A memory-constrained deploy sets `DISK_ONLY`: invariant state
    * streams from local disk (tmpfs here) each round, pinning ~nothing,
    * and the loop joins per-round cost one deserialization scan — the
    * graceful trade every non-loop operator already makes when it
    * spills. `MEMORY_AND_DISK_SER` is the halfway point (5-10× smaller
    * blocks, still evictable pages). Measured A/B in BENCHNOTES r17.
    */
  def checkpointLevel(spark: SparkSession): StorageLevel =
    StorageLevel.fromString(
      spark.conf.get("spark.graft.loop.checkpointLevel", "MEMORY_AND_DISK"))

  /** Plain eager localCheckpoint honoring [[checkpointLevel]] — for
    * loop-adjacent materializations that do not need partitioning
    * preserved (e.g. a distinct edge list consumed by a re-aggregating
    * prepare step).
    */
  def checkpoint(df: DataFrame): DataFrame =
    df.localCheckpoint(true, checkpointLevel(df.sparkSession))

  /** LAZY localCheckpoint honoring [[checkpointLevel]]: the RDD is
    * compiled and marked for checkpointing now, but materializes on
    * the caller's NEXT action over the returned frame. A loop that
    * needs a control signal from each generation anyway (a count, a
    * changed-row count) fuses "materialize the generation" and "read
    * the signal" into ONE job instead of an eager-checkpoint job plus
    * a follow-up action — at scale that is one fewer full pass over
    * the loop state per round (r17 optimization round, measured on
    * the CC loops). The caller MUST run an action that consumes every
    * partition (count does; limit/isEmpty does NOT) before treating
    * the frame as materialized — a partial action leaves later
    * consumers recomputing nothing (blocks persist as computed) but
    * forfeits the fusion.
    */
  def checkpointLazy(df: DataFrame): DataFrame =
    df.localCheckpoint(false, checkpointLevel(df.sparkSession))

  /** `localCheckpoint()` that PRESERVES the plan's hash partitioning
    * (and ordering) into the checkpointed LogicalRDD — the
    * materialization step for loop-invariant state whose partitioning
    * the loop's joins rely on.
    *
    * Why AQE must be off for the materialization: under an adaptive
    * plan the checkpoint captures the AdaptiveSparkPlanExec's reported
    * output partitioning, which does NOT resolve to the final plan's
    * HashPartitioning — the LogicalRDD comes out unpartitioned, and
    * every loop round silently re-exchanges (and re-sorts) the big
    * invariant table to re-align the join. Measured on the 3-round
    * PageRank loop at sf0.1: 5 exchanges + 4 sorts per loop with an
    * adaptive checkpoint vs 3 exchanges (the per-round aggregates
    * only) + rank-side-only sorts with this helper; the edge table
    * additionally arrives pre-SORTED by the join key (ordering is
    * captured too), so the per-round sort-merge join sorts only the
    * O(nodes) side. The materialization job itself loses nothing that
    * matters: its shape is a static join/aggregate sized by the
    * conf's shuffle partitioning, which is exactly what the loop
    * wants to inherit.
    */
  def checkpointPartitioned(df: DataFrame): DataFrame =
    checkpointPartitionedImpl(df, eager = true)

  /** [[checkpointPartitioned]]'s lazy form — same partitioning capture
    * (the physical plan is compiled under the AQE-off scope at CALL
    * time either way; eagerness only controls when the blocks
    * materialize), same fusion contract as [[checkpointLazy]].
    */
  def checkpointPartitionedLazy(df: DataFrame): DataFrame =
    checkpointPartitionedImpl(df, eager = false)

  private def checkpointPartitionedImpl(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try df.localCheckpoint(eager, checkpointLevel(spark)) finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Release the block-manager storage behind a SUPERSEDED in-loop
    * checkpoint (the LogicalRDD leaves of `df`'s plan).
    *
    * Why this exists: every loop round's checkpoint persists its rows
    * as RDD blocks, and nothing frees them until the JVM garbage-
    * collects the RDD and the ContextCleaner notices — so a 50-round
    * convergence run holds ~50 generations of loop state in executor
    * memory simultaneously. At 100 TB that is the difference between
    * a loop whose memory footprint is O(state) and one that is
    * O(state × rounds) and eventually spills or OOMs; on the bench
    * host it showed up as later loop queries inflating 2-3× from
    * accumulated dead blocks. Loops release generation i as soon as
    * generation i+1 is materialized AND every reader of i (the next
    * ckpt's build, a convergence-delta job) has run.
    *
    * SAFETY: a localCheckpoint has no lineage to recompute from — a
    * released generation is unrecoverable. Call ONLY on loop-private
    * checkpoints whose last consumer has completed, never on shared
    * prepared state (edge tables, node sets) or on anything a
    * returned DataFrame still references.
    *
    * Misuse fails fast: the argument must BE a checkpoint (its
    * analyzed plan exactly one LogicalRDD, at the root) — a frame
    * merely DERIVED from checkpoints (a select over prepared state, a
    * multi-leaf join) is rejected before anything is unpersisted, so
    * a bad call site cannot silently destroy blocks that shared state
    * still needs.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        "releaseCheckpoint expects a checkpointed DataFrame (plan = one " +
          s"LogicalRDD); got ${other.nodeName} — refusing to unpersist " +
          "leaves of a derived plan (could destroy shared state)")
    }
}
