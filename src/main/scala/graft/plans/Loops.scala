package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Shared discipline for driver-controlled iterative operators
  * (PageRank, connected components, BPE, the recursive walks): their
  * checkpoints and one-task decision, and for each loop that changes
  * session conf one [[LoopScope]] that owns those changes and the
  * loop's private checkpoints, so none of them leaks into the session.
  */
object Loops {

  private val Width = "spark.sql.shuffle.partitions"
  private val Aqe = "spark.sql.adaptive.enabled"
  private val Coalesce = "spark.sql.adaptive.coalescePartitions.enabled"

  /** One loop's execution scope, opened by [[scope]]: its round width,
    * its AQE and coalescing state, and the checkpoints it made.
    *
    * On entry the scope saves `spark.sql.shuffle.partitions`,
    * `spark.sql.adaptive.enabled` and
    * `spark.sql.adaptive.coalescePartitions.enabled`; it restores all
    * three on exit, normal or thrown. The conf binds EXECUTION —
    * actions inside the body (checkpoints, counts) — not a lazy plan
    * returned out of the scope, which runs under the caller's conf.
    *
    * Why coalescing is off: a loop materializes loop-invariant state
    * (edge tables, centroid inputs) hash-partitioned on the loop key
    * once, and relies on each round's aggregate emerging partitioned
    * the SAME way, so the next round's join moves only the small
    * re-flowing side. The rounds' shuffles are byte-tiny (O(nodes),
    * not O(edges)), so AQE's runtime coalescing collapses them, and
    * the next join must then re-exchange the BIG side, once per round.
    * Skew split and broadcast flip stay on. Measured at sf0.1: 3-round
    * PageRank drops ~3×, the CC rounds shed the same per-round tax
    * (BENCHNOTES round-7 ledger).
    *
    * Why AQE is off when the width is narrower than the session's:
    * adaptive execution runs every shuffle stage as its own job with a
    * driver re-optimization between stages, 25-40 ms of driver gap per
    * stage job (d27 spent 1.7 s of its 3.4 s wall in inter-job gaps
    * across 63 jobs, most of them AQE stage jobs over kilobyte
    * states), while the nets AQE buys (skew split, broadcast flip)
    * have nothing to do on a state that measured a few partitions'
    * worth of bytes. Static execution runs each round's action as ONE
    * job. At full width (big state) AQE stays on with its skew net.
    *
    * Why AQE is off for a partition-keeping [[Loops.checkpoint]]: under
    * an adaptive plan the checkpoint captures the
    * AdaptiveSparkPlanExec's reported output partitioning, which does
    * not resolve to the final plan's HashPartitioning, so the
    * LogicalRDD comes out unpartitioned and every round silently
    * re-exchanges (and re-sorts) the big invariant table. Measured on
    * the 3-round PageRank loop at sf0.1: 5 exchanges + 4 sorts per
    * loop with an adaptive checkpoint vs 3 exchanges (the per-round
    * aggregates) with the static one, whose edge table also arrives
    * sorted by the join key. The static materialization loses nothing:
    * its shape is a join/aggregate sized by the conf's width, which is
    * what the loop inherits.
    *
    * Why [[narrow]] waits for a [[RenarrowFactor]] (10×) drop: a
    * contracting loop (CC contraction, a shrinking frontier) is sized
    * from its initial state, so a problem that contracts 1000× would
    * run its last ~log(n) rounds at the peak width in per-task
    * overhead; but the realignment of O(state) rows only pays for
    * itself when the width drops a decade. Narrowing never widens back:
    * a width sized from the peak is always safe, re-widening thrashes
    * the layout.
    *
    * One loop at a time per session conf: the scope mutates the
    * SESSION's SQL conf, so two loops interleaving on one SparkSession
    * would observe and restore each other's settings. A thread that
    * changes a loop conf on a session while another thread's change is
    * in effect fails fast; concurrent loops each take their own
    * `spark.newSession()` (shared catalog and cached data, independent
    * SQL conf — Spark has no per-query conf for DataFrame actions).
    */
  final class LoopScope private[Loops] (spark: SparkSession, rows: Long,
      bytesPerRow: Int, set: Seq[(String, String)] => Unit) {
    private var current = adaptedPartitions(spark, rows, bytesPerRow)
    private var sizedFrom = rows
    private[Loops] val made = scala.collection.mutable.LinkedHashSet.empty[RDD[_]]

    /** The round width now in effect. */
    def width: Int = current

    /** Narrow the width to the measured `rows` once they fall
      * [[RenarrowFactor]]× below the count that sized the current
      * width (AQE off with it); never widens.
      */
    def narrow(rows: Long): Unit =
      if (rows <= sizedFrom / RenarrowFactor) {
        val want = adaptedPartitions(spark, rows, bytesPerRow)
        if (want < current) {
          set(Seq(Width -> want.toString, Aqe -> "false"))
          current = want
        }
        sizedFrom = rows
      }

    /** [[Loops.checkpoint]], recorded: if the body throws, the scope
      * releases it. A normal exit releases nothing the caller did not,
      * since the result may still read it.
      */
    def checkpoint(df: DataFrame, eager: Boolean = true,
        keepPartitioning: Boolean = true): DataFrame = {
      val cp = Loops.checkpoint(df, eager, keepPartitioning)
      made += rddOf(cp)
      cp
    }

    /** [[Loops.releaseCheckpoint]] of a superseded generation. */
    def release(df: DataFrame): Unit = made -= releaseCheckpoint(df)
  }

  /** Run one loop's `body` in a [[LoopScope]] sized for `rows` loop
    * rows of `bytesPerRow` bytes: width [[adaptedPartitions]],
    * coalescing off, AQE off when that width is below the session
    * width. The default `rows` keeps the full session width, where only
    * coalescing changes.
    */
  def scope[T](spark: SparkSession, rows: Long = Long.MaxValue,
      bytesPerRow: Int = 32)(body: LoopScope => T): T =
    withConf(spark, Seq(Width, Aqe, Coalesce)) { set =>
      val session = spark.sessionState.conf.numShufflePartitions
      val s = new LoopScope(spark, rows, bytesPerRow, set)
      set(Seq(Coalesce -> "false") ++ (
        if (s.width < session) Seq(Width -> s.width.toString, Aqe -> "false")
        else Nil))
      try body(s) catch {
        case t: Throwable => s.made.foreach(_.unpersist(blocking = false)); throw t
      }
    }

  /** Whether `rows` loop rows of `bytesPerRow` bytes fit ONE partition
    * by the width rule, so the loop can finish in one task instead of
    * rounds (the CC union-find, the one-task hierarchy walk). Each
    * operator adds its own id-type check.
    */
  def fitsOneTask(spark: SparkSession, rows: Long, bytesPerRow: Int = 32): Boolean =
    adaptedPartitions(spark, rows, bytesPerRow) == 1

  /** Scale-adaptive partition count for a loop's round shuffles (guide
    * §2: derive partitioning from input size, never a constant).
    * Coalescing is off inside a loop, which also removes AQE's
    * tiny-shuffle collapsing, so a contracted loop would otherwise run
    * every round at the session's full width in per-task overhead:
    * `ceil(rows·bytesPerRow / targetBytes)`, clamped to [1, session
    * width]. `spark.graft.loop.targetPartitionBytes` (default 64 MB)
    * sets the target, kept low because loop state is deserialized rows.
    * Big loops stay at full width; only small state narrows.
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

  /** The contraction a loop waits for before narrowing ([[LoopScope]]). */
  val RenarrowFactor: Long = 10L

  /** Storage level for every loop checkpoint, from the session conf
    * `spark.graft.loop.checkpointLevel` (default `MEMORY_AND_DISK`,
    * Spark's own localCheckpoint level).
    *
    * Why this knob exists (the r17 forced-spill matrix): under a 5×
    * memory cut the sort/agg families spill gracefully, but the
    * iterative graph family DIES at any heap up to 12 GB at sf10. Its
    * invariant state lives as DESERIALIZED block-manager rows in the
    * storage region, READ-LOCKED by every task of every round's join —
    * un-evictable exactly when execution memory is scarcest, so the
    * round's aggregation hits UNABLE_TO_ACQUIRE_MEMORY (even a 256 KB
    * request fails at 8 GB; spark.memory.storageFraction 0.1 does not
    * help, the blocks are locked). A memory-constrained deploy sets
    * `DISK_ONLY`: the state streams from local disk each round, pinning
    * ~nothing, at one deserialization scan per round; `MEMORY_AND_DISK_SER`
    * is the halfway point. Measured A/B in BENCHNOTES r17.
    */
  def checkpointLevel(spark: SparkSession): StorageLevel =
    StorageLevel.fromString(
      spark.conf.get("spark.graft.loop.checkpointLevel", "MEMORY_AND_DISK"))

  /** localCheckpoint at [[checkpointLevel]].
    *
    * `keepPartitioning` compiles the plan with AQE off, so the
    * LogicalRDD keeps the plan's hash partitioning and ordering — the
    * materialization for state whose partitioning the loop's joins rely
    * on (why: see [[LoopScope]]). Without it the checkpoint runs under
    * the caller's conf, for materializations consumed by a
    * re-aggregating step.
    *
    * `eager = false` compiles and marks the RDD now but materializes it
    * on the caller's NEXT action over the returned frame: a loop that
    * needs a control signal from each generation anyway (a count, a
    * changed-row count) fuses "materialize" and "read the signal" into
    * ONE job, one fewer pass over the loop state per round (r17, on the
    * CC loops). That action must consume every partition (count does;
    * limit/isEmpty does not) before the frame counts as materialized.
    */
  def checkpoint(df: DataFrame, eager: Boolean = true,
      keepPartitioning: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    if (!keepPartitioning) df.localCheckpoint(eager, checkpointLevel(spark))
    else withConf(spark, Seq(Aqe)) { set =>
      set(Seq(Aqe -> "false"))
      df.localCheckpoint(eager, checkpointLevel(spark))
    }
  }

  /** Release the blocks behind a SUPERSEDED in-loop checkpoint and
    * return its RDD. Nothing else frees them before the ContextCleaner
    * notices the RDD is garbage, so a 50-round run would hold 50
    * generations, O(state × rounds) (later loop queries inflated 2-3×
    * from dead blocks on the bench host). Loops release generation i
    * once i+1 is materialized AND every reader of i has run.
    *
    * A released localCheckpoint is unrecoverable (no lineage): call it
    * only on loop-private checkpoints whose last consumer has run, never
    * on shared prepared state or on anything a returned frame reads.
    * The argument must BE a checkpoint (its analyzed plan one
    * LogicalRDD); a frame merely DERIVED from checkpoints is refused
    * before anything is unpersisted.
    */
  def releaseCheckpoint(df: DataFrame): RDD[_] =
    rddOf(df).unpersist(blocking = false)

  private def rddOf(df: DataFrame): RDD[_] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd
      case other => throw new IllegalArgumentException(
        "releaseCheckpoint expects a checkpointed DataFrame (plan = one " +
          s"LogicalRDD); got ${other.nodeName} — refusing to unpersist " +
          "leaves of a derived plan (could destroy shared state)")
    }

  /** Which thread holds each session's loop conf, and how deeply. */
  private val holders =
    new java.util.IdentityHashMap[SparkSession, (Thread, Int)]()

  /** The one place loop code changes session conf: saves `keys`, runs
    * `body` with a setter for those keys, and restores every key (unset
    * ones unset) in one `finally`. Fails fast when another thread holds
    * the session's loop conf (the contract in [[LoopScope]]).
    */
  private def withConf[T](spark: SparkSession, keys: Seq[String])(
      body: (Seq[(String, String)] => Unit) => T): T = {
    val me = Thread.currentThread
    holders.synchronized {
      val (t, n) = Option(holders.get(spark)).getOrElse((me, 0))
      if (t ne me) throw new IllegalStateException(
        s"a loop on thread ${t.getName} holds this session's loop conf; " +
          "run concurrent loops on their own spark.newSession()")
      holders.put(spark, (me, n + 1))
    }
    val saved = keys.map(k =>
      k -> Option.when(spark.sessionState.conf.contains(k))(spark.conf.get(k)))
    try body(_.foreach { case (k, v) => spark.conf.set(k, v) }) finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      holders.synchronized {
        val n = holders.get(spark)._2
        if (n == 1) holders.remove(spark) else holders.put(spark, (me, n - 1))
      }
    }
  }
}
