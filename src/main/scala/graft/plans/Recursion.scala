package graft.plans

import org.apache.spark.sql.DataFrame

/** Iterative fixpoint expansion — the engine's recursion primitive.
  *
  * Re-expresses the reference's `WITH RECURSIVE` (DuckDB dialect,
  * reference: aggregation_example.sql:88-166 and :353-425) as a
  * driver-controlled loop of Spark joins: the driver owns control flow
  * (anchor → step → union until the frontier is empty), while every
  * join/projection executes distributed on the cluster.
  *
  * Scale posture (100 TB): lineage is truncated with `Loops.checkpoint`
  * every `checkpointInterval` levels, so plan size is bounded by the
  * interval instead of growing O(depth) (the classic iterative-join
  * pitfall). Within an interval the per-level `isEmpty` check and the
  * final union may recompute the un-checkpointed suffix of the join
  * chain — a deliberate trade-off: hierarchies are shallow (≤ tens of
  * levels), and a materialization job per level would cost more than
  * the bounded recompute. Set `checkpointInterval = 1` for
  * compute-each-level-exactly-once semantics on expensive steps. The
  * sequential loop is driver-side control flow only; the data-parallel
  * work inside each step scales with the cluster.
  *
  * Its one caller in the engine is `Hierarchy.buildReportingDim` for
  * node sets wider than one partition (or with ids JVM equality cannot
  * match); smaller dims are walked in one task, and the closure is
  * derived from the dim's paths without recursion.
  */
object Recursion {

  /** Expand `anchor` by repeatedly applying `step` to the previous
    * frontier until `step` produces no rows, returning the union of all
    * levels. `step` must return the same schema as `anchor`.
    *
    * @param maxDepth safety guard against graph cycles (the reference
    *   hierarchy is cycle-free by its self-FK, aggregation_example.sql:11-12,
    *   but Spark enforces no FK — guard anyway).
    */
  def expand(anchor: DataFrame, step: DataFrame => DataFrame, maxDepth: Int = 64,
      checkpointInterval: Int = 8): DataFrame = {
    var frontier = anchor
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    var depth = 1
    var done = frontier.isEmpty
    while (!done) {
      if (depth >= maxDepth) throw depthExceeded(maxDepth)
      // Checkpoint every `checkpointInterval` levels: bounds lineage for
      // deep recursions without paying a materialization job per level
      // on the common shallow (≤8-deep) hierarchy.
      val stepped = step(frontier)
      val next =
        if (depth % checkpointInterval == 0)
          Loops.checkpoint(stepped, keepPartitioning = false)
        else stepped
      if (next.isEmpty) done = true
      else {
        levels += next
        frontier = next
        depth += 1
      }
    }
    levels.reduce(_.union(_))
  }

  /** The depth guard's error: a walk reached level `maxDepth`. Shared
    * with the one-task hierarchy walk, which bounds depth the same way.
    */
  def depthExceeded(maxDepth: Int): IllegalStateException =
    new IllegalStateException(
      s"Recursion.expand exceeded maxDepth=$maxDepth — cycle in hierarchy?")
}
