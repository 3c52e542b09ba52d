package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.Loops

/** Iterative graph analytics on plain DataFrames — each loop runs in
  * one `plans.Loops.scope` at the session width, cutting lineage with
  * the scope's partition-keeping checkpoints (no RDD API, no GraphX
  * dependency).
  *
  * Scale shape per iteration: ONE shuffle — the contribution sum keyed
  * by destination (map-side combined). The rank-onto-edge join is
  * exchange-free by construction: the edge table is materialized
  * hash-partitioned by `src` once, and each round's rank table emerges
  * from its aggregate hash-partitioned by `node`, which the projection
  * aliases to `src` — Spark's alias-aware output partitioning lets
  * EnsureRequirements match the two sides without a new Exchange.
  * Ranks are one row per node; edges dominate and never move after the
  * initial materialization, so at 100 TB the edge table is the thing
  * to pre-partition (or bucket by `src`) and everything that re-flows
  * per round is O(nodes).
  *
  * Dangling-node handling is fused into the same aggregate: instead of
  * a per-round `nodes LEFT JOIN contributions` (a third stage), the
  * node set is unioned in as zero-valued contributions before the
  * groupBy — the union is narrow, and a DECIMAL sum with extra exact
  * zeros is bit-identical to the coalesce(NULL, 0) formulation it
  * replaces.
  *
  * CROSS-ENGINE FLOAT DISCIPLINE (oracle parity, same as p10/p15):
  * per-edge contribution rank/outdeg is a single double division
  * (identical on both engines), but SUMS of doubles are partition-
  * order-dependent — so contributions are CAST to DECIMAL(30,15)
  * before the aggregate (exact, order-free) and back to DOUBLE after.
  */
object Graph {

  /** Materialized loop state shared by the fixed-iteration and
    * convergence drivers: edges-with-degree (src, dst, outdeg)
    * hash-partitioned by src, the node set hash-partitioned by node,
    * and the node count. On a real cluster, persist `ewd` as a
    * `bucketBy("src")` table once and feed it back through
    * [[pageRankPrepared]] — every iteration's rank join then reads the
    * bucketed scan with zero exchange on the edge side (proved in
    * ScaleSpec).
    */
  case class Prepared(ewd: DataFrame, nodes: DataFrame, n: Long,
      symmetric: Boolean = false)

  /** `symmetric = true` asserts every node of the graph appears as a
    * `src` (true whenever the caller feeds both edge directions, the
    * undirected convention). The node set is then the distinct `src`
    * of the ALREADY src-partitioned edge table — an exchange-free
    * aggregate, no union with the dst side, and no separate
    * materialization job (round 1 computes it inside its own stage).
    * It also drops the per-round dangling-zeros union: with every
    * node receiving contributions, the zero rows change nothing (the
    * DECIMAL sum is exact, so dropping exact zeros is bit-identical).
    *
    * NOTE the assertion is the caller's responsibility and is NOT
    * checked by default (checking costs the exact dst-minus-src
    * anti-join this path exists to avoid): a node appearing only as
    * `dst` silently drops from the node set and every rank shifts with
    * no error raised. Feed both directions of every edge (as
    * [[pageRankSymmetric]]'s callers do) or use the default path.
    * Debug builds can set `spark.graft.validateSymmetric=true` to pay
    * one anti-join per prepare() and fail fast instead — GraphSpec
    * pins the failure on a deliberately asymmetric graph.
    */
  def prepare(edges: DataFrame, symmetric: Boolean = false): Prepared = {
    if (symmetric) {
      val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      if (edges.sparkSession.conf
          .get("spark.graft.validateSymmetric", "false").toBoolean) {
        // LEFT ANTI dst∖src: any hit disproves the caller's claim.
        // Debug-only cost (one shuffle pair); limit(1) stops the scan
        // at the first witness.
        val witness = e.select(col("dst").as("node"))
          .join(e.select(col("src").as("node")), Seq("node"), "left_anti")
          .limit(1).collect()
        require(witness.isEmpty,
          s"prepare(symmetric=true) but node ${witness.headOption.map(_.get(0)).orNull} " +
            "appears only as dst — its rank would silently vanish. " +
            "Feed both edge directions or call prepare(symmetric=false).")
      }
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val ewd = Loops.checkpoint(e.join(deg, Seq("src")))
      // lazy: consumed once by the r0 init (partitioned by src already)
      val nodes = ewd.select(col("src").as("node")).distinct()
      return Prepared(ewd, nodes, nodes.count(), symmetric = true)
    }
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // (src, dst, outdeg) is loop-invariant: materialize ONCE so each
    // iteration pays one join + one aggregation, not a degree
    // recompute. This is the artifact to persist BUCKETED by src on a
    // real cluster. The equi-join on src already leaves the output
    // hash-partitioned by src (no explicit repartition needed — that
    // was a whole redundant exchange of the edge table), and the
    // partition-keeping checkpoint carries that partitioning across
    // the lineage cut (a plain adaptive localCheckpoint LOSES it — see
    // Loops.LoopScope), so every iteration's rank join is
    // exchange-free on BOTH sides (see class doc) and the edge table
    // never reshuffles — asserted by GraphSpec's loop-plan test.
    val ewd = Loops.checkpoint(e.join(deg, Seq("src")))
    // derive the node set from the ALREADY-MATERIALIZED edge table
    // (inner join with deg drops no rows — every src has a degree), so
    // the upstream edge derivation runs exactly once, not once per
    // consumer. distinct() leaves it hash-partitioned by node.
    val nodes = Loops.checkpoint(ewd.select(col("src").as("node"))
      .union(ewd.select(col("dst").as("node"))).distinct())
    Prepared(ewd, nodes, nodes.count())
  }

  /** One damped-PageRank round: contributions flow src→dst through the
    * partitioning-aligned edge join, the node set is unioned in as
    * exact zeros, and ONE hash aggregate keyed by node produces the
    * next rank table (hash-partitioned by node, feeding the next
    * round's join for free).
    */
  private def step(p: Prepared, ranks: DataFrame, damping: Double): DataFrame = {
    val contrib = p.ewd
      .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
      .select(col("dst").as("node"),
        (col("r") / col("outdeg")).cast("decimal(30,15)").as("c"))
    val withZeros = if (p.symmetric) {
      // symmetric graphs: every node has in-edges, so the
      // dangling-zeros union is a no-op on an exact DECIMAL sum
      contrib
    } else {
      contrib.union(
        p.nodes.select(col("node"), lit(0).cast("decimal(30,15)").as("c")))
    }
    withZeros
      .groupBy("node")
      .agg(sum("c").as("csum"))
      .select(col("node"),
        (lit((1.0 - damping) / p.n) +
          lit(damping) * col("csum").cast("double")).as("r"))
  }

  /** Damped PageRank over a SYMMETRIC edge list (both directions
    * present), iterated in SCALE-FREE form: the loop carries
    * s = N·rank (s⁰ = 1 uniformly; s' = (1−d) + d·Σ s/outdeg over
    * in-edges), and the division by N happens once on the O(nodes)
    * result. Mathematically identical to [[pageRank]] — every round is
    * the same linear operator, just not pre-multiplied by the 1/N
    * constant — and numerically well-defined on both engines (each
    * round is one double division per edge, one exact DECIMAL(30,15)
    * sum per node, one fma-free double affine step; the oracle replays
    * the identical expression shapes).
    *
    * Why a separate entry point — this is the minimum-job shape of the
    * operator, and on dimension-sized graphs the job/stage count IS
    * the cost:
    *   - Round 1 needs NO rank join and no node table: every scaled
    *     rank is the literal 1.0, so the first contributions come
    *     straight off the edge table (`1.0/outdeg`). The general path
    *     spends a distinct + a join getting the same rows.
    *   - N is not needed until AFTER the loop, so the driver-side
    *     `nodes.count()` job disappears: N rides in as a one-row
    *     count over the degree table (same src-hash shuffle as the
    *     loop — a ReusedExchange, not a recompute) broadcast onto the
    *     final projection, which is folded into the SAME
    *     materialization job as the loop itself.
    *   - Per round the ONLY exchange is the contribution aggregate's
    *     (same invariant as the general path, proved in GraphSpec).
    * Two jobs total: the fused loop + ÷N materialization (the N
    * broadcast rides inside it), and the caller's output action over
    * the O(nodes) checkpoint.
    */
  def pageRankSymmetric(edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85, checkpointEvery: Int = 5): DataFrame = {
    require(iters >= 1, "pageRankSymmetric needs at least one round")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // LAZY edge-with-degree table — deliberately NOT checkpointed for a
    // short fixed-iteration run. The edge subtree appears once per
    // round, but every occurrence canonicalizes identically, so
    // ReuseExchange computes the src-hash shuffle of `e` (which also
    // feeds the degree aggregate) ONCE and every round reads its
    // shuffle files — the same no-recompute guarantee the eager
    // localCheckpoint gave, minus its job barrier + materialization
    // (measured ~1.5 s of g1's 4.3 s at sf0.1; GraphSpec's symmetric
    // plan test pins the reuse). Long runs cut lineage periodically
    // below, and the 100 TB path remains prepare()/pageRankPrepared
    // over a bucketed edge table.
    Loops.scope(e.sparkSession) { sc =>
      // ONE eager materialization: the whole loop (edge build included)
      // executes as a single fused job inside the conf scope, and the
      // caller's post-processing reads an O(nodes) checkpoint.
      //
      // The ÷N is FOLDED INTO the same job: symmetric ⇒ the degree
      // table has exactly one row per node, so N is a one-row count
      // over `deg` — whose build shares the src-hash shuffle of `e`
      // with the loop (ReuseExchange; same physical plan), so the
      // broadcast costs one O(nodes) scan of already-written shuffle
      // files, not an edge recompute. Folding drops the separate
      // count-the-result + final-projection jobs the caller's action
      // previously paid (measured ~0.6 s of g1's official time under
      // a busy bench session).
      val nRow = deg.agg(count(lit(1)).cast("double").as("n"))
      sc.checkpoint(symmetricScaledLoop(e, deg, iters, damping,
          checkpointEvery, Some(sc))
        .crossJoin(broadcast(nRow))
        .select(col("node"), (col("s") / col("n")).as("r")))
    }
  }

  /** The lazy scale-free loop behind [[pageRankSymmetric]] — internal
    * so the plan test can count exchanges vs reuses on the fused DAG
    * (the public entry returns the checkpointed result, whose plan is
    * a bare RDD scan).
    */
  private[graft] def symmetricScaledLoop(e: DataFrame, deg: DataFrame,
      iters: Int, damping: Double, checkpointEvery: Int = 5,
      scope: Option[Loops.LoopScope] = None): DataFrame =
    ewdScaledLoop(e.join(deg, Seq("src")), iters, damping, checkpointEvery,
      scope)

  /** The same scale-free loop over a PRE-BUILT (src, dst, outdeg)
    * table — the body both the lazy fused path and the prepared/CTAS
    * path share. Round 1 comes straight off the edge table (s⁰ ≡ 1).
    * Periodic cuts go through `scope` (plan tests run the lazy loop
    * with no scope and no cut).
    */
  private[graft] def ewdScaledLoop(ewd: DataFrame,
      iters: Int, damping: Double, checkpointEvery: Int = 5,
      scope: Option[Loops.LoopScope] = None): DataFrame = {
    var s = ewd
      .select(col("dst").as("node"),
        (lit(1.0) / col("outdeg")).cast("decimal(30,15)").as("c"))
      .groupBy("node").agg(sum("c").as("csum"))
      .select(col("node"), scaledAffine(damping).as("s"))
    var lastCut: DataFrame = null
    for (i <- 2 to iters) {
      s = ewd
        .join(s.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (col("s") / col("outdeg")).cast("decimal(30,15)").as("c"))
        .groupBy("node").agg(sum("c").as("csum"))
        .select(col("node"), scaledAffine(damping).as("s"))
      if (i % checkpointEvery == 0 && i < iters) {
        s = scope.get.checkpoint(s)
        // the new cut read the old one while materializing — its
        // generation is now dead weight
        if (lastCut != null) scope.get.release(lastCut)
        lastCut = s
      }
    }
    s
  }

  /** Fixed-iteration scale-free PageRank over an ALREADY-PREPARED
    * symmetric graph — the CTAS/warehouse path: `p.ewd` is the
    * persisted (src, dst, outdeg) artifact (bucketed by src on a real
    * cluster; a src-partitioned localCheckpoint here), `p.n` is known,
    * so a run is ONE loop job (rounds fused, one exchange per round,
    * ÷N folded in as a driver literal — no count, no broadcast) plus
    * the caller's action over the O(nodes) checkpoint. Numerically
    * identical to [[pageRankSymmetric]]: same per-round expressions,
    * and N·(the same double) divided the same way.
    */
  def pageRankSymmetricPrepared(p: Prepared, iters: Int = 3,
      damping: Double = 0.85, checkpointEvery: Int = 5): DataFrame = {
    require(p.symmetric,
      "pageRankSymmetricPrepared needs prepare(symmetric = true)")
    require(iters >= 1, "pageRankSymmetricPrepared needs at least one round")
    Loops.scope(p.ewd.sparkSession) { sc =>
      sc.checkpoint(ewdScaledLoop(p.ewd, iters, damping, checkpointEvery,
          Some(sc))
        .select(col("node"), (col("s") / lit(p.n.toDouble)).as("r")))
    }
  }

  /** s' = (1−d) + d·csum, the scale-free affine step (csum is the
    * exact DECIMAL contribution sum). (1−d) is constant-folded by
    * BOTH engines from the same literal subtraction — IEEE 1.0−0.85
    * is 0.15000000000000002, not 0.15.
    */
  private def scaledAffine(damping: Double): Column =
    lit(1.0 - damping) + lit(damping) * col("csum").cast("double")

  /** `iters` rounds of damped PageRank over a DIRECTED edge list
    * (src, dst) — pass both directions for an undirected graph.
    * Returns (node, rank) with uniform 1/N initialization.
    *
    * `checkpointEvery` bounds lineage depth: rounds between cuts run
    * as ONE fused DAG (a per-round eager localCheckpoint is a full
    * materialization job each iteration — pure fixed cost when the
    * loop is short). Plan growth per round is linear (join + agg), so
    * a handful of rounds per cut is safe; the cut exists so a 50-round
    * run doesn't hand Catalyst a 50-deep plan or a 100-stage retry
    * lineage. Same discipline GraphFrames applies via its
    * checkpointInterval.
    */
  def pageRank(edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85, checkpointEvery: Int = 5,
      symmetric: Boolean = false): DataFrame =
    pageRankPrepared(prepare(edges, symmetric), iters, damping, checkpointEvery)

  /** Fixed-iteration PageRank over ALREADY-PREPARED loop state — the
    * 100 TB entry point: `p.ewd` can be a persisted `bucketBy("src")`
    * table (scan partitioning then stands in for the localCheckpoint
    * partitioning, and no round ever exchanges the edge side).
    */
  def pageRankPrepared(p: Prepared, iters: Int = 3,
      damping: Double = 0.85, checkpointEvery: Int = 5): DataFrame =
    Loops.scope(p.ewd.sparkSession) { sc =>
      // eager final materialization so the whole loop EXECUTES inside
      // the loop scope (a lazily-returned plan would run at the
      // caller's collect time, after the conf is restored); the
      // caller's post-processing then reads one checkpointed O(nodes)
      // table
      sc.checkpoint(pageRankLoop(p, iters, damping, checkpointEvery, Some(sc)))
    }

  /** The lazy loop plan behind [[pageRankPrepared]] — internal so the
    * plan tests can inspect the per-round join/aggregate structure
    * (the public entry returns the checkpointed RESULT, whose plan is
    * just an RDD scan). Periodic cuts go through `scope`.
    */
  private[graft] def pageRankLoop(p: Prepared, iters: Int,
      damping: Double, checkpointEvery: Int = 5,
      scope: Option[Loops.LoopScope] = None): DataFrame = {
    var ranks = p.nodes.withColumn("r", lit(1.0 / p.n))
    var lastCut: DataFrame = null
    for (i <- 1 to iters) {
      ranks = step(p, ranks, damping)
      if (i % checkpointEvery == 0 && i < iters) {
        ranks = scope.get.checkpoint(ranks) // periodic lineage cut
        if (lastCut != null) scope.get.release(lastCut) // superseded generation
        lastCut = ranks
      }
    }
    ranks
  }

  /** Damped PageRank iterated to a CONVERGENCE TOLERANCE instead of a
    * fixed round count: stops when max |rank_i − rank_{i−1}| < `tol`
    * over all nodes, checked every `checkEvery` rounds so the delta
    * job piggybacks on the periodic lineage cut (same one-control-job-
    * per-block discipline as `Dedup.duplicateClusters`). The driver
    * only ever sees the scalar max-delta — no rank data crosses to the
    * driver. Returns (node, rank, iters_run).
    *
    * The delta join is exchange-free: both the old and new rank tables
    * are localCheckpointed hash-partitioned by node.
    */
  def pageRankConverged(edges: DataFrame, tol: Double = 1e-7,
      maxIters: Int = 50, damping: Double = 0.85,
      checkEvery: Int = 3, symmetric: Boolean = false): DataFrame = {
    require(tol > 0, "tol must be positive — use pageRank for fixed rounds")
    if (symmetric)
      return pageRankConvergedSymmetric(edges, tol, maxIters, damping, checkEvery)
    val p = prepare(edges, symmetric)
    Loops.scope(p.ewd.sparkSession) { sc =>
      var ranks = sc.checkpoint(p.nodes.withColumn("r", lit(1.0 / p.n)))
      var done = 0
      var converged = false
      while (!converged && done < maxIters) {
        val block = math.min(checkEvery, maxIters - done)
        var next = ranks
        for (_ <- 1 to block) next = step(p, next, damping)
        // LAZY block cut (r17 optimization round): the delta job both
        // materializes the block's checkpoint and returns the scalar —
        // one job per block instead of checkpoint + delta
        next = sc.checkpoint(next, eager = false)
        done += block
        // one scalar control job per block: the max absolute movement
        val delta = next.withColumnRenamed("r", "r2")
          .join(ranks, Seq("node"))
          .agg(max(abs(col("r2") - col("r")))).head().getDouble(0)
        // the delta job was the old block's last reader — free its
        // generation so a long convergence run holds TWO rank
        // checkpoints at any moment, not O(rounds)
        sc.release(ranks)
        ranks = next
        if (delta < tol) converged = true
      }
      ranks.withColumn("iters_run", lit(done))
    }
  }

  /** Convergence-driven PageRank over a SYMMETRIC edge list in the
    * SCALE-FREE form (s = N·rank, s⁰ ≡ 1) — the minimum-job shape of
    * the convergence loop, mirroring [[pageRankSymmetric]]'s tricks:
    *
    *   - No node table, no `nodes.count()` job, no initial-ranks
    *     checkpoint: round 1's contributions are `1.0/outdeg` straight
    *     off the edge table, and N is captured as a by-product of the
    *     FIRST block's delta aggregate (the rank table has one row per
    *     node), so the driver never runs a standalone count.
    *   - Block 1's delta needs no join at all: the previous state is
    *     the constant 1.0, so the check is `max |s − 1|` over the new
    *     checkpoint. Later blocks join two co-partitioned checkpoints
    *     (exchange-free merge, as in the general path).
    *   - The convergence test compares on the s scale:
    *     `max |s_k − s_{k−1}| < tol · N`. The oracle replays the same
    *     literal arithmetic (one double multiply), so the stopping
    *     decision remains part of the hash-checked surface (X93).
    *   - The final ÷N is a driver-side literal (N is already known),
    *     so the output projection adds no join and no job.
    *
    * Job inventory for B blocks: 1 (edge materialization) + 2B (block
    * checkpoint + scalar delta per block) + the caller's action —
    * versus 3 + 2B for the general path.
    */
  private def pageRankConvergedSymmetric(edges: DataFrame, tol: Double,
      maxIters: Int, damping: Double, checkEvery: Int): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    Loops.scope(e.sparkSession) { sc =>
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val ewd = sc.checkpoint(e.join(deg, Seq("src")))
      convergedScaledLoop(sc, ewd, -1L, tol, maxIters, damping, checkEvery)
    }
  }

  /** Convergence-driven scale-free PageRank over an ALREADY-PREPARED
    * symmetric graph — the CTAS/warehouse companion to
    * [[pageRankSymmetricPrepared]]: `p.ewd` is the persisted edge
    * artifact and `p.n` is known, so a run is 2 jobs per block (the
    * block checkpoint + the scalar delta) plus the caller's action —
    * no edge build, no count. Numerically identical to the raw-edges
    * symmetric path.
    */
  def pageRankConvergedPrepared(p: Prepared, tol: Double = 1e-7,
      maxIters: Int = 50, damping: Double = 0.85,
      checkEvery: Int = 3): DataFrame = {
    require(p.symmetric,
      "pageRankConvergedPrepared needs prepare(symmetric = true)")
    require(tol > 0, "tol must be positive — use pageRank for fixed rounds")
    Loops.scope(p.ewd.sparkSession) { sc =>
      convergedScaledLoop(sc, p.ewd, p.n, tol, maxIters, damping, checkEvery)
    }
  }

  /** The shared block loop: scaled rounds over `ewd`, a lineage cut +
    * one scalar delta job per block, generations freed as superseded.
    * `nKnown < 0` means N is not known yet and is captured from the
    * first block's delta aggregate (the rank table has one row per
    * node on a symmetric graph).
    */
  private def convergedScaledLoop(sc: Loops.LoopScope, ewd: DataFrame,
      nKnown: Long,
      tol: Double, maxIters: Int, damping: Double,
      checkEvery: Int): DataFrame = {
    var sCut: DataFrame = null // previous block's checkpoint (scaled)
    var n: Long = nKnown
    var done = 0
    var converged = false
    while (!converged && done < maxIters) {
      val block = math.min(checkEvery, maxIters - done)
      var cur: DataFrame = null
      for (r <- done + 1 to done + block) {
        cur =
          if (r == 1)
            // s⁰ ≡ 1: first contributions come straight off the
            // edge table, no rank join (same as symmetricScaledLoop)
            ewd.select(col("dst").as("node"),
                (lit(1.0) / col("outdeg")).cast("decimal(30,15)").as("c"))
              .groupBy("node").agg(sum("c").as("csum"))
              .select(col("node"), scaledAffine(damping).as("s"))
          else {
            val prev = if (cur == null) sCut else cur
            ewd.join(prev.withColumnRenamed("node", "src"), Seq("src"))
              .select(col("dst").as("node"),
                (col("s") / col("outdeg")).cast("decimal(30,15)").as("c"))
              .groupBy("node").agg(sum("c").as("csum"))
              .select(col("node"), scaledAffine(damping).as("s"))
          }
      }
      // LAZY block cut (r17 optimization round): the delta aggregate
      // below materializes the checkpoint — one job per block
      val next = sc.checkpoint(cur, eager = false)
      done += block
      if (sCut == null) {
        // block 1: delta against the constant s⁰ ≡ 1, and (when not
        // already prepared) N for free from the same aggregate
        val row = next
          .agg(max(abs(col("s") - lit(1.0))).as("delta"),
            count(lit(1)).as("n")).head()
        if (n < 0L) n = row.getLong(1)
        if (row.getDouble(0) < tol * n) converged = true
      } else {
        val delta = next.withColumnRenamed("s", "s2")
          .join(sCut, Seq("node"))
          .agg(max(abs(col("s2") - col("s")))).head().getDouble(0)
        // the delta job was the old block's last reader — free its
        // generation (two rank checkpoints alive at any moment)
        sc.release(sCut)
        if (delta < tol * n) converged = true
      }
      sCut = next
    }
    sCut.select(col("node"), (col("s") / lit(n.toDouble)).as("r"))
      .withColumn("iters_run", lit(done))
  }

  /** Exact per-node triangle counts via degree-ordered orientation
    * (the compact-forward / MapReduce "node-iterator++" scheme:
    * Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    * Last Reducer", WWW 2011). Input: an undirected graph as a
    * DEDUPLICATED edge list (a, b) with a < b; output: (node, n_tri)
    * for every node on at least one triangle.
    *
    * Why orientation matters at 100 TB: the naive wedge join keys
    * wedges at EVERY corner, so a degree-d hub generates O(d²)
    * wedges — the "curse of the last reducer" (a single celebrity
    * node in a social graph can emit 10¹² wedges). Directing each
    * edge from its lower-(degree, id) endpoint and generating wedges
    * only at the SOURCE bounds every node's effective out-degree by
    * O(√m), so total wedge volume is O(m^{3/2}) — the best possible
    * for exact counting — and the skew lands on no single reducer.
    * Each triangle {x,y,z} is then found exactly once, at its
    * lowest-rank corner.
    *
    * Plan shape: degree aggregation (1 shuffle of edge endpoints),
    * two degree joins onto the edge list (node-sized build sides —
    * AQE broadcasts them when small, falls back to shuffle joins when
    * the node set is fact-sized), the wedge self-join keyed on the
    * wedge corner `u`, and one closing equi-join keyed on (v1, v2).
    * Everything is hash-partitioned equi-joins over narrow bigint
    * rows; no cartesian, no driver-side state.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    // undirected degree: each edge counts at both endpoints
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    // orient low-rank → high-rank; rank = (deg, id), a total order
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
        .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"), col("o.dv").as("dv"))
    // wedges at the lowest-rank corner, canonicalized rank(v1) < rank(v2)
    // so each unordered wedge appears once
    val wedges = oriented.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
      .join(oriented.select(col("u"), col("v").as("v2"), col("dv").as("d2")),
        Seq("u"))
      .where(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
      .select("u", "v1", "v2")
    // the closing edge, if present, is oriented v1 → v2 (rank order)
    val tris = wedges.join(
      oriented.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
    tris.select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** HITS authority scores (Kleinberg 1999) over a DIRECTED edge list,
    * `iters` mutual-reinforcement rounds, UNNORMALIZED: with h⁰ ≡ 1,
    *   a¹(v) = indeg(v),  hᵏ(u) = Σ_{u→v} aᵏ(v),  aᵏ⁺¹(v) = Σ_{u→v} hᵏ(u)
    * — every round is a pure BIGINT sum, so the scores are exact
    * integers and the ranking is engine-exact with NO quantization
    * step at all (the textbook L2 normalization only rescales within
    * a round and cannot change any ordering; at 3 rounds on this
    * graph the magnitudes stay ≲ 10¹⁵, far under 2⁶³ — beyond that,
    * lift the sums to DECIMAL(38,0)). On the bipartite trade graph
    * hubs are customers and authorities suppliers; a symmetric graph
    * would make the two sides coincide, which is why this runs on the
    * directed pre-symmetrization edges.
    *
    * Plan shape (r13, the g1 bucketed-edge discipline doubled): HITS
    * alternates join-key sides every half-round, so the loop-invariant
    * edge table is materialized TWICE — once hash-partitioned by dst
    * (auth→hub) and once by src (hub→auth), via partition-keeping
    * checkpoints so the partitioning survives the lineage cut. Each half-round's
    * rank side emerges from its aggregate already partitioned on the
    * matching key (alias-aware output partitioning), so the edge join
    * is exchange-free on BOTH sides, and the only per-round wire
    * traffic is the aggregate exchange, which map-side combine has
    * already shrunk to node-sized. Without the materialization the
    * lazily chained plan re-derives the edge input (here a
    * fact-join + distinct) once per half-round — the measured 3x at
    * sf1. On a real cluster the two artifacts are the src- and
    * dst-bucketed copies of the edge table.
    */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    Loops.scope(e.sparkSession) { sc =>
      // BOTH copies LAZY (r18; r17 kept the src copy eager): the
      // caller's single action over the returned plan materializes
      // them — the dst copy's blocks persist when the src shuffle (or
      // round 1's auth aggregate) first consumes them, the src copy's
      // when round 2's join does; every consumer is a full-relation
      // join/aggregate, so the Loops.checkpoint fusion contract holds and the
      // standalone 0.5 s prep job (measured, g4 jobs decomposition)
      // disappears into the query.
      val eByDst = sc.checkpoint(e.repartition(col("dst")), eager = false)
      val eBySrc = sc.checkpoint(eByDst.repartition(col("src")), eager = false)
      var auth = eByDst.groupBy("dst").agg(count(lit(1)).cast("long").as("s"))
      var round = 1
      while (round < iters) {
        val hub = eByDst.join(auth.select(col("dst"), col("s")), Seq("dst"))
          .groupBy("src").agg(sum("s").as("hs"))
        auth = eBySrc.join(hub, Seq("src"))
          .groupBy("dst").agg(sum("hs").as("s"))
        round += 1
      }
      auth.select(col("dst").as("node"), col("s").as("auth_score"))
    }
  }

  /** Personalized PageRank (Jeh & Widom 2003 / Page et al. 1999 with a
    * non-uniform restart vector): teleport mass returns to the `seeds`
    * set only, so the stationary scores measure proximity TO the seeds
    * — the shape curation pipelines use for influence/relevance scoring
    * from a small trusted set.
    *
    * The loop carries a SPARSE frontier: r⁰ has |S| rows (1/|S| each),
    * and round k holds only nodes with nonzero mass (nodes reached
    * within k hops of a seed, plus the seeds themselves which the
    * zero-row union keeps alive). On a 100 TB graph with a small seed
    * set this is the whole point — per-round state is O(reached), not
    * O(all nodes), and the contribution aggregate never touches the
    * unreachable part of the graph. Exchange shape per round: the
    * rank-onto-edge join reuses the src-hash partitioning of `p.ewd`
    * (alias-aware, same as [[step]]), ONE aggregate exchange keyed by
    * node, and a broadcast hash join for the seed restart flag — the
    * seed table is control-plane sized by assumption.
    *
    * CROSS-ENGINE FLOAT DISCIPLINE (oracle parity, same as g1):
    * per-edge contribution r/outdeg is one double division, sums go
    * through DECIMAL(30,15), and the restart term
    * (1−d)/|S| is written as the same literal arithmetic on both
    * engines. Dropping exact zero rows (unreached nodes) is
    * bit-identical under the exact DECIMAL sum.
    *
    * Requires a symmetric prepared graph (every node has out-edges, so
    * no dangling mass escapes). `seeds` must be one `node` column,
    * a subset of the graph's nodes, with no duplicate rows.
    */
  def personalizedPageRank(p: Prepared, seeds: DataFrame, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(p.symmetric,
      "personalizedPageRank needs prepare(symmetric = true) — a node " +
        "with no out-edges would silently leak teleport mass")
    require(iters >= 1, "personalizedPageRank needs at least one round")
    // The seed set is control-plane BY DEFINITION (it is the support
    // of the teleport vector — PPR with a fact-sized restart set is
    // just PageRank). Collect it once — ONE small job — and re-emit
    // as a local relation: |S| is then a driver literal (no count
    // job), the r⁰ frame and the per-round zero-union scan no
    // cluster state, and the restart-flag broadcast builds from
    // driver memory (no checkpoint barrier). Sorted for a
    // deterministic local plan.
    val spark = p.ewd.sparkSession
    val ids = seeds.select(col("node").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    require(ids.nonEmpty, "personalizedPageRank needs a non-empty seed set")
    val nS = ids.length.toDouble
    val sd = {
      import spark.implicits._
      ids.toSeq.toDF("node")
    }
    val seedFlag = sd.withColumn("is_seed", lit(1))
    Loops.scope(p.ewd.sparkSession) { sc =>
      var r = sd.select(col("node"), (lit(1.0) / lit(nS)).as("r"))
      for (_ <- 1 to iters) {
        r = p.ewd
          .join(r.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"),
            (col("r") / col("outdeg")).cast("decimal(30,15)").as("c"))
          // keep seeds present even when no mass flows back to them yet
          .union(sd.select(col("node"), lit(0).cast("decimal(30,15)").as("c")))
          .groupBy("node").agg(sum("c").as("csum"))
          .join(broadcast(seedFlag), Seq("node"), "left")
          .select(col("node"),
            (when(col("is_seed").isNotNull, lit(1.0 - damping) / lit(nS))
              .otherwise(lit(0.0))
              + lit(damping) * col("csum").cast("double")).as("r"))
      }
      sc.checkpoint(r)
    }
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007), determinized: every round EVERY node simultaneously adopts
    * the most frequent label among its neighbors, ties broken by the
    * smallest label — so the result is a pure function of the graph,
    * replayable round-by-round on any engine (no random visit order,
    * no random tie-breaks). Labels start as the node ids.
    *
    * Per round, all hash relational algebra on integer keys — no
    * sorts, no windows, no driver state:
    *   1. neighbor labels: edges ⋈ labels on src  → (dst, lbl)
    *   2. counts:   group by (node, lbl)                 [exchange 1]
    *   3. mode:     max count per node                   [exchange 2]
    *      ⋈ counts on (node, cnt = mx), then min(lbl) per node — the
    *      deterministic argmax without a per-node sort.
    * The count/mode tables are node-scale; the only edge-scale stage
    * is the per-round join, which reuses the edge table's hash
    * partitioning round over round (bucket by src at 100 TB).
    *
    * Expects a SYMMETRIC edge list (community membership is an
    * undirected notion here); `iters` is fixed and small — synchronous
    * LPA on bipartite-ish graphs can oscillate, which a fixed round
    * count renders harmless and deterministic.
    */
  /** Breadth-first min-hop distances from a seed set, bounded at
    * `maxHops` — the k-hop-neighborhood primitive (graph features,
    * blast-radius queries, seed-expansion curation). Returns
    * (node, hop) for every node within `maxHops` of a seed.
    *
    * Frontier-expansion loop with the library's checkpoint
    * discipline: per round ONE edge join (exchange-free against the
    * prepared src-partitioned edge table), a distinct, and an
    * anti-join against the visited set — all node-keyed hash
    * exchanges; per-round state is O(reached), like [[personalizedPageRank]]'s
    * sparse frontier. The visited set is checkpointed each round
    * (it feeds both the next anti-join and the result), frontier
    * checkpoints are released once superseded.
    */
  def bfsHops(p: Prepared, seeds: DataFrame, maxHops: Int = 3): DataFrame = {
    require(maxHops >= 0, "bfsHops needs maxHops >= 0")
    var frontier = Loops.checkpoint(seeds.select(col("node").cast("long")).distinct())
    // independent materialization: visited must own its blocks so the
    // frontier checkpoint can be released without tearing it down
    var visited = Loops.checkpoint(frontier.withColumn("hop", lit(0)))
    var hop = 1
    while (hop <= maxHops) {
      // LAZY frontier + eager visited checkpoint (r17 optimization
      // round): `grown`'s one materialization job computes the new
      // frontier too (its blocks persist as they stream into the
      // union), so each round pays one job instead of two. The old
      // frontier stays referenced until that job has run — release
      // moves below the eager checkpoint.
      val next = Loops.checkpoint(
        p.ewd.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select("node"), Seq("node"), "left_anti"),
        eager = false)
      val grown = Loops.checkpoint(visited.union(next.withColumn("hop", lit(hop))))
      Loops.releaseCheckpoint(frontier) // `next` and `grown` are materialized — safe
      frontier = next
      Loops.releaseCheckpoint(visited) // `grown` holds its own copy now
      visited = grown
      hop += 1
    }
    Loops.releaseCheckpoint(frontier) // final frontier's rows live inside `visited`
    visited
  }

  /** Bounded-hop WEIGHTED shortest path from a seed set — min-plus
    * Bellman–Ford over at most `maxHops` relaxation rounds. Input
    * `edges` carries (src, dst, cost) with non-negative integer costs
    * (exact min-plus arithmetic, no float drift); returns (node, dist)
    * where dist = the cheapest ≤`maxHops`-edge path cost from any seed
    * (seeds themselves at 0). The bounded-hop contract makes the
    * result exactly SQL-expressible (an unrolled level-CTE oracle)
    * AND is the honest cluster contract: an unbounded fixpoint on a
    * 100 TB graph is as many shuffle rounds as the graph's weighted
    * diameter, which no one schedules blind.
    *
    * Frontier discipline of [[bfsHops]] applied to relaxation: each
    * round joins ONLY the nodes whose tentative distance improved last
    * round (exchange-free on the src-partitioned edge side), takes the
    * node-keyed min of (carried, candidate), and keeps as the next
    * frontier the strict improvements — per-round state is O(reached),
    * and the loop exits early once no node improves (then rounds
    * `h..maxHops` are identities, so the bounded result is already
    * final). Early exit reads the improved-row count that each
    * generation's checkpoint-materializing job returns anyway — no
    * separate probe job (r17 optimization round).
    */
  /** @param edgesPrepared caller-certified "edges is already a
    *   MATERIALIZED src-partitioned (src, dst, cost) table whose
    *   lifetime the caller owns" — e.g. a SessionCache'd checkpoint
    *   (test scale) or a persisted bucketBy("src") table (100 TB).
    *   Skips the internal materialization AND the end-of-run release,
    *   so a shared prepared edge table survives for the next call
    *   (the [[Prepared]] discipline; releasing a memoized checkpoint
    *   from inside an operator is the d-family's measured 15-query
    *   failure mode).
    */
  def ssspBounded(edges: DataFrame, seeds: DataFrame,
      maxHops: Int, edgesPrepared: Boolean = false): DataFrame = {
    require(maxHops >= 0, "ssspBounded needs maxHops >= 0")
    // materialize the (possibly expensive) edge derivation ONCE — a
    // lazy input would otherwise re-run its whole upstream plan in
    // every relaxation round (measured 4× the edge build at hops=4).
    // src-partitioned by the checkpoint, so each round's join is
    // exchange-free on the edge side; released before returning (the
    // returned dist owns its own blocks).
    val e =
      if (edgesPrepared) edges
      else Loops.checkpoint(edges
        .select(col("src").cast("long"), col("dst").cast("long"),
          col("cost").cast("long"))
        .repartition(col("src")))
    // loop state carries (node, dist, imp): imp = "dist strictly
    // improved this round", so the frontier is a FILTER over the one
    // checkpointed generation — one materialization + one metadata-ish
    // action (isEmpty over materialized blocks) per round, instead of
    // separate frontier/merged checkpoints.
    // LAZY checkpoint + improved-count fusion (r17 optimization
    // round): the count that materializes each generation doubles as
    // the early-exit signal the old code probed with a separate
    // isEmpty job — one action per round instead of two, same rounds
    // executed (count == 0 exactly when the frontier filter was
    // empty).
    var dist = Loops.checkpoint(
      seeds.select(col("node").cast("long")).distinct()
        .withColumn("dist", lit(0L)).withColumn("imp", lit(true)),
      eager = false)
    var nImp = dist.where(col("imp")).count()
    var hop = 1
    var done = maxHops == 0
    while (!done) {
      val frontier = dist.where(col("imp")).select(col("node"), col("dist"))
      if (nImp == 0L) done = true
      else {
        // BROADCAST the frontier: it is O(reached) — seed-scoped and
        // bounded-hop by contract — while the edge table is the big
        // side; without the hint the join re-shuffles every edge every
        // round (measured: the whole per-round cost at sf1). The edge
        // side then never moves; the only exchange per round is the
        // node-keyed min.
        val cand = e
          .join(broadcast(frontier.withColumnRenamed("node", "src")),
            Seq("src"))
          .select(col("dst").as("node"),
            (col("dist") + col("cost")).as("nd"))
          .groupBy("node").agg(min("nd").as("nd"))
        val next = Loops.checkpoint(
          dist.select(col("node"), col("dist"))
            .join(cand, Seq("node"), "full_outer")
            .select(col("node"),
              least(coalesce(col("dist"), col("nd")),
                coalesce(col("nd"), col("dist"))).as("d2"),
              (col("dist").isNull ||
                (col("nd").isNotNull && col("nd") < col("dist"))).as("imp"))
            .withColumnRenamed("d2", "dist"),
          eager = false)
        nImp = next.where(col("imp")).count() // materializes `next` too
        Loops.releaseCheckpoint(dist)
        dist = next
        hop += 1
        if (hop > maxHops) done = true
      }
    }
    if (!edgesPrepared) Loops.releaseCheckpoint(e)
    dist.select(col("node"), col("dist"))
  }

  /** @param edgesDistinct caller-certified "this is already a simple
    *   edge list" — skips the boundary dedup exchange. Only pass true
    *   with a structural proof (e.g. a distinct directed set unioned
    *   with its reverse over disjoint id parities, as the trade graph).
    */
  def labelPropagation(edges: DataFrame, iters: Int = 2,
      edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, "labelPropagation needs at least one round")
    // Distinct enforced at the boundary by default: the closed-form
    // round 1 below (and the declared one-vote-per-neighbor semantics
    // of every later round) is mode-vote-correct only on a simple edge
    // list; a multigraph input would silently diverge from the
    // synchronous-LPA contract.
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val e = if (edgesDistinct) e0 else e0.distinct()
    // Round 1 in closed form: with identity labels every neighbor
    // contributes its OWN id, all vote counts are 1 (distinct edge
    // list), so the mode-with-min-tie-break is simply the minimum
    // neighbor id — ONE aggregate replaces the init-distinct + count
    // + max + argmax pipeline (algebraically identical; the oracle
    // replays the unspecialized round and hashes equal).
    var labels = e.groupBy(col("dst").as("node")).agg(min("src").as("lbl"))
    for (_ <- 2 to iters) {
      val cnts = e
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      val mx = cnts.groupBy("node").agg(max("cnt").as("cnt"))
      labels = cnts.join(mx, Seq("node", "cnt"))
        .groupBy("node").agg(min("lbl").as("lbl"))
    }
    labels
  }
}
