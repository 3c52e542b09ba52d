package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank: star center dominates, ranks sum to ~1") {
    // undirected star 0-1, 0-2, 0-3, 0-4 (both directions passed)
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 10).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.size == 5)
    assert(r(0L) > r(1L) * 2, s"center should dominate: $r")
    assert(Seq(1L, 2L, 3L, 4L).map(r).distinct.size == 1, s"leaves equal: $r")
    val total = r.values.sum
    assert(math.abs(total - 1.0) < 1e-9, s"ranks sum to 1, got $total")
  }

  test("pageRank: periodic lineage cuts do not change the fixpoint") {
    // same 7 rounds computed as one fused DAG vs cut every 2 rounds —
    // the decimal contribution sums are order-free, so the results
    // must be bit-identical, not merely close
    val rnd = new scala.util.Random(7)
    val e = (1 to 60).map(_ => (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    def run(ck: Int) = Graph.pageRank(edges, iters = 7, checkpointEvery = ck)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(run(2) === run(100))
  }

  test("pageRank: symmetric regular graph stays uniform") {
    // 4-cycle (regular, symmetric): uniform 0.25 is the fixpoint.
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 5).collect().map(_.getDouble(1))
    assert(r.forall(x => math.abs(x - 0.25) < 1e-12), s"uniform: ${r.toSeq}")
  }

  test("pageRank: dangling nodes get the baseline via the fused zero-union") {
    // DIRECTED chain 0→1→2: node 2 has out-degree 0 (dangling — it
    // appears only as a dst), node 0 has no in-edges. The fused
    // aggregate must keep all three nodes with exact semantics:
    // r(0) = (1−d)/3 every round (no in-flow), and ranks for 1 and 2
    // follow the standard no-dangling-redistribution recurrence the
    // DuckDB oracle replays (contribution sum over in-edges only).
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val d = 0.85
    val r = Graph.pageRank(edges, iters = 2, damping = d).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.size == 3, s"dangling node must survive: $r")
    val base = (1.0 - d) / 3
    // hand-rolled recurrence, decimal-exact at these magnitudes
    val r1 = Map(0L -> base, 1L -> (base + d * (1.0 / 3)), 2L -> (base + d * (1.0 / 3)))
    val exp = Map(0L -> base, 1L -> (base + d * r1(0L)), 2L -> (base + d * r1(1L)))
    exp.foreach { case (k, v) =>
      assert(math.abs(r(k) - v) < 1e-12, s"node $k: got ${r(k)} want $v") }
  }

  test("pageRankConverged: reaches the fixed-iteration fixpoint and stops early") {
    val rnd = new scala.util.Random(11)
    val e = (1 to 80).map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    val conv = Graph.pageRankConverged(edges, tol = 1e-9, maxIters = 60)
    val rows = conv.collect()
    val itersRun = rows.head.getInt(2)
    assert(itersRun < 60, s"should converge before maxIters, ran $itersRun")
    // the converged ranks match a long fixed-iteration run within tol
    val fixed = Graph.pageRank(edges, iters = 60, checkpointEvery = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - fixed(r.getLong(0))) < 1e-8,
        s"node ${r.getLong(0)} diverges from fixpoint")
    }
  }

  test("pageRank plan: one shuffle per iteration — the edge side never re-exchanges") {
    // The scale contract: ewd is materialized hash-partitioned by src
    // once; each round's rank table emerges hash-partitioned by node
    // (aliased to src), so the ONLY per-round exchange is the
    // contribution aggregate's. A 3-round fused DAG must therefore
    // contain exactly 3 exchanges, none of them re-partitioning the
    // checkpointed edge table.
    val rnd = new scala.util.Random(3)
    val e = (1 to 200).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    // Inspect the LAZY loop plan (pageRankLoop), not the public
    // entry's — that one returns the already-checkpointed result,
    // whose plan is a bare RDD scan and would make this assertion
    // vacuous (exactly how the adaptive-checkpoint partitioning loss
    // slipped through review: the checkpointed LogicalRDD used to come
    // out unpartitioned and every round silently re-exchanged the edge
    // table; the partition-keeping Loops.checkpoint is the fix under test).
    val p = Graph.prepare(edges)
    val loop = Graph.pageRankLoop(p, iters = 3, damping = 0.85)
    loop.write.format("noop").mode("overwrite").save()
    val plan = loop.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    // 3 contribution aggregates = 3 exchanges; anything above means a
    // loop-invariant table re-exchanged
    assert(exchanges <= 3, s"expected ≤3 exchanges (one agg per round), got $exchanges:\n$plan")
    assert(plan.contains("ExistingRDD"), "loop must read the checkpointed edge table")
  }

  test("prepare(symmetric=true) validation catches an asymmetric edge list") {
    // node 9 appears only as dst — the symmetric fast path would
    // silently drop it. With the debug conf on, prepare must fail
    // fast with a witness instead.
    val edges = Seq((0L, 1L), (1L, 0L), (0L, 9L)).toDF("src", "dst")
    spark.conf.set("spark.graft.validateSymmetric", "true")
    try {
      val ex = intercept[IllegalArgumentException] {
        Graph.prepare(edges, symmetric = true)
      }
      assert(ex.getMessage.contains("appears only as dst"), ex.getMessage)
      // a genuinely symmetric list passes the same check
      val ok = (Seq((0L, 1L), (0L, 9L)) ++ Seq((1L, 0L), (9L, 0L)))
        .toDF("src", "dst")
      assert(Graph.prepare(ok, symmetric = true).n == 3)
    } finally spark.conf.unset("spark.graft.validateSymmetric")
  }

  test("pageRankSymmetric plan: per-round exchanges only, edge table pre-partitioned") {
    val rnd = new scala.util.Random(5)
    val e = (1 to 300).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    // the fused (checkpoint-free) loop must compute the edge subtree's
    // shuffle ONCE and reuse it in every round — that reuse is what
    // lets pageRankSymmetric skip the eager edge materialization job.
    // Execute under the same conf the real checkpoint job runs with (AQE
    // off) so the static ReuseExchange rule is what's under test.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val ec = edges.select(col("src").cast("long"), col("dst").cast("long"))
      val deg = ec.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val loop = Graph.symmetricScaledLoop(ec, deg, iters = 3, damping = 0.85)
      loop.write.format("noop").mode("overwrite").save()
      val plan = loop.queryExecution.executedPlan.toString
      val fresh = "Exchange hashpartitioning".r.findAllIn(plan).size
      val reused = "ReusedExchange".r.findAllIn(plan).size
      // fresh exchanges: edge src-hash (1, shared with the degree agg)
      // + one contribution aggregate per round (3) = 4; every other
      // edge-side occurrence must be a reuse
      assert(fresh <= 4, s"edge subtree re-exchanged: $fresh fresh exchanges\n$plan")
      assert(reused >= 2, s"expected the per-round edge exchanges to be reused\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val out = Graph.pageRankSymmetric(edges, iters = 3)
    out.write.format("noop").mode("overwrite").save()
    // correctness of the fused shape is proven by the g1 oracle; here
    // assert the symmetric path agrees with the general path within
    // floating tolerance
    val sym = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gen = Graph.pageRank(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sym.keySet === gen.keySet)
    sym.foreach { case (k, v) => assert(math.abs(v - gen(k)) < 1e-12, s"node $k") }
  }

  test("triangleCounts: known small graphs") {
    // K4 minus one edge: triangles {0,1,2} and {0,1,3} — nodes 0,1 on
    // two triangles each, nodes 2,3 on one each
    val e1 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L)).toDF("a", "b")
    val r1 = Graph.triangleCounts(e1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 3L -> 1L), s"got $r1")
    // a 5-cycle has no triangles → empty result
    val e2 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 4L)).toDF("a", "b")
    assert(Graph.triangleCounts(e2).count() === 0)
    // K5: every node on C(4,2)=6 triangles; 10 triangles total
    val k5 = (for (i <- 0 until 5; j <- i + 1 until 5) yield (i.toLong, j.toLong))
      .toDF("a", "b")
    val r3 = Graph.triangleCounts(k5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3.values.forall(_ == 6L), s"K5 per-node counts: $r3")
    assert(r3.values.sum === 30L) // 10 triangles × 3 corners
  }

  test("prepared symmetric entries: bit-identical to the raw-edge paths") {
    // the CTAS path (shared prepared artifact, ÷N as a driver literal)
    // must be exactly the raw path's arithmetic — same doubles, not
    // just close: g1/g2's oracle hashes depend on it
    val rnd = new scala.util.Random(29)
    val e = (1 to 260).map(_ => (rnd.nextInt(48).toLong, rnd.nextInt(48).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    val p = Graph.prepare(edges, symmetric = true)
    val fixedPrep = Graph.pageRankSymmetricPrepared(p, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fixedRaw = Graph.pageRankSymmetric(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fixedPrep === fixedRaw, "fixed-iteration prepared/raw diverge")
    val convPrep = Graph.pageRankConvergedPrepared(p, tol = 1e-6, maxIters = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val convRaw = Graph.pageRankConverged(edges, tol = 1e-6, maxIters = 30,
      symmetric = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(convPrep.sortBy(_._1) === convRaw.sortBy(_._1),
      "convergence prepared/raw diverge")
  }

  test("pageRankConverged symmetric: agrees with the general path, frees blocks") {
    // the scale-free symmetric convergence loop (s = N·rank, delta on
    // the s scale, ÷N folded as a driver literal) must land on the
    // same stopping decision and the same ranks as the general
    // unscaled path — and hold at most two rank checkpoints at once
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(23)
    val e = (1 to 240).map(_ => (rnd.nextInt(45).toLong, rnd.nextInt(45).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    val before = sc.getPersistentRDDs.size
    val sym = Graph.pageRankConverged(edges, tol = 1e-6, maxIters = 30,
      checkEvery = 3, symmetric = true)
    val symRows = sym.collect()
    val after = sc.getPersistentRDDs.size
    assert(after - before <= 3,
      s"symmetric loop leaked checkpoint generations: $before -> $after")
    val gen = Graph.pageRankConverged(edges, tol = 1e-6, maxIters = 30,
      checkEvery = 3)
    val genRows = gen.collect()
    assert(symRows.head.getInt(2) === genRows.head.getInt(2),
      "stopping decision diverged between scaled and unscaled paths")
    val genMap = genRows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    symRows.foreach { r =>
      assert(math.abs(r.getDouble(1) - genMap(r.getLong(0))) < 1e-10,
        s"node ${r.getLong(0)}: scaled/unscaled rank mismatch")
    }
  }

  test("pageRankConverged frees superseded rank generations (O(state) blocks)") {
    // a tight tolerance forces many 3-round blocks; without the
    // in-loop release every block's checkpoint would stay persisted
    // (one RDD per block ≈ 10 extra), with it the loop ends holding
    // only prepared state + the final ranks
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(19)
    val e = (1 to 200).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    val before = sc.getPersistentRDDs.size
    val out = Graph.pageRankConverged(edges, tol = 1e-12, maxIters = 30,
      checkEvery = 3)
    out.write.format("noop").mode("overwrite").save()
    val itersRun = out.select("iters_run").head().getInt(0)
    assert(itersRun >= 9, s"need several blocks for the test to bite: $itersRun")
    val after = sc.getPersistentRDDs.size
    assert(after - before <= 4,
      s"loop leaked checkpoint generations: $before -> $after over $itersRun iters")
  }

  test("triangleCounts plan: equi-joins only — no cartesian, no nested-loop") {
    // the scale contract behind the O(m^{3/2}) bound: wedge
    // generation and wedge closing are hash equi-joins (on u and on
    // (v1, v2)); any cartesian/BNL here would be the all-pairs
    // formulation the orientation exists to avoid
    val rnd = new scala.util.Random(23)
    val edges = (1 to 150)
      .map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 < p._2).distinct.toDF("a", "b")
    val tc = Graph.triangleCounts(edges)
    tc.write.format("noop").mode("overwrite").save()
    val plan = tc.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNL in plan:\n$plan")
  }

  test("triangleCounts: matches the naive 3-join on a random graph, hub-safe") {
    // random graph PLUS a degree-20 hub (node 99) — the orientation
    // must neither lose nor double-count hub triangles
    val rnd = new scala.util.Random(17)
    val base = (1 to 120)
      .map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 < p._2).distinct
    val hub = (0 until 20).map(i => (i.toLong, 99L))
    val edges = (base ++ hub).distinct.toDF("a", "b")
    val got = Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // naive reference: all (x<y<z) with the three edges present
    val es = (base ++ hub).distinct.toSet
    val nodes = es.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val want = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      x <- nodes; y <- nodes if x < y && es((x, y))
      z <- nodes if y < z && es((y, z)) && es((x, z))
    } { want(x) += 1; want(y) += 1; want(z) += 1 }
    assert(got === want.toMap, s"got $got\nwant $want")
  }

  test("personalizedPageRank: decays with distance from the seed; mass conserved") {
    // 10-cycle (regular, so no endpoint artifacts: on a path the
    // degree-1 endpoint funnels ALL its mass to its only neighbor and
    // the neighbor can out-rank the seed), seed = node 0. The
    // fixpoint is symmetric in ±distance and strictly decreasing in
    // circular distance; with no dangling nodes total mass stays 1.
    val e = (0L to 9L).map(i => (i, (i + 1) % 10))
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    val p = Graph.prepare(edges, symmetric = true)
    val seeds = Seq(0L).toDF("node")
    val r = Graph.personalizedPageRank(p, seeds, iters = 20).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.size == 10, s"20 hops reach the whole cycle: $r")
    (1L to 4L).foreach { d =>
      assert(math.abs(r(d) - r(10 - d)) < 1e-12,
        s"±$d symmetric: ${r(d)} vs ${r(10 - d)}")
      assert(r(d - 1) > r(d), s"decay at distance $d: $r")
    }
    assert(r(4L) > r(5L), s"decay at the antipode: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-9,
      s"no dangling nodes -> mass conserved, got ${r.values.sum}")
  }

  test("personalizedPageRank: sparse frontier — round state is O(reached)") {
    // two disconnected 3-cycles; seeding only the first means the
    // second never acquires mass and never appears in the result
    val c1 = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val c2 = Seq((10L, 11L), (11L, 12L), (12L, 10L))
    val all = c1 ++ c2
    val edges = (all ++ all.map(_.swap)).toDF("src", "dst")
    val p = Graph.prepare(edges, symmetric = true)
    val r = Graph.personalizedPageRank(p, Seq(0L).toDF("node"), iters = 5)
    val nodes = r.collect().map(_.getLong(0)).toSet
    assert(nodes == Set(0L, 1L, 2L),
      s"unreached component must hold no rows, got $nodes")
  }

  test("personalizedPageRank plan: broadcast restart join, one agg exchange per round") {
    val e = (0L to 8L).map(i => (i, i + 1))
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    val p = Graph.prepare(edges, symmetric = true)
    val r = Graph.personalizedPageRank(p, Seq(0L, 4L).toDF("node"), iters = 3)
    // public entry returns a checkpointed O(nodes) table
    assert(r.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    // the lazy rounds the entry checkpoints, to count operators:
    // seed-flag joins must all be broadcasts (the seed table is
    // control-plane), never cartesian/BNL
    val lazyLoop = Graph.personalizedPageRankRounds(p, Seq(0L, 4L).toDF("node"),
      iters = 3, damping = 0.85)
    val plan = lazyLoop.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"restart join not broadcast:\n$plan")
    // the entry returns exactly the rounds' rows (3 hops from {0, 4}: 0..7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => x.getLong(0) -> x.getDouble(1)).toSet
    assert(rows(lazyLoop).map(_._1) === (0L to 7L).toSet)
    assert(rows(lazyLoop) === rows(r))
  }

  test("labelPropagation: two cliques joined by a bridge separate") {
    // K4 on {0..3} + K4 on {10..13} + bridge 3-10: after 2 rounds the
    // two cliques must carry different labels, and each clique one
    // label (clique majority beats the single bridge vote)
    def clique(ns: Seq[Long]) =
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val und = clique(Seq(0L, 1L, 2L, 3L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) ++ Seq((3L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val l = Graph.labelPropagation(edges, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1 = Seq(0L, 1L, 2L, 3L).map(l).distinct
    val c2 = Seq(10L, 11L, 12L, 13L).map(l).distinct
    assert(c1.size == 1 && c2.size == 1, s"cliques must be uniform: $l")
    assert(c1.head != c2.head, s"cliques must differ: $l")
  }

  test("labelPropagation: multigraph input dedups at the boundary (mode-vote contract)") {
    // Edge (1,2) repeated 3× must not out-vote the 2-member majority
    // {3,4} at node 2 — the boundary distinct makes duplicate edges
    // carry ONE vote, so a multigraph input equals its simple graph
    val und = Seq((1L, 2L), (1L, 2L), (1L, 2L), (3L, 2L), (4L, 2L),
      (3L, 4L))
    val multi = (und ++ und.map(_.swap)).toDF("src", "dst")
    val simple = (und.distinct ++ und.distinct.map(_.swap)).toDF("src", "dst")
    def lbls(df: org.apache.spark.sql.DataFrame) =
      Graph.labelPropagation(df, iters = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbls(multi) === lbls(simple),
      "duplicated edges must carry a single vote")
  }

  test("labelPropagation is deterministic: same labels on re-run and re-partition") {
    val rnd = new scala.util.Random(31)
    val und = (1 to 80).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    def run(parts: Int) =
      Graph.labelPropagation(edges.repartition(parts), iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(2) === run(7), "mode+min-tiebreak must be partition-independent")
  }

  test("bfsHops: exact hop distances, bound respected, unreachable component absent") {
    // path 0-1-2-3-4-5 plus a disconnected edge 10-11, seed = {0}
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val p = Graph.prepare(edges, symmetric = true)
    val got = Graph.bfsHops(p, Seq(0L).toDF("node"), maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3),
      s"exact min-hop distances, bounded at 3, other component absent: $got")
    // a seed inside a cycle: min-hop wins over the longer way round
    val cyc = (0L to 4L).map(i => (i, (i + 1) % 5))
    val pc = Graph.prepare((cyc ++ cyc.map(_.swap)).toDF("src", "dst"),
      symmetric = true)
    val g2 = Graph.bfsHops(pc, Seq(0L).toDF("node"), maxHops = 4).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(g2 === Map(0L -> 0, 1L -> 1, 4L -> 1, 2L -> 2, 3L -> 2), s"$g2")
  }

  test("labelPropagation: matches a reference synchronous simulation on random graphs") {
    // independent in-memory model of the declared semantics (every
    // node simultaneously adopts the most frequent in-neighbor label,
    // min tie-break) — guards both the closed-form round 1 and the
    // max-join argmax against drift
    val rnd = new scala.util.Random(43)
    for (_ <- 1 to 3) {
      val und = (1 to 60)
        .map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
        .filter(p => p._1 != p._2).distinct
      val edges = (und ++ und.map(_.swap)).distinct
      val got = Graph.labelPropagation(edges.toDF("src", "dst"), iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val inNbrs = edges.groupBy(_._2).map { case (v, es) => v -> es.map(_._1) }
      var lbl = inNbrs.keys.map(v => v -> v).toMap
      for (_ <- 1 to 3) {
        lbl = inNbrs.map { case (v, ins) =>
          val votes = ins.groupBy(lbl).map { case (l, xs) => l -> xs.size }
          val mx = votes.values.max
          v -> votes.collect { case (l, n) if n == mx => l }.min
        }
      }
      assert(got === lbl)
    }
  }

  test("labelPropagation plan: hash aggregates and equi-joins only — no sorts, no windows") {
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val plan = Graph.labelPropagation(edges, iters = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$plan")
    assert(!plan.contains("Window"), s"argmax must be agg-based, not window:\n$plan")
  }

  // Reference Bellman–Ford: d_k(v) = min(d_{k-1}(v), min over in-edges)
  private def bfRef(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
      hops: Int): Map[Long, Long] = {
    var d = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to hops) {
      val relaxed = edges.flatMap { case (s, t, c) =>
        d.get(s).map(ds => t -> (ds + c))
      }.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).min }
      d = (d.keySet ++ relaxed.keySet).map { v =>
        v -> math.min(d.getOrElse(v, Long.MaxValue),
          relaxed.getOrElse(v, Long.MaxValue))
      }.toMap
    }
    d
  }

  test("ssspBounded: matches reference Bellman–Ford on a randomized weighted graph") {
    val rnd = new scala.util.Random(11)
    val es = (1 to 120).map(_ => (rnd.nextInt(15).toLong,
      rnd.nextInt(15).toLong, (1 + rnd.nextInt(9)).toLong))
      .filter(e => e._1 != e._2).distinct
    val edges = es.toDF("src", "dst", "cost")
    val seeds = Seq(0L, 7L).toDF("node")
    for (hops <- Seq(0, 1, 3)) {
      val got = Graph.ssspBounded(edges, seeds, maxHops = hops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === bfRef(es, Set(0L, 7L), hops), s"hops=$hops")
    }
  }

  test("ssspBounded: takes the cheap multi-hop path over the expensive direct edge") {
    // 0→3 direct costs 10; 0→1→2→3 costs 3. At maxHops=1 the direct
    // edge wins (10); at ≥3 the chain wins (3) — the min-plus carry
    // across rounds must strictly improve an already-reached node.
    val edges = Seq((0L, 3L, 10L), (0L, 1L, 1L), (1L, 2L, 1L),
      (2L, 3L, 1L)).toDF("src", "dst", "cost")
    val seeds = Seq(0L).toDF("node")
    val h1 = Graph.ssspBounded(edges, seeds, maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1(3L) == 10L, s"one hop must use the direct edge: $h1")
    val h3 = Graph.ssspBounded(edges, seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h3(3L) == 3L, s"three hops must find the chain: $h3")
  }

  test("ssspBounded: early exit after convergence equals a larger hop bound") {
    // diameter 2 from the seed: maxHops 2 converges, so 2 and 8 agree
    // (and the 8-round run exits early rather than looping 8 times)
    val und = Seq((0L, 1L, 2L), (1L, 2L, 2L), (0L, 2L, 5L))
    val edges = (und ++ und.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "cost")
    val seeds = Seq(0L).toDF("node")
    def run(h: Int) = Graph.ssspBounded(edges, seeds, maxHops = h)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(2) === run(8))
    assert(run(2) === Map(0L -> 0L, 1L -> 2L, 2L -> 4L))
  }

  test("loop checkpoint level: DISK_ONLY honors the conf and is bit-identical") {
    // The r17 spill matrix showed loop-invariant checkpoints pinning
    // deserialized heap blocks that execution cannot evict (they are
    // read-locked during every round's join), so constrained deploys
    // set spark.graft.loop.checkpointLevel=DISK_ONLY. This pins the
    // two things that must hold for that knob to be safe: the level
    // actually reaches the checkpointed RDD, and ranks through a
    // disk-backed loop are bit-identical to the default (the DECIMAL
    // contribution sums are order-free, so not merely close).
    val rnd = new scala.util.Random(17)
    val e = (1 to 80).map(_ => (rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    def run() = Graph.pageRank(edges, iters = 6, checkpointEvery = 2)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val dflt = run()
    val key = "spark.graft.loop.checkpointLevel"
    spark.conf.set(key, "DISK_ONLY")
    try {
      val ck = graft.plans.Loops.checkpoint(edges)
      val level = ck.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
        .rdd.getStorageLevel
      assert(!level.useMemory && level.useDisk,
        s"conf level must reach the checkpoint RDD, got $level")
      assert(run() === dflt)
    } finally spark.conf.unset(key)
  }
}
