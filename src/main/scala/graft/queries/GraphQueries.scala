package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Graph
import graft.sources.Tables

/** Graph analytics over relationship structure derived from the star
  * schema — the "who trades with whom" graph (customer↔supplier via
  * shared orders). Complements the connected-components machinery
  * (d10/d11) with a weighted-importance fixpoint.
  *
  * CROSS-ENGINE FLOAT DISCIPLINE (both queries): per-edge
  * contributions are a single double division, contribution SUMS are
  * routed through DECIMAL(30,15) (exact, order-free), and every
  * constant is written as the same literal arithmetic the Spark side
  * constant-folds — IEEE 1.0 − 0.85 is 0.15000000000000002, not 0.15
  * — so ranks are bit-identical across engines.
  */
object GraphQueries {

  /** The shared trade graph: customers (2k) and suppliers (2k+1) that
    * share at least one order; both edge directions present.
    */
  /** Directed customer→supplier trade edges (pre-symmetrization):
    * the bipartite form g4's HITS runs on — hubs = customers,
    * authorities = suppliers.
    */
  /** Session-memoized (SessionCache) like every shared CTAS artifact:
    * g4 consumes it directly and the g1/g2 prepared graph
    * symmetrizes it, so the lineitem⋈orders+distinct build runs once
    * per (session, sf dir).
    */
  private def tradeEdgesDirected(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    graft.sources.SessionCache.getOrElseUpdate(s, s"trade_edges:$dir")(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
        .transform(graft.plans.Loops.checkpoint(_, keepPartitioning = false)))

  private def tradeEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val e0 = tradeEdgesDirected(s, dir)
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The trade graph as a PREPARED artifact — (src, dst, outdeg)
    * materialized src-partitioned plus the node count — built once per
    * session and shared by g1/g2, the same CTAS-style memoization the
    * hierarchy dim and the text pair sets use (`SessionCache`). This
    * is the documented 100 TB shape: persist the edge table
    * `bucketBy("src")` once, run every rank/convergence query against
    * it; per-query cost is then the loop itself, not the edge build.
    * Weak-keyed on the session like SessionCache, so discarded
    * sessions don't pin checkpoints.
    */
  private val graphCache = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    scala.collection.concurrent.TrieMap[String, Graph.Prepared]]()

  private[graft] def tradeGraph(s: org.apache.spark.sql.SparkSession,
      dir: String): Graph.Prepared = {
    val perSession = graphCache.synchronized {
      val existing = graphCache.get(s)
      if (existing != null) existing
      else {
        val fresh = scala.collection.concurrent.TrieMap.empty[String, Graph.Prepared]
        graphCache.put(s, fresh)
        fresh
      }
    }
    perSession.getOrElseUpdate(s"trade_graph:$dir",
      Graph.prepare(tradeEdges(s, dir), symmetric = true))
  }

  /** The trusted seed set of g5 and g7: even (customer-side) node ids
    * up to 50, i.e. customers with custkey ≤ 25 that appear in the
    * graph. */
  private[graft] def tradeSeeds(p: Graph.Prepared): DataFrame =
    p.nodes.filter(col("node") % 2 === 0 && col("node") <= 50)

  /** g5's answer from a PPR of the trade graph: the board passes
    * [[Graph.personalizedPageRank]], `tools.PlanDump` its lazy rounds. */
  private[graft] def pprTop(s: org.apache.spark.sql.SparkSession, dir: String,
      ppr: (Graph.Prepared, DataFrame, Int, Double) => DataFrame): DataFrame = {
    val p = tradeGraph(s, dir)
    ppr(p, tradeSeeds(p), 3, 0.85)
      .select(col("node"),
        floor(lit(1000000000.0) * col("r")).cast("long").as("rank_bp"))
      .orderBy(col("rank_bp").desc, col("node"))
      .limit(50)
  }

  /** Edge list + degree + node count, shared by both oracles. */
  private val oracleGraph =
    """WITH e0 AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |), sym AS MATERIALIZED (
      |  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
      |), deg AS MATERIALIZED (
      |  SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY src
      |), nn AS (
      |  SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS n FROM sym
      |)""".stripMargin

  /** One SCALE-FREE round (s' = (1−d) + d·Σ s/outdeg; s = N·rank) —
    * the recurrence both Graph.pageRankSymmetric and the symmetric
    * convergence loop run (the graph is symmetric, so every node has
    * in-edges and the inner join loses nothing).
    */
  private def scaledRound(prev: String, out: String): String =
    s""", $out AS MATERIALIZED (
       |  SELECT sym.dst AS node,
       |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
       |      + CAST(0.85 AS DOUBLE) * CAST(SUM(CAST($prev.s / deg.outdeg AS DECIMAL(30,15))) AS DOUBLE) AS s
       |  FROM sym JOIN deg ON deg.src = sym.src
       |  JOIN $prev ON $prev.node = sym.src
       |  GROUP BY sym.dst
       |)""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // ---- damped PageRank, 3 fixed iterations ----
    // Scale-free iteration (s = N·rank, divided by N once at the end
    // — see Graph.pageRankSymmetric): three jobs, one exchange per
    // round, no driver-side count, round 1 straight off the edge
    // table (s⁰ ≡ 1 needs no rank join). The oracle replays the
    // identical arithmetic round by round.
    QueryDef("g1_pagerank",
      oracleGraph +
        """, s1 AS (
          |  SELECT sym.dst AS node,
          |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
          |      + CAST(0.85 AS DOUBLE) * CAST(SUM(CAST(CAST(1 AS DOUBLE) / deg.outdeg AS DECIMAL(30,15))) AS DOUBLE) AS s
          |  FROM sym JOIN deg ON deg.src = sym.src
          |  GROUP BY sym.dst
          |)""".stripMargin +
        scaledRound("s1", "s2") + scaledRound("s2", "s3") +
        """
          |SELECT node, CAST(floor(CAST(1000000000 AS DOUBLE) * (s / (SELECT n FROM nn))) AS BIGINT) AS rank_bp
          |FROM s3 ORDER BY rank_bp DESC, node LIMIT 50""".stripMargin) { (s, dir) =>
      Graph.pageRankSymmetricPrepared(tradeGraph(s, dir), iters = 3, damping = 0.85)
        .select(col("node"),
          floor(lit(1000000000.0) * col("r")).cast("long").as("rank_bp"))
        .orderBy(col("rank_bp").desc, col("node"))
        .limit(50)
    },

    // ---- damped PageRank, iterated to a convergence tolerance ----
    // The loop-control path, correctness-gated: pageRankConverged
    // stops at the first 3-round block boundary where the max rank
    // movement is under tol. The engine runs the SCALE-FREE symmetric
    // loop (s = N·rank, s⁰ ≡ 1; delta compared as
    // max |s_k − s_{k−1}| < tol·N, the ÷N folded once at the end —
    // Graph.pageRankConvergedSymmetric), and the oracle replays every
    // scaled round to maxIters as chained CTEs, reproduces the block
    // deltas on the same s scale (block 1 against the constant 1.0),
    // picks the same first-converged boundary k*, and returns that
    // iteration's ranks plus iters_run = k* — so the stopping
    // decision itself is hash-checked, not just the ranks.
    QueryDef("g2_pagerank_converged", {
      val rounds =
        (2 to 12).map(i => scaledRound(s"s${i - 1}", s"s$i")).mkString
      oracleGraph +
        """, s1 AS (
          |  SELECT sym.dst AS node,
          |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
          |      + CAST(0.85 AS DOUBLE) * CAST(SUM(CAST(CAST(1 AS DOUBLE) / deg.outdeg AS DECIMAL(30,15))) AS DOUBLE) AS s
          |  FROM sym JOIN deg ON deg.src = sym.src
          |  GROUP BY sym.dst
          |)""".stripMargin +
        rounds +
        """, deltas AS (
          |  SELECT 3 AS k, MAX(abs(s3.s - CAST(1 AS DOUBLE))) AS delta FROM s3
          |  UNION ALL
          |  SELECT 6, MAX(abs(s6.s - s3.s)) FROM s6 JOIN s3 ON s6.node = s3.node
          |  UNION ALL
          |  SELECT 9, MAX(abs(s9.s - s6.s)) FROM s9 JOIN s6 ON s9.node = s6.node
          |  UNION ALL
          |  SELECT 12, MAX(abs(s12.s - s9.s)) FROM s12 JOIN s9 ON s12.node = s9.node
          |), kstar AS (
          |  SELECT coalesce(MIN(k), 12) AS k FROM deltas
          |  WHERE delta < CAST(0.003 AS DOUBLE) * (SELECT n FROM nn)
          |), allr AS (
          |  SELECT 3 AS k, node, s FROM s3 UNION ALL SELECT 6, node, s FROM s6
          |  UNION ALL SELECT 9, node, s FROM s9 UNION ALL SELECT 12, node, s FROM s12
          |)
          |SELECT node,
          |  CAST(floor(CAST(1000000000 AS DOUBLE) * (s / (SELECT n FROM nn))) AS BIGINT) AS rank_bp,
          |  CAST((SELECT k FROM kstar) AS INT) AS iters_run
          |FROM allr WHERE k = (SELECT k FROM kstar)
          |ORDER BY rank_bp DESC, node LIMIT 50""".stripMargin
    }) { (s, dir) =>
      // tradeGraph feeds both directions — the prepared symmetric path
      // runs the scale-free loop over the shared edge artifact: no
      // per-query edge build, no count job, block-1 delta against the
      // constant 1.0, ÷N as a driver literal
      Graph.pageRankConvergedPrepared(tradeGraph(s, dir), tol = 0.003,
          maxIters = 12, damping = 0.85, checkEvery = 3)
        .select(col("node"),
          floor(lit(1000000000.0) * col("r")).cast("long").as("rank_bp"),
          col("iters_run").cast("int").as("iters_run"))
        .orderBy(col("rank_bp").desc, col("node"))
        .limit(50)
    },

    // ---- exact triangle counting (degree-ordered orientation) ----
    // The trade graph above is BIPARTITE (customers ⋈ suppliers), so
    // it is triangle-free by construction; triangles live on the
    // supplier CO-OCCURRENCE graph — suppliers fulfilling high-volume
    // line items (l_quantity ≥ 45, a pushed-down scan predicate) of
    // the same order. The operator orients each edge from its
    // lower-(degree, id) endpoint and counts each triangle once at
    // its lowest-rank corner (O(m^{3/2}) wedge volume, hub-safe —
    // Graph.triangleCounts); the oracle counts the same triangles
    // with the textbook three-way self-join on a < b < c, a shape
    // that is only viable at oracle scale. Counts are integers, so
    // the comparison is exact.
    QueryDef("g3_triangle_count",
      """WITH su AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        |  FROM lineitem WHERE l_quantity >= 45
        |), e AS (
        |  SELECT DISTINCT x.sk AS a, y.sk AS b
        |  FROM su x JOIN su y ON x.ok = y.ok AND x.sk < y.sk
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |), corners AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri
        |)
        |SELECT node AS suppkey, CAST(COUNT(*) AS BIGINT) AS n_tri
        |FROM corners GROUP BY node
        |ORDER BY n_tri DESC, suppkey LIMIT 50""".stripMargin) { (s, dir) =>
      val su = Tables.lineitem(s, dir)
        .where(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = su.select(col("ok"), col("sk").as("a"))
        .join(su.select(col("ok"), col("sk").as("b")), Seq("ok"))
        .where(col("a") < col("b"))
        .select("a", "b").distinct()
      Graph.triangleCounts(edges)
        .select(col("node").as("suppkey"), col("n_tri"))
        .orderBy(col("n_tri").desc, col("suppkey"))
        .limit(50)
    },

    // ---- HITS authorities on the directed trade graph ----
    // Kleinberg's mutual reinforcement on the bipartite
    // customer→supplier edges (hubs = customers, authorities =
    // suppliers): an authoritative supplier is one bought from by
    // customers who buy from many authoritative suppliers. Three
    // UNNORMALIZED rounds — with h⁰ ≡ 1 every round is a pure BIGINT
    // sum (a¹ = indeg, hᵏ = Σ aᵏ, aᵏ⁺¹ = Σ hᵏ), so scores are exact
    // integers, the ordering is the textbook one (L2 normalization
    // only rescales), and the oracle replays the rounds as chained
    // integer CTEs with no quantization anywhere. Plan: two hash
    // aggregates per round over the same src/dst join keys — the
    // bucketed-edge-table exchange-elision shape, no driver state.
    QueryDef("g4_hits_authorities",
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), a1 AS (
        |  SELECT dst, CAST(COUNT(*) AS BIGINT) AS s FROM e0 GROUP BY dst
        |), h1 AS (
        |  SELECT e0.src, CAST(SUM(a1.s) AS BIGINT) AS s
        |  FROM e0 JOIN a1 ON a1.dst = e0.dst GROUP BY e0.src
        |), a2 AS (
        |  SELECT e0.dst, CAST(SUM(h1.s) AS BIGINT) AS s
        |  FROM e0 JOIN h1 ON h1.src = e0.src GROUP BY e0.dst
        |), h2 AS (
        |  SELECT e0.src, CAST(SUM(a2.s) AS BIGINT) AS s
        |  FROM e0 JOIN a2 ON a2.dst = e0.dst GROUP BY e0.src
        |), a3 AS (
        |  SELECT e0.dst, CAST(SUM(h2.s) AS BIGINT) AS s
        |  FROM e0 JOIN h2 ON h2.src = e0.src GROUP BY e0.dst
        |)
        |SELECT dst AS node, s AS auth_score FROM a3
        |ORDER BY auth_score DESC, node LIMIT 50""".stripMargin) { (s, dir) =>
      Graph.hits(tradeEdgesDirected(s, dir), iters = 3)
        .orderBy(col("auth_score").desc, col("node"))
        .limit(50)
    },

    // ---- personalized PageRank from a trusted seed set ----
    // Teleport mass returns ONLY to the seeds (customers with custkey
    // ≤ 25 that appear in the graph), so scores measure proximity to
    // the trusted set — the influence/relevance scoring shape a
    // curation pipeline runs from a small vetted corpus. The engine
    // loop carries a SPARSE frontier (only nodes reached so far hold
    // rows — O(reached) state per round, the 100 TB selling point of
    // PPR vs global PageRank); the oracle replays each round as a
    // chained CTE with the identical double/DECIMAL arithmetic and a
    // LEFT JOIN seeds restart CASE. Quantized to 1e-9 like g1.
    QueryDef("g5_personalized_pagerank", {
      def pprRound(prev: String, out: String): String =
        s""", $out AS MATERIALIZED (
           |  SELECT t.node,
           |    CASE WHEN sd.node IS NOT NULL
           |      THEN (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM ns)
           |      ELSE CAST(0 AS DOUBLE) END
           |      + CAST(0.85 AS DOUBLE) * CAST(t.csum AS DOUBLE) AS r
           |  FROM (
           |    SELECT node, SUM(c) AS csum FROM (
           |      SELECT sym.dst AS node,
           |        CAST($prev.r / deg.outdeg AS DECIMAL(30,15)) AS c
           |      FROM sym JOIN deg ON deg.src = sym.src
           |      JOIN $prev ON $prev.node = sym.src
           |      UNION ALL
           |      SELECT node, CAST(0 AS DECIMAL(30,15)) FROM seeds
           |    ) GROUP BY node
           |  ) t LEFT JOIN seeds sd ON sd.node = t.node
           |)""".stripMargin
      oracleGraph +
        """, seeds AS MATERIALIZED (
          |  SELECT DISTINCT src AS node FROM sym
          |  WHERE src % 2 = 0 AND src <= 50
          |), ns AS (
          |  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds
          |), r0 AS (
          |  SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM ns) AS r FROM seeds
          |)""".stripMargin +
        pprRound("r0", "r1") + pprRound("r1", "r2") + pprRound("r2", "r3") +
        """
          |SELECT node, CAST(floor(CAST(1000000000 AS DOUBLE) * r) AS BIGINT) AS rank_bp
          |FROM r3 ORDER BY rank_bp DESC, node LIMIT 50""".stripMargin
    }) { (s, dir) => pprTop(s, dir, Graph.personalizedPageRank) },

    // ---- label-propagation communities (determinized LPA) ----
    // Synchronous mode-label voting with min-label tie-breaks — a
    // pure function of the graph, so every round replays as a chained
    // CTE (counts → max-count → min-label argmax, all hash aggregates
    // on integer keys; no random visit order as in classic LPA).
    // Two rounds over the symmetric trade graph (the dense graph
    // collapses to a near-global community by round 3 — two rounds is
    // where the mode-voting structure is informative); output is the
    // community histogram. Complements d10's connected components
    // (LPA splits a connected blob into densely-linked groups).
    QueryDef("g6_lpa_communities", {
      def lpaRound(prev: String, k: Int): String =
        s""", cnt_$k AS (
           |  SELECT sym.dst AS node, l.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM sym JOIN $prev l ON l.node = sym.src
           |  GROUP BY sym.dst, l.lbl
           |), mx_$k AS (
           |  SELECT node, MAX(cnt) AS cnt FROM cnt_$k GROUP BY node
           |), l$k AS MATERIALIZED (
           |  SELECT c.node, MIN(c.lbl) AS lbl
           |  FROM cnt_$k c JOIN mx_$k m ON m.node = c.node AND m.cnt = c.cnt
           |  GROUP BY c.node
           |)""".stripMargin
      oracleGraph +
        """, l0 AS MATERIALIZED (
          |  SELECT DISTINCT src AS node, src AS lbl FROM sym
          |)""".stripMargin +
        lpaRound("l0", 1) + lpaRound("l1", 2) +
        """
          |SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
          |  MIN(node) AS min_node
          |FROM l2 GROUP BY lbl
          |ORDER BY n_members DESC, community LIMIT 50""".stripMargin
    }) { (s, dir) =>
      // edgesDistinct proof: tradeEdgesDirected is .distinct() and maps
      // src to even ids, dst to odd — its union with its own reverse
      // (odd→even) can never produce a duplicate pair
      Graph.labelPropagation(tradeEdges(s, dir), iters = 2,
        edgesDistinct = true)
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"), min("node").as("min_node"))
        .orderBy(col("n_members").desc, col("community"))
        .limit(50)
    },

    // ---- k-hop BFS neighborhood from the trusted seed set ----
    // Min-hop distances from g5's seed customers, bounded at 3 hops —
    // the blast-radius / seed-expansion primitive. The engine runs
    // the frontier loop (per round: one exchange-free edge join, a
    // distinct, an anti-join vs visited — O(reached) state,
    // checkpoint discipline); the oracle replays each level as a
    // chained CTE with NOT-IN exclusions of all prior levels. Output
    // is the per-hop histogram with node-range anchors.
    QueryDef("g7_khop_bfs", {
      def level(k: Int): String = {
        val excl = (0 until k)
          .map(j => s"sym.dst NOT IN (SELECT node FROM l$j)").mkString(" AND ")
        s""", l$k AS MATERIALIZED (
           |  SELECT DISTINCT sym.dst AS node
           |  FROM sym JOIN l${k - 1} ON sym.src = l${k - 1}.node
           |  WHERE $excl
           |)""".stripMargin
      }
      oracleGraph +
        """, seeds AS MATERIALIZED (
          |  SELECT DISTINCT src AS node FROM sym
          |  WHERE src % 2 = 0 AND src <= 50
          |), l0 AS MATERIALIZED (SELECT node FROM seeds)""".stripMargin +
        level(1) + level(2) + level(3) +
        """, hops AS (
          |  SELECT node, 0 AS hop FROM l0
          |  UNION ALL SELECT node, 1 FROM l1
          |  UNION ALL SELECT node, 2 FROM l2
          |  UNION ALL SELECT node, 3 FROM l3
          |)
          |SELECT CAST(hop AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,
          |  MIN(node) AS min_node, MAX(node) AS max_node
          |FROM hops GROUP BY hop ORDER BY hop""".stripMargin
    }) { (s, dir) =>
      val p = tradeGraph(s, dir)
      Graph.bfsHops(p, tradeSeeds(p), maxHops = 3)
        .groupBy(col("hop").cast("long").as("hop"))
        .agg(count(lit(1)).as("n_nodes"),
          min("node").as("min_node"), max("node").as("max_node"))
        .orderBy("hop")
    },

    // ---- link prediction: resource-allocation index for a seed set ----
    // "Which other customers look most like these 20 accounts?" —
    // score candidate pairs by shared suppliers, each shared neighbor
    // w contributing 1/deg(w) (the resource-allocation index; the
    // hub-supplier everyone buys from says little, the niche supplier
    // says a lot). The contribution is QUANTIZED to integer
    // 1e12 div deg(w) so the score is an exact BIGINT sum — no
    // engine-specific ln/double rounding (deg > 0, so truncating and
    // floor division agree; same contract as e16's bucketing).
    // Scale shape: the wedge join is SEED-SCOPED — per-seed work is
    // the two-hop neighborhood, not the graph; the supplier-degree
    // side is a dim-sized broadcast; never an all-pairs product. At
    // 100 TB this is the standard two-hop candidate generator run per
    // query cohort against the bucketed edge table.
    QueryDef("g8_link_prediction",
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), deg_s AS MATERIALIZED (
        |  SELECT dst, COUNT(*) AS d FROM e0 GROUP BY dst
        |)
        |SELECT a.src AS seed, b.src AS cand,
        |  CAST(SUM(1000000000000 // deg_s.d) AS BIGINT) AS ra_q,
        |  CAST(COUNT(*) AS BIGINT) AS n_common
        |FROM e0 a JOIN e0 b ON a.dst = b.dst AND a.src <> b.src
        |JOIN deg_s ON deg_s.dst = a.dst
        |WHERE a.src <= 40
        |GROUP BY a.src, b.src
        |ORDER BY ra_q DESC, seed, cand LIMIT 100""".stripMargin) { (s, dir) =>
      val e0 = tradeEdgesDirected(s, dir)
      val degS = e0.groupBy("dst").agg(count(lit(1)).as("d"))
      val seedEdges = e0.where(col("src") <= 40)
        .select(col("src").as("seed"), col("dst"))
      seedEdges
        .join(e0.select(col("src").as("cand"), col("dst")), Seq("dst"))
        .where(col("seed") =!= col("cand"))
        .join(broadcast(degS), Seq("dst"))
        .groupBy("seed", "cand")
        .agg(sum(expr("CAST(1000000000000 AS BIGINT) div d")).as("ra_q"),
          count(lit(1)).as("n_common"))
        .orderBy(col("ra_q").desc, col("seed"), col("cand"))
        .limit(100)
    },

    // ---- bounded-hop weighted shortest path (min-plus Bellman–Ford) ----
    // "Cheapest trade chain from these accounts": edge cost =
    // 1e6 div (shared-order count), so strong trade ties are cheap and
    // the shortest path follows the strongest relationship chain. All
    // arithmetic is exact BIGINT min-plus — no float anywhere — and
    // the ≤4-hop bound makes the oracle an unrolled level-CTE replay
    // of the identical recurrence (the same bounded-contract honesty
    // as g7's BFS: unbounded fixpoints don't get scheduled blind at
    // 100 TB). Scale shape: per round one src-keyed edge join (bucket
    // the weighted edge table by src once) + a node-keyed min; state
    // is O(reached), frontier = strict improvements only.
    QueryDef("g9_sssp_bounded", {
      def level(k: Int): String =
        s""", l$k AS MATERIALIZED (
           |  SELECT node, MIN(dist) AS dist FROM (
           |    SELECT node, dist FROM l${k - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, l${k - 1}.dist + e.cost AS dist
           |    FROM l${k - 1} JOIN e ON e.src = l${k - 1}.node
           |  ) GROUP BY node
           |)""".stripMargin
      """WITH w0 AS (
        |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
        |    CAST(1000000 // COUNT(*) AS BIGINT) AS cost
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2
        |), e AS MATERIALIZED (
        |  SELECT src, dst, cost FROM w0
        |  UNION ALL SELECT dst AS src, src AS dst, cost FROM w0
        |), l0 AS (
        |  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist FROM e
        |  WHERE src % 2 = 0 AND src <= 10
        |)""".stripMargin +
        level(1) + level(2) + level(3) + level(4) +
        """
          |SELECT node, dist FROM l4 ORDER BY node""".stripMargin
    }) { (s, dir) =>
      // weighted edge table memoized per (session, sf dir) like the
      // unweighted trade graph — the 100 TB shape is the SAME edge
      // table persisted bucketBy("src") once, every SSSP run reading
      // it exchange-free (ssspBounded edgesPrepared contract)
      val e = graft.sources.SessionCache.getOrElseUpdate(
        s, s"trade_edges_weighted:$dir") {
        val w0 = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("src").cast("long"), col("dst").cast("long"),
            expr("CAST(1000000 AS BIGINT) div cnt").as("cost"))
        val sym = w0.union(
          w0.select(col("dst").as("src"), col("src").as("dst"), col("cost")))
        graft.plans.Loops.checkpoint(
          sym.repartition(col("src")))
      }
      val seeds = e.where(col("src") % 2 === 0 && col("src") <= 10)
        .select(col("src").as("node")).distinct()
      Graph.ssspBounded(e, seeds, maxHops = 4, edgesPrepared = true)
        .orderBy("node")
    })
}
