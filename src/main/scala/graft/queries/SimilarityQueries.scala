package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.{Tables, Warehouse}

/** Similarity-search queries over `embeddings` (array<float>, 64-dim).
  * Scores use quantized integer arithmetic (see Similarity scaladoc)
  * so the brute-force baseline is oracle-checkable bit-for-bit.
  */
object SimilarityQueries {

  /** d27 oracle, rebuilt for sf1 affordability (r16 verdict item 2).
    * The r15 form replayed candidate cosines through interpreted
    * list_transform lambdas and computed reachability as a full
    * transitive-closure recursive CTE (O(Σ cluster²) rows) — 59.9 s
    * at sf0.1 and "~minutes" at sf1, so the scale-path clustering
    * operator was only verified where its oracle was affordable.
    * Two changes, zero semantic drift:
    *  - dot products via DuckDB's NATIVE list_dot_product over the
    *    pre-quantized integer grid carried as DOUBLE — |vq| ≤ ~600,
    *    so every product (≤ 3.6e5) and 64-term sum (≤ 2.3e7) is
    *    integer-exact in a double, and the BIGINT cast reproduces
    *    the lambda form bit-for-bit at ~50× the speed;
    *  - min-label connected components as `rounds` UNROLLED
    *    hook+shortcut iterations (m' = min(m, neighbor m, m(m)) —
    *    the pointer-jumping law, distance covered doubles per round)
    *    instead of the closure CTE: each round is LINEAR in |E|, and
    *    2^rounds far exceeds any component's min-label eccentricity
    *    at the SFs we run. Honesty of the bound: if a component ever
    *    needed more rounds, the oracle would emit a non-converged
    *    label and the hash gate would fail LOUDLY — under-unrolling
    *    cannot silently pass.
    */
  private def d27OracleSql(rounds: Int = 20): String = {
    val head =
      """WITH nn AS (SELECT COUNT(*) AS n, GREATEST(8, COUNT(*) // 500) AS k FROM embeddings),
        |cids AS (SELECT unnest(range(0, (SELECT k FROM nn))) * (SELECT n // k FROM nn) AS cid),
        |eq AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT) AS DOUBLE)) AS vq
        |  FROM embeddings
        |), cents AS (
        |  SELECT e.vec_id AS cell_id, e.vq AS cv,
        |    CAST(list_dot_product(e.vq, e.vq) AS BIGINT) AS cn2
        |  FROM eq e JOIN cids ON e.vec_id = cids.cid
        |), skeys AS (
        |  SELECT vec_id, cell_id,
        |    CASE WHEN qd >= 0 THEN (qd*qd*100) // cn2
        |         ELSE -((qd*qd*100) // cn2) END AS skey
        |  FROM (
        |    SELECT eq.vec_id, cents.cell_id, cents.cn2,
        |      CAST(list_dot_product(eq.vq, cents.cv) AS BIGINT) AS qd
        |    FROM eq CROSS JOIN cents) t
        |), pr AS (
        |  SELECT vec_id, cell_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY skey DESC, cell_id) AS prk
        |  FROM skeys
        |), v AS (
        |  SELECT vec_id, vq,
        |    CAST(list_dot_product(vq, vq) AS BIGINT) AS n2
        |  FROM eq
        |), cp AS (
        |  SELECT DISTINCT pa.vec_id AS a_id, pb.vec_id AS b_id
        |  FROM (SELECT vec_id, cell_id FROM pr WHERE prk <= 4) pa
        |  JOIN (SELECT vec_id, cell_id FROM pr WHERE prk <= 4) pb
        |    ON pa.cell_id = pb.cell_id AND pa.vec_id < pb.vec_id
        |), pairs AS (
        |  SELECT cp.a_id, cp.b_id
        |  FROM cp
        |  JOIN v x ON x.vec_id = cp.a_id
        |  JOIN v y ON y.vec_id = cp.b_id
        |  WHERE CAST(floor(10000.0 * CAST(CAST(list_dot_product(x.vq, y.vq) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))) AS BIGINT) >= 3000
        |), edges AS MATERIALIZED (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id, a_id FROM pairs
        |), l0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS node, src AS m FROM edges
        |)""".stripMargin
    // every round CTE references its predecessor TWICE (hook +
    // shortcut), so without MATERIALIZED DuckDB's CTE inlining makes
    // the plan — and the parquet open count — grow 2^rounds
    val roundCtes = (1 to rounds).map { i =>
      val p = s"l${i - 1}"
      s""", l$i AS MATERIALIZED (
         |  SELECT node, MIN(m) AS m FROM (
         |    SELECT node, m FROM $p
         |    UNION ALL
         |    SELECT e.dst AS node, p.m AS m FROM $p p JOIN edges e ON p.node = e.src
         |    UNION ALL
         |    SELECT p.node, q.m AS m FROM $p p JOIN $p q ON p.m = q.node
         |  ) GROUP BY node
         |)""".stripMargin
    }.mkString
    head + roundCtes +
      s"\nSELECT node AS vec_id, m AS cluster_id FROM l$rounds ORDER BY vec_id"
  }

  val all: Seq[QueryDef] = Seq(

    // ---- brute-force exact top-k (correctness baseline) ----
    QueryDef("s1_ann_bruteforce",
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CAST(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |    p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS score
        |FROM embeddings e CROSS JOIN q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id LIMIT 50""".stripMargin) { (s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), queryId = 0L, k = 50)
    },

    // ---- OR-amplified LSH top-k (hash-checked vs exact top-k) ----
    // Candidates from 24 independent 2-plane tables + exact quantized
    // re-rank: a cosine-0.25 neighbor (this corpus's top-10 regime) is
    // missed with probability ≈ 5e-5 per the amplification bound, so
    // the result set equals the exact brute-force top-10 and the
    // oracle IS the exact computation (same contract pattern as s5).
    // The cheap-probe single-table form (Similarity.lshTopK) stays
    // spec-covered in SimilaritySpec with its recall curve.
    QueryDef("s2_ann_lsh",
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CAST(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |    p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS score
        |FROM embeddings e CROSS JOIN q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      Similarity.lshTopKMulti(Tables.embeddings(s, dir), queryId = 0L,
        k = 10, planes = 2, tables = 24)
    },

    // ---- blocked quantized-cosine near-dup pairs ----
    // Bounded slice (vec_id < 2000) keeps the within-block pairwise
    // work O(1) at any sf — this query demonstrates exact blocked
    // semantics for the oracle; the unbounded scale path is
    // s4_ann_lsh_pairs (LSH-bucketed blocks).
    QueryDef("s3_embedding_pairs",
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    CAST(list_sum(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS n2
        |  FROM embeddings WHERE vec_id < 2000
        |)
        |SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
        |  CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))) AS BIGINT) AS cos_bp
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))) AS BIGINT) >= 2500
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      Similarity.blockedCosinePairs(
        Tables.embeddings(s, dir).filter(col("vec_id") < 2000), minCosBp = 2500)
        .orderBy("a_id", "b_id")
    },

    // ---- OR-amplified LSH near-dup pairs, unbounded corpus ----
    // The whole-table twin of s5: no vec_id slice, lower threshold
    // (cos ≥ 0.20), 32 tables so a threshold-grazing pair is missed
    // with probability (1-0.318)^32 ≈ 5e-6 — the exact blocked pair
    // set is therefore a hash-checked oracle. Per (label, table,
    // bucket) blocks stay ~n/(labels·4), so candidate volume is
    // linear-ish in n with a ×tables constant; at larger corpora
    // planes and tables rise together (cost linear in tables, miss
    // probability geometric) — the standard LSH operating curve. The
    // single-table cheap-probe form stays spec-covered
    // (Similarity.lshCosinePairs, SimilaritySpec).
    QueryDef("s4_ann_lsh_pairs",
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    CAST(list_sum(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS n2
        |  FROM embeddings
        |)
        |SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
        |  CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))) AS BIGINT) AS cos_bp
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))) AS BIGINT) >= 2000
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      // Declared-quadratic contract, enforced in code (same d13→d25
      // discipline): at d=64 the spherical floor P(cos≥0.2)≈5.6%
      // (measured, r14) makes the OUTPUT quadratic on any realistic
      // corpus, so past the block budget this exact-audit form refuses
      // and names the capped sibling. sf1 ≈ 2.0e7 label pairs passes;
      // sf10 ≈ 2.0e9 refuses.
      graft.operators.Dedup.requireBlockPairBudget(
        Tables.embeddings(s, dir).select("label"), Seq("label"),
        maxBlockPairs = 200000000L,
        scalePath = "Similarity.cellTopKNeighbors (s17_ann_topk_cells); " +
          "the exact label-blocked audit form is s16_ann_topk_neighbors " +
          "under its own 2e8 budget")
      Similarity.lshCosinePairsMulti(Tables.embeddings(s, dir),
        minCosBp = 2000, planes = 2, tables = 32)
        .orderBy("a_id", "b_id")
    },

    // ---- per-vector capped top-k neighbors (s4's 100 TB contract) ----
    // Output is n·k BY CONTRACT and the quadratic candidate stream
    // never crosses the network (TopKAgg partial aggregation — see
    // Similarity.lshTopKNeighbors scaladoc for the containment proof
    // that per-bucket capping is exact). The oracle replays the exact
    // within-label computation with a window rank, so LSH recall and
    // the cap logic are both hash-checked.
    QueryDef("s16_ann_topk_neighbors",
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    CAST(list_sum(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS n2
        |  FROM embeddings
        |), p AS (
        |  SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
        |    CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |        q -> CAST(floor(CAST(q[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(q[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))) AS BIGINT) AS cos_bp
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos_bp DESC, b_id) AS rk
        |  FROM p WHERE cos_bp >= 2000
        |)
        |SELECT label, a_id, CAST(rk AS BIGINT) AS rk, b_id, cos_bp
        |FROM r WHERE rk <= 3 ORDER BY a_id, rk""".stripMargin) { (s, dir) =>
      // EXACT blocked form (r14): the contract's 0.2-cos recall floor
      // pins LSH at planes=2/tables=32, where the amplified candidate
      // stream is 16× the n²/2 brute-force volume — measured 707 s vs
      // this form at sf10. See Similarity.blockTopKNeighbors scaladoc.
      // r15: quadratic-in-block BY CONTRACT (blocks are labels, which
      // grow linearly with the corpus), so it now carries the same
      // budget guard as s4/d13/d23 and names the bounded-cell sibling:
      // sf1's ~2.0e7 label pairs pass, sf10's ~2.0e9 refuse loudly.
      graft.operators.Dedup.requireBlockPairBudget(
        Tables.embeddings(s, dir).select("label"), Seq("label"),
        maxBlockPairs = 200000000L,
        scalePath = "Similarity.cellTopKNeighbors (s17_ann_topk_cells)")
      Similarity.blockTopKNeighbors(Tables.embeddings(s, dir),
        k = 3, minCosBp = 2000)
        .orderBy("a_id", "rk")
    },

    // ---- bounded-cell top-k neighbors (the s16 scale path) ----
    // s16 is exact within LABELS — blocks that grow linearly with the
    // corpus, so its within-block work is quadratic by contract and
    // its new budget guard refuses past 2e8 pairs. This is the form
    // that survives the 100× bar: blocks are corpus-scaled IVF cells
    // (K = max(8, n//500) — d17's constant-cell-size discipline at a
    // finer grain: the measured sf1 knee where recall still holds but
    // the nprobe²·cell constant drops 5x) with SYMMETRIC nprobe=4
    // probe expansion — a pair is a candidate iff the two vectors'
    // top-4 cell sets intersect — so total candidate work is
    // n·nprobe²·cell ≈ LINEAR in the corpus, and requireBoundedCells
    // refuses a degenerate assignment. Recall vs exact all-pairs
    // ground truth is measured in SimilaritySpec and in BENCHNOTES
    // "r15: s17 bounded-cell top-k" (0.998 at sf0.1, 0.997 at
    // realistic sf1, the d9 declared-contract discipline; probe in
    // `git show 78c14b7:src/main/scala/graft/tools/CellRecallProbe.scala`);
    // the oracle replays the ENTIRE deterministic pipeline — integer
    // argmax cell assignment, probe ranking,
    // distinct probe-intersect candidates, quantized cosine, top-k —
    // so the hash gate checks the real algorithm, not a weaker
    // invariant.
    QueryDef("s17_ann_topk_cells",
      """WITH nn AS (SELECT COUNT(*) AS n, GREATEST(8, COUNT(*) // 500) AS k FROM embeddings),
        |cids AS (SELECT unnest(range(0, (SELECT k FROM nn))) * (SELECT n // k FROM nn) AS cid),
        |eq AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS vq
        |  FROM embeddings
        |), cents AS (
        |  SELECT e.vec_id AS cell_id, e.vq AS cv,
        |    CAST(list_sum(list_transform(e.vq, x -> x*x)) AS BIGINT) AS cn2
        |  FROM eq e JOIN cids ON e.vec_id = cids.cid
        |), skeys AS (
        |  SELECT vec_id, cell_id,
        |    CASE WHEN qd >= 0 THEN (qd*qd*100) // cn2
        |         ELSE -((qd*qd*100) // cn2) END AS skey
        |  FROM (
        |    SELECT eq.vec_id, cents.cell_id, cents.cn2,
        |      CAST(list_sum(list_transform(list_zip(eq.vq, cents.cv),
        |        p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS BIGINT) AS qd
        |    FROM eq CROSS JOIN cents) t
        |), pr AS (
        |  SELECT vec_id, cell_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY skey DESC, cell_id) AS prk
        |  FROM skeys
        |), v AS (
        |  SELECT vec_id, vq,
        |    CAST(list_sum(list_transform(vq, x -> x*x)) AS BIGINT) AS n2
        |  FROM eq
        |), cp AS (
        |  SELECT DISTINCT pa.vec_id AS a_id, pb.vec_id AS b_id
        |  FROM (SELECT vec_id, cell_id FROM pr WHERE prk <= 4) pa
        |  JOIN (SELECT vec_id, cell_id FROM pr WHERE prk <= 4) pb
        |    ON pa.cell_id = pb.cell_id AND pa.vec_id <> pb.vec_id
        |), cand AS (
        |  SELECT cp.a_id, cp.b_id,
        |    CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(x.vq, y.vq),
        |        p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))) AS BIGINT) AS cos_bp
        |  FROM cp
        |  JOIN v x ON x.vec_id = cp.a_id
        |  JOIN v y ON y.vec_id = cp.b_id
        |), r AS (
        |  SELECT a_id, b_id, cos_bp,
        |    ROW_NUMBER() OVER (PARTITION BY a_id
        |      ORDER BY cos_bp DESC, b_id) AS rk
        |  FROM cand WHERE cos_bp >= 2000
        |)
        |SELECT a_id, CAST(rk AS BIGINT) AS rk, b_id, cos_bp
        |FROM r WHERE rk <= 3 ORDER BY a_id, rk""".stripMargin) { (s, dir) =>
      val n = Tables.parquetRowCount(s, s"$dir/embeddings.parquet")
      val kCells = math.max(8L, n / 500L).toInt
      val cents = (0 until kCells).map(i => i * (n / kCells))
      Similarity.cellTopKNeighbors(Tables.embeddings(s, dir),
        k = 3, minCosBp = 2000, centroidIds = cents, nprobe = 4)
        .orderBy("a_id", "rk")
    },

    // ---- int8-membership cell top-k (X252 served — the s17 serving
    // compaction as a declared query) ----
    // Same probe law as s17 BIT-FOR-BIT (assignment/probe ranking on
    // the float ×1000-floor grid — identical candidate sets); only
    // pair-time scoring moves to the s9 symmetric int8 grid, the
    // form whose sf10 row measures a 2.3× smaller broadcast build and
    // a 1.8× faster warm wall (BENCHNOTES r17). The oracle replays
    // the ENTIRE pipeline: the s17 assignment CTEs verbatim, then
    // s9's quantizer per vector (scale = 127/max|x|, floor(+0.5),
    // clamped — the same IEEE double expression order as the
    // int8pack kernel, so the grids agree exactly) and the byte-grid
    // cosine + top-k. Hash-green means the packed kernels compute
    // precisely the declared law at every row, not merely close.
    QueryDef("s20_ann_topk_int8",
      """WITH nn AS (SELECT COUNT(*) AS n, GREATEST(8, COUNT(*) // 500) AS k FROM embeddings),
        |cids AS (SELECT unnest(range(0, (SELECT k FROM nn))) * (SELECT n // k FROM nn) AS cid),
        |eq AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS vq
        |  FROM embeddings
        |), cents AS (
        |  SELECT e.vec_id AS cell_id, e.vq AS cv,
        |    CAST(list_sum(list_transform(e.vq, x -> x*x)) AS BIGINT) AS cn2
        |  FROM eq e JOIN cids ON e.vec_id = cids.cid
        |), skeys AS (
        |  SELECT vec_id, cell_id,
        |    CASE WHEN qd >= 0 THEN (qd*qd*100) // cn2
        |         ELSE -((qd*qd*100) // cn2) END AS skey
        |  FROM (
        |    SELECT eq.vec_id, cents.cell_id, cents.cn2,
        |      CAST(list_sum(list_transform(list_zip(eq.vq, cents.cv),
        |        p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS BIGINT) AS qd
        |    FROM eq CROSS JOIN cents) t
        |), pr AS (
        |  SELECT vec_id, cell_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY skey DESC, cell_id) AS prk
        |  FROM skeys
        |), v8 AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(GREATEST(CAST(-128 AS DOUBLE), LEAST(CAST(127 AS DOUBLE),
        |      floor(CAST(x AS DOUBLE) * scale + 0.5))) AS BIGINT)) AS q8
        |  FROM (
        |    SELECT vec_id, embedding,
        |      127.0 / GREATEST(list_max(list_transform(embedding,
        |        y -> abs(CAST(y AS DOUBLE)))), CAST(1e-30 AS DOUBLE)) AS scale
        |    FROM embeddings)
        |), v AS (
        |  SELECT vec_id, q8,
        |    CAST(list_sum(list_transform(q8, x -> x*x)) AS BIGINT) AS n2
        |  FROM v8
        |), cp AS (
        |  SELECT DISTINCT pa.vec_id AS a_id, pb.vec_id AS b_id
        |  FROM (SELECT vec_id, cell_id FROM pr WHERE prk <= 4) pa
        |  JOIN (SELECT vec_id, cell_id FROM pr WHERE prk <= 4) pb
        |    ON pa.cell_id = pb.cell_id AND pa.vec_id <> pb.vec_id
        |), cand AS (
        |  SELECT cp.a_id, cp.b_id,
        |    CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(x.q8, y.q8),
        |        p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))) AS BIGINT) AS cos_bp
        |  FROM cp
        |  JOIN v x ON x.vec_id = cp.a_id
        |  JOIN v y ON y.vec_id = cp.b_id
        |), r AS (
        |  SELECT a_id, b_id, cos_bp,
        |    ROW_NUMBER() OVER (PARTITION BY a_id
        |      ORDER BY cos_bp DESC, b_id) AS rk
        |  FROM cand WHERE cos_bp >= 2000
        |)
        |SELECT a_id, CAST(rk AS BIGINT) AS rk, b_id, cos_bp
        |FROM r WHERE rk <= 3 ORDER BY a_id, rk""".stripMargin) { (s, dir) =>
      val n = Tables.parquetRowCount(s, s"$dir/embeddings.parquet")
      val kCells = math.max(8L, n / 500L).toInt
      val cents = (0 until kCells).map(i => i * (n / kCells))
      Similarity.cellTopKNeighbors(Tables.embeddings(s, dir),
        k = 3, minCosBp = 2000, centroidIds = cents, nprobe = 4,
        int8Members = true)
        .orderBy("a_id", "rk")
    },
    // ---- matryoshka truncation audit (dim-budget ranking quality) ----
    // The production question behind MRL-style embeddings: how much of
    // the exact top-k ranking survives keeping only the first 16 of 64
    // dims (4x cheaper dots, 4x smaller index)? Per vector (bounded
    // slice, the s3/s5 discipline): exact within-label top-3 by full
    // 64-d quantized cosine vs top-3 by the 16-d PREFIX; per-label
    // rollup of the overlap (basis points of the 3-slot budget) and
    // the exact-match count. Everything is integer-exact (two
    // bounded-heap top-k passes + an array_intersect), so the oracle
    // replays both rankings with window ranks. At scale the slice is
    // the audit window (a fixed sample, not the corpus) and each
    // ranking pass is the s16/s17 machinery — the audit stays
    // output-dim-sized.
    QueryDef("s18_matryoshka_audit",
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS vq
        |  FROM embeddings WHERE vec_id < 2000
        |), v AS (
        |  SELECT vec_id, label, vq, list_slice(vq, 1, 16) AS vq16,
        |    CAST(list_sum(list_transform(vq, x -> x*x)) AS BIGINT) AS n2,
        |    CAST(list_sum(list_transform(list_slice(vq, 1, 16), x -> x*x)) AS BIGINT) AS n2_16
        |  FROM e
        |), pf AS (
        |  SELECT a.vec_id AS a_id, a.label, b.vec_id AS b_id,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |      CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(a.vq, b.vq),
        |        q -> CAST(q[1] AS BIGINT) * CAST(q[2] AS BIGINT))) AS BIGINT) AS DOUBLE)
        |        / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))) AS BIGINT) DESC,
        |      b.vec_id) AS rk
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id
        |), pt AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |      CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(a.vq16, b.vq16),
        |        q -> CAST(q[1] AS BIGINT) * CAST(q[2] AS BIGINT))) AS BIGINT) AS DOUBLE)
        |        / (sqrt(CAST(a.n2_16 AS DOUBLE)) * sqrt(CAST(b.n2_16 AS DOUBLE)))) AS BIGINT) DESC,
        |      b.vec_id) AS rk
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id
        |), fo AS (
        |  SELECT a_id, label, list_sort(list(b_id)) AS fl
        |  FROM pf WHERE rk <= 3 GROUP BY a_id, label
        |), to_ AS (
        |  SELECT a_id, list_sort(list(b_id)) AS tl
        |  FROM pt WHERE rk <= 3 GROUP BY a_id
        |), ovl AS (
        |  SELECT fo.label,
        |    CAST(len(list_intersect(fo.fl, to_.tl)) AS BIGINT) AS o
        |  FROM fo JOIN to_ ON fo.a_id = to_.a_id
        |)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(o) AS BIGINT) AS sum_ovl,
        |  CAST(SUM(CASE WHEN o = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST((10000 * SUM(o)) // (3 * COUNT(*)) AS BIGINT) AS ovl_bp
        |FROM ovl GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 2000)
      val emb16 = emb.withColumn("embedding",
        expr("slice(embedding, 1, 16)"))
      def top3(df: org.apache.spark.sql.DataFrame) =
        Similarity.blockTopKNeighbors(df, k = 3, minCosBp = -10001)
      val full = top3(emb)
        .groupBy(col("label"), col("a_id"))
        .agg(sort_array(collect_list(col("b_id"))).as("fl"))
      val trunc = top3(emb16)
        .groupBy(col("a_id"))
        .agg(sort_array(collect_list(col("b_id"))).as("tl"))
      full.join(trunc, Seq("a_id"))
        .withColumn("o", size(array_intersect(col("fl"), col("tl"))).cast("long"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), sum("o").as("sum_ovl"),
          sum(when(col("o") === 3L, 1L).otherwise(0L)).cast("long").as("n_exact"),
          expr("(10000 * sum(o)) div (3 * count(1))").as("ovl_bp"))
        .orderBy("label")
    },

    // ---- hierarchical-assignment top-k cells (the s17 ~sf30 path) ----
    // Same operator as s17 but the probe ASSIGNMENT runs the two-level
    // law (Similarity.ivfProbeAssignmentsHier): √K coarse reps
    // partition the fine centroids into groups; each vector scores the
    // reps plus the fine members of its top-(nG-1) groups — O(n·√K)
    // instead of n×K, the path for the regime where K is corpus-scaled
    // and the assignment pass, not the candidate join, dominates
    // (~sf30+). coarseProbe = nG-1 prunes at EVERY sf (one group
    // dropped per vector at the test scales), so this query exercises
    // the pruned code path, not the flat-degenerate rail. Everything
    // stays deterministic integer arithmetic, so the oracle replays
    // the full two-level law: rep selection (stride over the stride),
    // fine→group argmax, per-vector top-cp groups, within-groups probe
    // ranking, then the same symmetric probe-intersect candidate +
    // quantized-cosine + top-k tail as s17.
    QueryDef("s19_ann_topk_cells_hier",
      """WITH nn AS (SELECT COUNT(*) AS n, GREATEST(8, COUNT(*) // 500) AS k FROM embeddings),
        |ng AS (SELECT CAST(round(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS g FROM nn),
        |cids AS (SELECT unnest(range(0, (SELECT k FROM nn))) * (SELECT n // k FROM nn) AS cid),
        |reps AS (SELECT ((unnest(range(0, (SELECT g FROM ng))) * (SELECT k FROM nn)) // (SELECT g FROM ng))
        |                * ((SELECT n FROM nn) // (SELECT k FROM nn)) AS rid),
        |eq AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT) AS DOUBLE)) AS vq
        |  FROM embeddings
        |), repv AS (
        |  SELECT r.rid, e.vq AS rv,
        |    CAST(list_dot_product(e.vq, e.vq) AS BIGINT) AS rn2
        |  FROM reps r JOIN eq e ON e.vec_id = r.rid
        |), gsc AS (
        |  SELECT c.cid, r.rid, r.rn2,
        |    CAST(list_dot_product(ce.vq, r.rv) AS BIGINT) AS qd
        |  FROM cids c JOIN eq ce ON ce.vec_id = c.cid CROSS JOIN repv r
        |), grp AS (
        |  SELECT cid, rid AS grp FROM (
        |    SELECT cid, rid, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY
        |      CASE WHEN qd >= 0 THEN (qd*qd*100) // rn2
        |           ELSE -((qd*qd*100) // rn2) END DESC, rid) AS rk
        |    FROM gsc) WHERE rk = 1
        |), vsc AS (
        |  SELECT e.vec_id, r.rid, r.rn2,
        |    CAST(list_dot_product(e.vq, r.rv) AS BIGINT) AS qd
        |  FROM eq e CROSS JOIN repv r
        |), vg AS (
        |  SELECT vec_id, rid AS grp FROM (
        |    SELECT vec_id, rid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
        |      CASE WHEN qd >= 0 THEN (qd*qd*100) // rn2
        |           ELSE -((qd*qd*100) // rn2) END DESC, rid) AS rk
        |    FROM vsc) WHERE rk <= GREATEST(1, (SELECT g FROM ng) - 1)
        |), cents AS (
        |  SELECT c.cid AS cell_id, e.vq AS cv,
        |    CAST(list_dot_product(e.vq, e.vq) AS BIGINT) AS cn2, g.grp
        |  FROM cids c JOIN eq e ON e.vec_id = c.cid JOIN grp g ON g.cid = c.cid
        |), fsc AS (
        |  SELECT vg.vec_id, ct.cell_id, ct.cn2,
        |    CAST(list_dot_product(e.vq, ct.cv) AS BIGINT) AS qd
        |  FROM vg JOIN eq e ON e.vec_id = vg.vec_id
        |  JOIN cents ct ON ct.grp = vg.grp
        |), pr AS (
        |  SELECT vec_id, cell_id, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
        |    CASE WHEN qd >= 0 THEN (qd*qd*100) // cn2
        |         ELSE -((qd*qd*100) // cn2) END DESC, cell_id) AS prk
        |  FROM fsc
        |), v AS (
        |  SELECT vec_id, vq,
        |    CAST(list_dot_product(vq, vq) AS BIGINT) AS n2
        |  FROM eq
        |), cp AS (
        |  SELECT DISTINCT pa.vec_id AS a_id, pb.vec_id AS b_id
        |  FROM (SELECT vec_id, cell_id FROM pr WHERE prk <= 4) pa
        |  JOIN (SELECT vec_id, cell_id FROM pr WHERE prk <= 4) pb
        |    ON pa.cell_id = pb.cell_id AND pa.vec_id <> pb.vec_id
        |), cand AS (
        |  SELECT cp.a_id, cp.b_id,
        |    CAST(floor(10000.0 * CAST(CAST(list_dot_product(x.vq, y.vq) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))) AS BIGINT) AS cos_bp
        |  FROM cp
        |  JOIN v x ON x.vec_id = cp.a_id
        |  JOIN v y ON y.vec_id = cp.b_id
        |), r AS (
        |  SELECT a_id, b_id, cos_bp,
        |    ROW_NUMBER() OVER (PARTITION BY a_id
        |      ORDER BY cos_bp DESC, b_id) AS rk
        |  FROM cand WHERE cos_bp >= 2000
        |)
        |SELECT a_id, CAST(rk AS BIGINT) AS rk, b_id, cos_bp
        |FROM r WHERE rk <= 3 ORDER BY a_id, rk""".stripMargin) { (s, dir) =>
      val n = Tables.parquetRowCount(s, s"$dir/embeddings.parquet")
      val kCells = math.max(8L, n / 500L).toInt
      val cents = (0 until kCells).map(i => i * (n / kCells))
      val nG = math.max(1, math.round(math.sqrt(kCells.toDouble)).toInt)
      Similarity.cellTopKNeighbors(Tables.embeddings(s, dir),
        k = 3, minCosBp = 2000, centroidIds = cents, nprobe = 4,
        hierCoarseProbe = Some(math.max(1, nG - 1)))
        .orderBy("a_id", "rk")
    },

    // ---- IVF ANN: deterministic stride centroids, probe-all oracle ----
    // At nprobe = K the probed cells are exhaustive BY CONSTRUCTION, so
    // the result must equal the brute-force top-k exactly — the oracle
    // checks the full IVF machinery (assignment covers every vector,
    // probe ranking, candidate union) end to end. The recall/cost curve
    // at nprobe < K (the production setting) is measured in
    // SimilaritySpec against the same ground truth.
    QueryDef("s6_ann_ivf",
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CAST(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |    p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS score
        |FROM embeddings e CROSS JOIN q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id LIMIT 50""".stripMargin) { (s, dir) =>
      val n = Tables.parquetRowCount(s, s"$dir/embeddings.parquet")
      val cents = (0 until 8).map(i => i * (n / 8))
      Similarity.ivfTopK(Tables.embeddings(s, dir), queryId = 0L, k = 50,
        centroidIds = cents, nprobe = 8)
    },

    // ---- hash-checked LSH recall contract (OR-amplified) ----
    // Candidates from 24 independent 2-plane hash tables + exact
    // quantized-cosine re-rank must reproduce the exact blocked result
    // (s3) bit-for-bit: the oracle IS the exact computation. Miss
    // probability per cos≥0.25 pair is (1-(1-θ/π)^2)^24 < 1e-4 — see
    // Similarity.lshCosinePairsMulti.
    QueryDef("s5_ann_lsh_recall",
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    CAST(list_sum(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS n2
        |  FROM embeddings WHERE vec_id < 2000
        |)
        |SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
        |  CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))) AS BIGINT) AS cos_bp
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))) AS BIGINT) >= 2500
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      Similarity.lshCosinePairsMulti(
        Tables.embeddings(s, dir).filter(col("vec_id") < 2000),
        minCosBp = 2500, planes = 2, tables = 24)
        .orderBy("a_id", "b_id")
    },

    // ---- per-label centroid vectors (IVF training / cluster stats) ----
    // posexplode → groupBy(label, dim) is the distributed centroid
    // computation: one partial-aggregated shuffle of (label, dim)
    // cells, never a driver-side vector collect. Quantized integer
    // sums keep it oracle-exact (IEEE float summation is partition-
    // order-dependent); mean_q is the one double division at the end.
    // DuckDB's generate_subscripts is 1-based → pos+1 on the Spark side.
    QueryDef("s7_centroids",
      """SELECT label, CAST(pos AS BIGINT) AS pos, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CAST(floor(CAST(v AS DOUBLE)*1000) AS BIGINT)) AS BIGINT) AS sum_q,
        |  CAST(SUM(CAST(floor(CAST(v AS DOUBLE)*1000) AS BIGINT)) AS DOUBLE) / COUNT(*) AS mean_q
        |FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("bigint").as("pos"),
          expr("CAST(floor(CAST(col AS DOUBLE)*1000) AS BIGINT)").as("vq"))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n_vecs"), sum(col("vq")).as("sum_q"))
        .select(col("label"), col("pos"), col("n_vecs"), col("sum_q"),
          (col("sum_q").cast("double") / col("n_vecs")).as("mean_q"))
        .orderBy("label", "pos")
    },

    // ---- embedding-cosine near-dup CLUSTERS ----
    // The dedup end product for the embedding modality: exact
    // label-blocked quantized-cosine edges (cos ≥ 0.30) collapsed to
    // connected components, one (vec_id, cluster_id) row per vector
    // that has at least one near-dup. Edge generation is s3's exact
    // blocked shape (deliberately NOT the LSH candidates: the cluster
    // set must be a pure function of the corpus for the oracle, and
    // s4/s5 already prove the LSH edge set equals this one); the
    // clustering is the same min-label fixpoint d10 uses on text
    // shingles. Oracle = DuckDB recursive-CTE reachability over the
    // independently recomputed edge set. At 100 TB the edge input
    // swaps to lshCosinePairs and the fixpoint to
    // duplicateClustersLogN — both already declared/spec-proven.
    QueryDef("d12_embedding_dup_clusters",
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, label, embedding,
        |    CAST(list_sum(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS n2
        |  FROM embeddings
        |), pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))) AS BIGINT) >= 3000
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id, a_id FROM pairs
        |), reach(src, dst) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
        |)
        |SELECT src AS vec_id, MIN(dst) AS cluster_id
        |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin) { (s, dir) =>
      // log-round large-star/small-star CC (d10 keeps the simple
      // min-label loop exercised; embedding clusters go through the
      // O(log n)-round variant — same fixpoint, fewer Spark rounds,
      // which is what dominates at bench scale)
      // Quadratic-by-contract audit form, now fenced like the rest of
      // the family (s16/d13 discipline): label blocks grow with the
      // corpus (measured α 1.69 across the sf1→sf10 decade, 2.0e9
      // pairs at sf10 — SF10_SPOT_r16), so the budget passes the
      // measured decade and refuses ~sf25+, naming the linear path.
      graft.operators.Dedup.requireBlockPairBudget(
        Tables.embeddings(s, dir).select("label"), Seq("label"),
        maxBlockPairs = 10000000000L,
        scalePath = "cell-blocked clustering (d27_cell_dup_clusters)")
      graft.operators.Dedup.duplicateClustersLogN(
        Similarity.blockedCosinePairs(Tables.embeddings(s, dir), minCosBp = 3000))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    },

    // ---- embedding dup clusters over BOUNDED CELLS (d12's scale path) ----
    // Same end product as d12 — connected near-dup components at
    // cos ≥ 0.30 — but the edge generation is the s17 cell
    // discipline instead of label blocks: corpus-scaled IVF cells
    // (K = max(8, n/500)), symmetric nprobe=4 probe-intersect
    // candidates, exact quantized-cosine verify. Label blocks grow
    // WITH the corpus, so d12's edge volume is quadratic by contract
    // (its honest audit role); cells hold ~500 rows at every sf, so
    // this form's candidate work is linear — the d17/s17 argument
    // applied to the clustering end product. The probe law is
    // integer-deterministic, so the edge set — and therefore the
    // cluster set — is a pure function of the corpus and the oracle
    // replays ALL of it: assignment, probe ranking, intersect pairs,
    // threshold, then recursive-CTE reachability. Differs from d12
    // only on true edges straddling all four probe cells of both
    // endpoints (the measured 0.997-recall regime).
    QueryDef("d27_cell_dup_clusters", d27OracleSql()) { (s, dir) =>
      val n = Tables.parquetRowCount(s, s"$dir/embeddings.parquet")
      val kCells = math.max(8L, n / 500L).toInt
      val cents = (0 until kCells).map(i => i * (n / kCells))
      graft.operators.Dedup.duplicateClustersLogN(
        Similarity.cellCosinePairs(Tables.embeddings(s, dir),
          minCosBp = 3000, centroidIds = cents, nprobe = 4))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    },

    // ---- product-quantization ADC top-k (full-pipeline oracle) ----
    // 8 subspaces × 8 dims, 16 designated codewords (vec_ids 1–16,
    // present at every sf). Because encoding, the query's ADC table,
    // and the final sum are all exact integer arithmetic with
    // struct-min tiebreaks, DuckDB replays the ENTIRE PQ pipeline —
    // encode, table, lookup-sum, ranking — and the oracle is
    // hash-exact with no recall coupling (contrast s5/d9, where only
    // a contract is checkable). Approximation quality vs s1 is
    // intrinsic to PQ, not to the engine.
    QueryDef("s8_ann_pq",
      """WITH cb AS (
        |  SELECT vec_id AS c, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS cq
        |  FROM embeddings WHERE vec_id BETWEEN 1 AND 16
        |), e AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS vq
        |  FROM embeddings WHERE vec_id <> 0
        |), js AS (SELECT unnest(range(0, 8)) AS j
        |), sub AS (
        |  SELECT e.vec_id, js.j, cb.c,
        |    CAST(list_sum(list_transform(range(1, 9),
        |      i -> (vq[js.j*8 + i] - cq[js.j*8 + i]) * (vq[js.j*8 + i] - cq[js.j*8 + i]))) AS BIGINT) AS d2
        |  FROM e CROSS JOIN js CROSS JOIN cb
        |), codes AS (
        |  SELECT vec_id, j, c FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
        |    FROM sub)
        |  WHERE rn = 1
        |), q AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qq
        |  FROM embeddings WHERE vec_id = 0
        |), qtab AS (
        |  SELECT js.j, cb.c,
        |    CAST(list_sum(list_transform(range(1, 9),
        |      i -> (qq[js.j*8 + i] - cq[js.j*8 + i]) * (qq[js.j*8 + i] - cq[js.j*8 + i]))) AS BIGINT) AS qd2
        |  FROM cb CROSS JOIN js CROSS JOIN q
        |)
        |SELECT codes.vec_id, CAST(SUM(qtab.qd2) AS BIGINT) AS adist
        |FROM codes JOIN qtab ON codes.j = qtab.j AND codes.c = qtab.c
        |GROUP BY codes.vec_id
        |ORDER BY adist, codes.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir), queryId = 0L, k = 10,
        codebookIds = (1L to 16L))
    },

    // ---- composed IVF-PQ with TRAINED centroids (billion-vector layout) ----
    // The serving stack the s6/s8 scaladocs promise, end to end: cells
    // come from bounded Lloyd's k-means (kmeansQuantized — exact
    // integer training, exported to parquet), the query probes its
    // nprobe closest cells, and only vectors ASSIGNED to probed cells
    // are PQ-encoded and ADC-ranked. The oracle reads the SAME
    // exported centroid table and replays assignment → probe → encode
    // → lookup-sum bit-for-bit (every step integer arithmetic with
    // ordinal tiebreaks). Candidate volume is ~n·nprobe/K; at 100 TB
    // the assignment table is the persisted artifact and the probe
    // fan-out is the standard IVF cost knob.
    QueryDef("s10_ann_ivfpq",
      s"""WITH cents AS (
        |  SELECT ord, cq FROM read_parquet('${Warehouse.ivfCentroidsPath}/*.parquet')
        |), e AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS vq
        |  FROM embeddings
        |), ad AS (
        |  SELECT e.vec_id, cents.ord,
        |    CAST(list_sum(list_transform(list_zip(vq, cq),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
        |  FROM e CROSS JOIN cents
        |), assign AS (
        |  SELECT vec_id, ord AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ord) AS rn
        |    FROM ad) WHERE rn = 1
        |), probed AS (
        |  SELECT ord AS cell FROM (
        |    SELECT ad.ord, ROW_NUMBER() OVER (ORDER BY ad.d2, ad.ord) AS rk
        |    FROM ad WHERE ad.vec_id = 0) WHERE rk <= 4
        |), cand AS (
        |  SELECT e.vec_id, e.vq
        |  FROM e JOIN assign USING (vec_id) JOIN probed ON assign.cell = probed.cell
        |  WHERE e.vec_id <> 0
        |), cb AS (
        |  SELECT vec_id AS c, vq AS kq FROM e WHERE vec_id BETWEEN 1 AND 16
        |), js AS (SELECT unnest(range(0, 8)) AS j
        |), sub AS (
        |  SELECT cand.vec_id, js.j, cb.c,
        |    CAST(list_sum(list_transform(range(1, 9),
        |      i -> (vq[js.j*8 + i] - kq[js.j*8 + i]) * (vq[js.j*8 + i] - kq[js.j*8 + i]))) AS BIGINT) AS d2
        |  FROM cand CROSS JOIN js CROSS JOIN cb
        |), codes AS (
        |  SELECT vec_id, j, c FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
        |    FROM sub)
        |  WHERE rn = 1
        |), q AS (
        |  SELECT vq AS qq FROM e WHERE vec_id = 0
        |), qtab AS (
        |  SELECT js.j, cb.c,
        |    CAST(list_sum(list_transform(range(1, 9),
        |      i -> (qq[js.j*8 + i] - kq[js.j*8 + i]) * (qq[js.j*8 + i] - kq[js.j*8 + i]))) AS BIGINT) AS qd2
        |  FROM cb CROSS JOIN js CROSS JOIN q
        |)
        |SELECT codes.vec_id, CAST(SUM(qtab.qd2) AS BIGINT) AS adist
        |FROM codes JOIN qtab ON codes.j = qtab.j AND codes.c = qtab.c
        |GROUP BY codes.vec_id
        |ORDER BY adist, codes.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val cents = Warehouse.ivfCentroidsExport(s, dir)
      Similarity.ivfPqTopK(Tables.embeddings(s, dir), queryId = 0L, k = 10,
        cents = cents, codebookIds = (1L to 16L), nprobe = 4)
    },

    // ---- int8 embedding quantization + reconstruction-error audit ----
    // Symmetric per-vector int8 quantization (scale = 127/max|x|,
    // q = floor(x·scale + 0.5)) — the storage/serving format for
    // embedding tables at scale (4× smaller, SIMD-friendly dot
    // products). floor(+0.5), not round(): round's half-even/half-up
    // tie rules differ between engines, floor of identical doubles
    // cannot. qsum integer-exactly audits every element; the error
    // bound max|x - q/scale| ≤ 0.5/scale certifies the quantizer on
    // every vector. Row-local HOFs: zero shuffles.
    QueryDef("s9_int8_quant",
      """WITH q AS (
        |  SELECT vec_id,
        |    127.0 / greatest(list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))), CAST(1e-30 AS DOUBLE)) AS scale,
        |    embedding
        |  FROM embeddings
        |)
        |SELECT vec_id,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT))) AS BIGINT) AS qsum,
        |  CAST(list_max(list_transform(embedding,
        |    x -> CAST(abs(floor(CAST(x AS DOUBLE) * scale + 0.5)) AS BIGINT))) AS BIGINT) AS qmax,
        |  list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * scale + 0.5) / scale)))
        |    <= 0.5 / scale + CAST(1e-12 AS DOUBLE) AS within_bound
        |FROM q ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          (lit(127.0) / greatest(
            expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"),
            lit(1e-30))).as("scale"),
          col("embedding"))
        .select(col("vec_id"),
          expr("""CAST(aggregate(transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)),
            CAST(0 AS BIGINT), (a, v) -> a + v) AS BIGINT)""").as("qsum"),
          expr("""array_max(transform(embedding,
            x -> CAST(abs(floor(CAST(x AS DOUBLE) * scale + 0.5)) AS BIGINT)))""")
            .as("qmax"),
          (expr("""array_max(transform(embedding,
            x -> abs(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * scale + 0.5) / scale)))""")
            <= lit(0.5) / col("scale") + lit(1e-12)).as("within_bound"))
        .orderBy("vec_id")
    },

    // ---- SemDeDup: IVF-cell-blocked semantic deduplication ----
    // The scale path for embedding dedup: d12's exact label-blocked
    // clustering assumes a trustworthy block key; SemDeDup
    // (Similarity.semanticDedup) derives the blocks from the embedding
    // space itself via the s6 IVF cells, so pair volume is O(n²/K)
    // with NO reliance on metadata. K SCALES WITH THE CORPUS
    // (max(8, n/2500) — the SemDeDup paper's constant-cell-size
    // regime): a fixed K leaves within-cell work quadratic with a 1/K
    // constant, which r14's sf10 decade measured as α 1.42 before this
    // fix. At sf0.01/sf1 the formula still yields K=8, so the plan and
    // the oracle rows are unchanged where the hash gate runs; at sf10
    // K=80 keeps cells ~2500 vectors. Assignment cost is n·K
    // (broadcast argmax) — at extreme scale swap in the hierarchical/
    // k-means-tree assignment, which changes cell QUALITY, not the
    // dedup shape. The keep rule (drop iff a
    // lower-id same-cell vector has cos ≥ 0.30) is greedy-by-id —
    // fully deterministic, so the oracle replays the ENTIRE pipeline:
    // the integer argmax cell assignment (skey = sign-mirrored
    // (qd²·100) DIV ‖c‖², ties to the lowest cell — exactly
    // ivfAssignments' packed-key max), the within-cell quantized
    // cosine, and the greedy verdict. DuckDB's `//` is floor division
    // but every dividend here is ≥ 0, so it coincides with Spark's
    // truncating DIV.
    QueryDef("d17_semantic_dedup",
      """WITH nn AS (SELECT COUNT(*) AS n, GREATEST(8, COUNT(*) // 2500) AS k FROM embeddings),
        |cids AS (SELECT unnest(range(0, (SELECT k FROM nn))) * (SELECT n // k FROM nn) AS cid),
        |eq AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS vq
        |  FROM embeddings
        |), cents AS (
        |  SELECT e.vec_id AS cell_id, e.vq AS cv,
        |    CAST(list_sum(list_transform(e.vq, x -> x*x)) AS BIGINT) AS cn2
        |  FROM eq e JOIN cids ON e.vec_id = cids.cid
        |), skeys AS (
        |  SELECT vec_id, cell_id,
        |    CASE WHEN qd >= 0 THEN (qd*qd*100) // cn2
        |         ELSE -((qd*qd*100) // cn2) END AS skey
        |  FROM (
        |    SELECT eq.vec_id, cents.cell_id, cents.cn2,
        |      CAST(list_sum(list_transform(list_zip(eq.vq, cents.cv),
        |        p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS BIGINT) AS qd
        |    FROM eq CROSS JOIN cents) t
        |), assign AS (
        |  SELECT vec_id, cell_id FROM (
        |    SELECT vec_id, cell_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id
        |        ORDER BY skey DESC, cell_id) AS rn
        |    FROM skeys) WHERE rn = 1
        |), v AS (
        |  SELECT a.vec_id, a.cell_id, eq.vq,
        |    CAST(list_sum(list_transform(eq.vq, x -> x*x)) AS BIGINT) AS n2
        |  FROM assign a JOIN eq ON a.vec_id = eq.vec_id
        |), pairs AS (
        |  SELECT x.vec_id AS a_id, y.vec_id AS b_id
        |  FROM v x JOIN v y ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
        |  WHERE CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(
        |      list_zip(x.vq, y.vq),
        |      p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))) AS BIGINT) >= 3000
        |), dup AS (
        |  SELECT b_id AS vec_id, MIN(a_id) AS dup_of FROM pairs GROUP BY b_id
        |)
        |SELECT v.vec_id, CAST(v.cell_id AS BIGINT) AS cell_id, dup.dup_of,
        |  dup.dup_of IS NULL AS kept
        |FROM v LEFT JOIN dup ON v.vec_id = dup.vec_id
        |ORDER BY v.vec_id""".stripMargin) { (s, dir) =>
      val n = Tables.parquetRowCount(s, s"$dir/embeddings.parquet")
      val k = math.max(8L, n / 2500L).toInt
      val cents = (0 until k).map(i => i * (n / k))
      Similarity.semanticDedup(Tables.embeddings(s, dir),
          centroidIds = cents, minCosBp = 3000)
        .orderBy("vec_id")
    },

    // ---- MMR diverse top-k rerank (retrieval diversification) ----
    // Carbonell & Goldstein's Maximal Marginal Relevance over the
    // ×1000-quantized cosine grid: distributed top-50 recall stage +
    // pool² pair matrix, then the inherently-sequential greedy picks
    // run driver-side over the collected control-plane pool (~2.5k
    // values — the Overlap-collect class). Everything is integer
    // basis points with λ = 7/10, so the greedy order is engine-exact
    // and the ORACLE replays the full chain — including the greedy
    // loop itself — as a recursive CTE carrying the chosen list.
    QueryDef("s11_mmr_rerank",
      """WITH RECURSIVE q AS (
        |  SELECT embedding AS qv,
        |    CAST(list_sum(list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS qn2
        |  FROM embeddings WHERE vec_id = 0
        |), scored AS (
        |  SELECT e.vec_id, e.embedding,
        |    CAST(list_sum(list_transform(e.embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS n2,
        |    CAST(list_sum(list_transform(list_zip(e.embedding, q.qv), p ->
        |      CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS dot,
        |    q.qn2 AS qn2
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
        |), cands AS (
        |  SELECT vec_id, embedding, n2,
        |    CAST(floor(10000.0 * CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))) AS BIGINT) AS rel_bp
        |  FROM scored ORDER BY rel_bp DESC, vec_id LIMIT 50
        |), sims AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding), p ->
        |      CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS DOUBLE) /
        |      (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))) AS BIGINT) AS sim_bp
        |  FROM cands a, cands b WHERE a.vec_id <> b.vec_id
        |), sel AS (
        |  (SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, rel_bp,
        |     7 * rel_bp AS mmr10, [vec_id] AS chosen
        |   FROM cands ORDER BY rel_bp DESC, vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT s.sel_rank + 1, nxt.vec_id, nxt.rel_bp, nxt.mmr10,
        |    list_append(s.chosen, nxt.vec_id)
        |  FROM sel s, LATERAL (
        |    SELECT c.vec_id, c.rel_bp,
        |      7 * c.rel_bp - 3 * (SELECT MAX(sim_bp) FROM sims
        |        WHERE a_id = c.vec_id AND list_contains(s.chosen, b_id)) AS mmr10
        |    FROM cands c WHERE NOT list_contains(s.chosen, c.vec_id)
        |    ORDER BY mmr10 DESC, c.vec_id LIMIT 1) nxt
        |  WHERE s.sel_rank < 10
        |)
        |SELECT sel_rank, vec_id, rel_bp, mmr10 FROM sel ORDER BY sel_rank""".stripMargin) { (s, dir) =>
      Similarity.mmrDiverseTopK(Tables.embeddings(s, dir),
        queryId = 0L, k = 10, pool = 50, lambda10 = 7)
    },

    // ---- nearest-centroid classification (Rocchio) + confusion matrix ----
    // The cheap embedding classifier real pipelines run before anything
    // neural: assign every vector to the label whose centroid it is
    // most cosine-similar to, then report the label × predicted
    // confusion matrix (resubstitution — centroids include the vector
    // being scored; deterministic and the standard quick-look). Scale
    // shape: centroids are an (L × dims) aggregate — control-plane
    // sized — so scoring is ONE broadcast join of the per-dim cell
    // table onto the centroid cells keyed by pos and a hash aggregate
    // per (vec, label): O(n·d·L) work, no all-pairs, no global sort.
    // The argmax is the same two-aggregate max-join pattern as LPA
    // (g6) — hash-only, no window. Cosine vs the SUM vector ≡ cosine
    // vs the mean (scale-invariant), which keeps every operand
    // integral: s7's ×1000 dim quantization, integer dots, one double
    // division quantized to basis points (d12's discipline). BIGINT
    // headroom: dot ≤ d·1000·(n_label·1000) ≈ 1e14 at 1e8 rows/label —
    // lift to DECIMAL(38,0) beyond that.
    QueryDef("s12_centroid_classify",
      """WITH dims AS (
        |  SELECT vec_id, label, pos, CAST(floor(CAST(v AS DOUBLE)*1000) AS BIGINT) AS vq
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS pos FROM embeddings)
        |), xn2 AS (
        |  SELECT vec_id, MIN(label) AS label,
        |    CAST(SUM(vq*vq) AS BIGINT) AS x_n2 FROM dims GROUP BY vec_id
        |), cent AS (
        |  SELECT label AS clabel, pos, CAST(SUM(vq) AS BIGINT) AS sum_q
        |  FROM dims GROUP BY label, pos
        |), cn2 AS (
        |  SELECT clabel, CAST(SUM(sum_q*sum_q) AS BIGINT) AS c_n2
        |  FROM cent GROUP BY clabel
        |), dots AS (
        |  SELECT d.vec_id, c.clabel, CAST(SUM(d.vq * c.sum_q) AS BIGINT) AS dot
        |  FROM dims d JOIN cent c ON c.pos = d.pos GROUP BY d.vec_id, c.clabel
        |), scored AS (
        |  SELECT t.vec_id, x.label, t.clabel,
        |    CAST(floor(10000.0 * CAST(t.dot AS DOUBLE) /
        |      (sqrt(CAST(x.x_n2 AS DOUBLE)) * sqrt(CAST(n.c_n2 AS DOUBLE)))) AS BIGINT) AS score_bp
        |  FROM dots t JOIN cn2 n ON n.clabel = t.clabel
        |  JOIN xn2 x ON x.vec_id = t.vec_id
        |), mx AS (
        |  SELECT vec_id, MAX(score_bp) AS score_bp FROM scored GROUP BY vec_id
        |), pred AS (
        |  SELECT s.vec_id, MIN(s.label) AS label, MIN(s.clabel) AS pred_label
        |  FROM scored s JOIN mx m ON m.vec_id = s.vec_id AND m.score_bp = s.score_bp
        |  GROUP BY s.vec_id
        |)
        |SELECT label, pred_label, CAST(COUNT(*) AS BIGINT) AS n_vecs
        |FROM pred GROUP BY label, pred_label
        |ORDER BY label, pred_label""".stripMargin) { (s, dir) =>
      // scan-side fold: L collected centroid literals scored per row by
      // the codegen'd qdotl, argmax in the same projection — no L×
      // row fan-out (see Similarity.centroidConfusion scaladoc; the
      // former broadcast-join-on-pos shape doubled per data decade)
      Similarity.centroidConfusion(Tables.embeddings(s, dir))
    },

    // ---- k-NN majority-vote classification (instance-based) ----
    // The lazy counterpart of s12's centroid model: label the 20
    // held-out query vectors by the majority label among their 10
    // nearest corpus neighbors (quantized-dot score), ties broken by
    // score-sum then smaller label. The per-query top-k runs as the
    // bounded-heap TopKAgg — the shuffle carries queries×k rows, not
    // the corpus — and the neighbor label rides the heap packed into
    // the deterministic tiebreak id (vec_id·16+label, order-
    // preserving), so labels never need a second corpus scan. The
    // oracle replays the exact same top-k (score DESC, vec_id) and
    // vote with windows. Scale path: swap the scored scan for s6's
    // IVF-probed candidate set; the vote is unchanged.
    QueryDef("s13_knn_classify",
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20
        |), scored AS (
        |  SELECT q.qid, c.vec_id, c.label,
        |    CAST(list_sum(list_transform(list_zip(c.embedding, q.qv),
        |      p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS score
        |  FROM embeddings c CROSS JOIN q WHERE c.vec_id >= 20
        |), topk AS (
        |  SELECT qid, label, score FROM (
        |    SELECT qid, label, score,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rk
        |    FROM scored) t WHERE rk <= 10
        |), votes AS (
        |  SELECT qid, CAST(label AS BIGINT) AS pred_label,
        |    CAST(COUNT(*) AS BIGINT) AS n_votes, CAST(SUM(score) AS BIGINT) AS score_sum
        |  FROM topk GROUP BY qid, label
        |)
        |SELECT qid, pred_label, n_votes, score_sum FROM (
        |  SELECT votes.*, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY n_votes DESC, score_sum DESC, pred_label) AS vr
        |  FROM votes) v WHERE vr = 1 ORDER BY qid""".stripMargin) { (s, dir) =>
      Similarity.knnClassify(Tables.embeddings(s, dir), nQueries = 20L, k = 10)
    },

    // ---- hard-negative mining (contrastive-pair generation) ----
    // The embedding-training data miner: per query vector, the 5 most
    // similar WRONG-label corpus vectors — the negatives a contrastive
    // loss learns most from. Same bounded-heap TopKAgg shape as s13
    // (shuffle = queries×k, label packed in the tiebreak id, scan-side
    // label filter); the oracle replays the exact ranking with a
    // window. Scale path: IVF-probe the candidate set (s6), unchanged.
    QueryDef("s14_hard_negatives",
      """WITH q AS (
        |  SELECT vec_id AS qid, label AS qlabel, embedding AS qv
        |  FROM embeddings WHERE vec_id < 20
        |), scored AS (
        |  SELECT q.qid, c.vec_id, c.label,
        |    CAST(list_sum(list_transform(list_zip(c.embedding, q.qv),
        |      p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS score
        |  FROM embeddings c CROSS JOIN q
        |  WHERE c.vec_id >= 20 AND c.label != q.qlabel
        |)
        |SELECT qid, CAST(rk AS BIGINT) AS neg_rank, vec_id,
        |       label AS neg_label, score
        |FROM (
        |  SELECT qid, vec_id, label, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rk
        |  FROM scored) t
        |WHERE rk <= 5 ORDER BY qid, neg_rank""".stripMargin) { (s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir), nQueries = 20L, k = 5)
    },

    // ---- s15: batched RADIUS search (range query, no heap) ----
    // "Everything within cosine ≥ 0.25 of these 5 queries" — the
    // threshold form dedup admission and recall harvesting need
    // (top-k caps the count; a radius caps the SIMILARITY, and the
    // result size is whatever the data says). One corpus scan with
    // the 5-row query dim broadcast onto it; the exact quantized
    // cosine (s5's bp formula, IEEE-identical) filters scan-side, so
    // the output — not corpus × queries — is what flows on. No heap,
    // no per-query LIMIT, no second pass.
    QueryDef("s15_radius_search",
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_sum(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS n2
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, embedding AS qv, n2 AS qn2 FROM e WHERE vec_id < 5
        |)
        |SELECT q.query_id, e.vec_id,
        |  CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(e.n2 AS DOUBLE)) * sqrt(CAST(q.qn2 AS DOUBLE)))) AS BIGINT) AS cos_bp
        |FROM e JOIN q ON e.vec_id >= 5
        |WHERE CAST(floor(10000.0 * CAST(CAST(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(e.n2 AS DOUBLE)) * sqrt(CAST(q.qn2 AS DOUBLE)))) AS BIGINT) >= 2500
        |ORDER BY query_id, vec_id""".stripMargin) { (s, dir) =>
      Similarity.radiusSearch(Tables.embeddings(s, dir), nQueries = 5L,
          minCosBp = 2500L)
        .orderBy("query_id", "vec_id")
    })
}
