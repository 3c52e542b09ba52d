package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scores are computed on QUANTIZED integer components
  * (floor(x*1000) as bigint): exact, summation-order-independent, and
  * therefore reproducible across engines and partitionings — IEEE
  * double summation is neither. The quantized dot of unit-ish vectors
  * keeps 3 significant digits per component, plenty for ranking.
  *
  * Scale path: brute-force top-k is the correctness baseline (one
  * broadcast of the query vector, no shuffle until the final top-k);
  * the LSH variant buckets by random-hyperplane sign bits so candidate
  * generation is a bucket-key equi-join — never a cartesian product.
  */
object Similarity {

  /** Hard ceiling on [[mmrDiverseTopK]]'s rerank pool: pool² pairwise
    * sims are collected to the driver (1024² ≈ 1M longs ≈ tens of MB —
    * the upper edge of control-plane), so anything larger is a misuse
    * of the operator, not a tuning choice.
    */
  val MaxMmrPool: Int = 1024

  /** Auto-gate threshold for [[blockTopKNeighbors]]'s broadcast form:
    * when the caller does not pin the join strategy, the embedding
    * side broadcasts only if the optimizer's size estimate for it
    * stays under this budget (512 MB — comfortable on multi-GB
    * executors, far past the point where a broadcast beats a shuffle
    * for an n×n self-join's build side). Past it the operator falls
    * back to the cell-keyed shuffle join automatically instead of
    * failing on the broadcast limit or OOMing executors at GB-scale.
    */
  val MaxBroadcastBlockBytes: Long = 512L * 1024 * 1024

  /** Quantized dot product of two array<float> columns — the native
    * codegen expression (graft.functions.QuantizedDot). Callers must
    * route DataFrames through an operator below (which registers the
    * function on the frame's session) or call QuantizedDot.register.
    */
  def qdot(a: String, b: String): Column = expr(s"qdot($a, $b)")

  /** Quantized squared norm. */
  def qnorm2(a: String): Column = qdot(a, a)

  private def registered(df: DataFrame): DataFrame = {
    graft.functions.QuantizedDot.register(df.sparkSession)
    graft.functions.QuantizedDotLong.register(df.sparkSession)
    graft.functions.SignBits.register(df.sparkSession)
    graft.functions.Int8Vec.register(df.sparkSession)
    df
  }

  /** Brute-force top-k by quantized dot against the embedding of
    * `queryId`. The single-row query side is broadcast; ORDER+LIMIT
    * plans as TakeOrderedAndProject (per-partition top-k, no full sort).
    */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val reg = registered(emb)
    val q = reg.filter(col(idCol) === queryId).select(col(vecCol).as("qv"))
    reg.crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .withColumn("score", qdot(vecCol, "qv"))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Batched RADIUS search (range query): every corpus vector within
    * cosine ≥ minCosBp/10000 of each query vector — the unbounded-
    * result complement of top-k (dedup admission, recall harvesting,
    * "everything this similar" audits want a threshold, not a count,
    * so there is no heap and no per-query LIMIT). Scale shape: the
    * query set is a broadcast dim fanned onto ONE corpus scan (s13's
    * shape), the cosine is the exact quantized-integer dot with the
    * s5 bp formula (IEEE-identical across engines), and the filter
    * runs scan-side — output is result-sized, never corpus × queries.
    */
  def radiusSearch(emb: DataFrame, nQueries: Long, minCosBp: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val reg = registered(emb)
    val withN2 = reg.withColumn("n2", qnorm2(vecCol))
    val queries = withN2.filter(col(idCol) < nQueries)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        col("n2").as("qn2"))
    withN2.filter(col(idCol) >= nQueries)
      .crossJoin(broadcast(queries))
      .withColumn("dot", expr(s"qdot($vecCol, qv)"))
      .withColumn("cos_bp", expr(
        "CAST(floor(10000.0 * CAST(dot AS DOUBLE) / " +
          "(sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))) AS BIGINT)"))
      .where(col("cos_bp") >= minCosBp)
      .select(col("query_id"), col(idCol), col("cos_bp"))
  }

  /** k-NN majority-vote classifier: label each query vector
    * (vec_id < nQueries, labels treated as unknown) by the majority
    * label of its k nearest corpus neighbors (vec_id >= nQueries)
    * under the quantized dot score; ties by score-sum DESC then
    * smaller label. Scale shape: the query side is a broadcast dim,
    * the per-query top-k runs as the bounded-heap TopKAgg (O(k)
    * partial state per query, map-side combine — the shuffle carries
    * queries×k rows, never the corpus), and the vote is a
    * control-plane aggregate over queries×k rows. The neighbor label
    * rides the heap packed into the tiebreak id (vec_id·16 + label,
    * labels < 16 — order-preserving since vec_id is unique), so no
    * second corpus scan fetches labels back.
    */
  def knnClassify(emb: DataFrame, nQueries: Long, k: Int): DataFrame = {
    val reg = registered(emb)
    val q = reg.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // The heap tiebreak id carries the neighbor label in its low 4 bits
    // (order-preserving pack). That is only sound for 0 <= label < 16,
    // so out-of-range labels fail loudly scan-side instead of silently
    // corrupting both the tie order and the pmod label extraction.
    val checkedLabel = when(
      col("label") < 0 || col("label") >= 16,
      raise_error(concat(lit("knnClassify: label out of packable range [0,16): "),
        col("label").cast("string")))).otherwise(col("label"))
    val top = reg.filter(col("vec_id") >= nQueries)
      .crossJoin(broadcast(q))
      .withColumn("score", qdot("embedding", "qv"))
      .select(col("qid"), col("score"),
        (col("vec_id") * 16 + checkedLabel).cast("long").as("packed"))
      .groupBy("qid")
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("packed")).as("top"))
      .select(col("qid"), explode(col("top.rows")).as("r"))
      .select(col("qid"), col("r.score").as("score"),
        pmod(col("r.id"), lit(16)).cast("long").as("pred_label"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("n_votes").desc, col("score_sum").desc, col("pred_label"))
    top.groupBy("qid", "pred_label")
      .agg(count(lit(1)).as("n_votes"), sum(col("score")).as("score_sum"))
      .withColumn("vr", row_number().over(w))
      .where(col("vr") === 1)
      .select(col("qid"), col("pred_label"), col("n_votes"), col("score_sum"))
      .orderBy("qid")
  }

  /** Hard-negative mining for embedding-model training: for each query
    * vector, the `k` highest-scoring corpus vectors with a DIFFERENT
    * label — the standard contrastive-pair miner (the "hardest"
    * negatives are the most similar wrong-label items). Same bounded-
    * heap shape as [[knnClassify]]: the query dim broadcasts onto the
    * corpus scan, the label filter runs scan-side, and the shuffle
    * carries queries×k heap rows, never the corpus; the neighbor label
    * rides the packed tiebreak id (same 0≤label<16 guard). At 100 TB
    * the scored scan swaps for the IVF-probed candidate set (s6)
    * unchanged. Output: (qid, neg_rank 1..k, vec_id, neg_label, score),
    * rank by score DESC then vec_id ASC (packed id order ≡ vec_id
    * order — label bits sit below the ×16 shift).
    */
  def hardNegatives(emb: DataFrame, nQueries: Long, k: Int): DataFrame = {
    val reg = registered(emb)
    val q = reg.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qv"))
    val checkedLabel = when(
      col("label") < 0 || col("label") >= 16,
      raise_error(concat(lit("hardNegatives: label out of packable range [0,16): "),
        col("label").cast("string")))).otherwise(col("label"))
    reg.filter(col("vec_id") >= nQueries)
      .crossJoin(broadcast(q))
      .where(col("label") =!= col("qlabel"))
      .withColumn("score", qdot("embedding", "qv"))
      .select(col("qid"), col("score"),
        (col("vec_id") * 16 + checkedLabel).cast("long").as("packed"))
      .groupBy("qid")
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("packed")).as("top"))
      .select(col("qid"), posexplode(col("top.rows")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("neg_rank"),
        expr("col.id div 16").cast("long").as("vec_id"),
        pmod(col("col.id"), lit(16)).cast("int").as("neg_label"),
        col("col.score").as("score"))
      .orderBy("qid", "neg_rank")
  }

  /** Nearest-centroid (Rocchio) classification confusion matrix with
    * ZERO row fan-out: the centroid SUM vectors (L·d quantized longs —
    * control-plane sized, same class as LPA's seed collect) are
    * aggregated in one map-side-combined pass and collected, then every
    * vector is scored against all L centroids inside a single codegen'd
    * scan projection (`qdotl` against literal arrays) with the argmax
    * folded in as greatest+CASE. The former formulation broadcast-joined
    * the per-dim cell table and multiplied the exploded stream by L
    * before its aggregate — its sf-curve doubled per data decade
    * (0.85 → 2.55 s, round-10 verdict) while this one rides the scan.
    * Cosine vs the SUM vector ≡ cosine vs the mean (scale-invariant),
    * so all operands stay integral (×1000 grid, d12's basis-point
    * quantization); ties pick the smallest label (CASE scans ascending).
    * BIGINT headroom: dot ≤ d·1000·(n_label·1000) ≈ 1e14 at 1e8
    * rows/label — lift to DECIMAL(38,0) beyond that.
    */
  def centroidConfusion(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val reg = registered(emb)
    val centRows = reg
      .select(col(labelCol), posexplode(col(vecCol)))
      .groupBy(col(labelCol), col("pos"))
      .agg(sum(expr("CAST(floor(CAST(col AS DOUBLE)*1000) AS BIGINT)")).as("sum_q"))
      .collect()
    // ascending label order so the first CASE hit on a score tie is the
    // smallest label — the oracle's MIN(clabel)
    val byLabel: Seq[(Int, Array[Long], Long)] =
      centRows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (l, rows) =>
        val arr = new Array[Long](rows.map(_.getInt(1)).max + 1)
        rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        (l, arr, arr.foldLeft(0L)((a, x) => a + x * x))
      }
    val withN = reg.select(col(labelCol).as("label"), col(vecCol).as("_v"),
      qnorm2(vecCol).cast("double").as("_xn2"))
    val scoreCols = byLabel.map { case (l, arr, cn2) =>
      l -> floor(lit(10000.0) *
          call_function("qdotl", col("_v"), lit(arr)).cast("double") /
          (sqrt(col("_xn2")) * sqrt(lit(cn2.toDouble))))
        .cast("long").as(s"_s$l")
    }
    val scored = withN.select(
      (col("label") +: scoreCols.map(_._2)): _*)
    val best =
      if (byLabel.size == 1) col(s"_s${byLabel.head._1}")
      else greatest(byLabel.map { case (l, _, _) => col(s"_s$l") }: _*)
    val pred = byLabel.tail.foldLeft(
        when(col(s"_s${byLabel.head._1}") === col("_best"),
          lit(byLabel.head._1))) { case (acc, (l, _, _)) =>
        acc.when(col(s"_s$l") === col("_best"), lit(l))
      }
    scored.withColumn("_best", best)
      .select(col("label"), pred.as("pred_label"))
      .groupBy("label", "pred_label").agg(count(lit(1)).as("n_vecs"))
      .orderBy("label", "pred_label")
  }

  /** Deterministic pseudo-random hyperplanes for sign-bit LSH:
    * dims×planes doubles, embedded as literals. `seed` selects an
    * independent table for OR-amplification.
    */
  private def hyperplanes(planes: Int, dims: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Array.fill(dims)(rnd.nextGaussian()))
  }

  /** Bucket column expression: the native codegen'd SignBits expression
    * over a literal hyperplane matrix — one tight loop per row instead
    * of `planes` interpreted higher-order folds (see SignBits scaladoc;
    * bucket values are bit-for-bit identical to the fold formulation).
    * The matrix literal is constant-folded by Catalyst.
    */
  private def bucketCol(planes: Int, dims: Int, seed: Long,
      vecCol: String): Column = {
    val hs = hyperplanes(planes, dims, seed)
    val matrix = array(hs.map(h => array(h.map(lit): _*)): _*)
    call_function("signbits", col(vecCol), matrix)
  }

  /** Add an LSH bucket column: one sign bit per hyperplane. */
  def withLshBucket(emb: DataFrame, planes: Int = 12, dims: Int = 64,
      vecCol: String = "embedding", seed: Long = 42L): DataFrame =
    registered(emb).withColumn("lsh_bucket", bucketCol(planes, dims, seed, vecCol))

  /** LSH-accelerated top-k: exact quantized ranking, but only within
    * the query's hyperplane bucket. The plan is a broadcast equi-join
    * on the bucket key (asserted no-cartesian in tests); recall trades
    * off with `planes`.
    */
  def lshTopK(emb: DataFrame, queryId: Long, k: Int, planes: Int = 12,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucketed = withLshBucket(registered(emb), planes)
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv"), col("lsh_bucket"))
    bucketed.join(broadcast(q), Seq("lsh_bucket"))
      .filter(col(idCol) =!= queryId)
      .withColumn("score", qdot(vecCol, "qv"))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** OR-amplified LSH top-k: candidates are vectors colliding with the
    * query in ANY of `tables` independent hyperplane tables; the exact
    * quantized re-rank then picks the top k. Same amplification math
    * as [[lshCosinePairsMulti]]: a neighbor at angle θ survives with
    * probability 1-(1-(1-θ/π)^planes)^tables, so with planes=2,
    * tables=24 even a cosine-0.25 neighbor (this corpus's top-10
    * regime) is missed with probability ≈ 5e-5 — which is why the
    * declared query (s2) can carry the exact brute-force top-k as a
    * hash-checked oracle. Single-table [[lshTopK]] stays the
    * cheapest-probe form; this is the production recall/cost point.
    *
    * Shape: the query side is CONTROL PLANE — one row. Its vector and
    * L bucket keys are collected once, then candidate selection AND
    * exact scoring fold into a single codegen scan: per row, L
    * `signbits` evaluations compared against L bucket literals
    * (OR-chain) and one `qdotl` against the pre-quantized query
    * literal, finishing in TakeOrderedAndProject. No checkpoint of the
    * vector table, no L-way explode, no joins — the former
    * explode+semi-join formulation materialized id+L buckets for every
    * row and rescanned for the survivors (s12's fold-to-scan finding,
    * applied to LSH probing; 5.0 s → sub-second at the sf1 decade).
    * On a cluster the scan parallelizes per partition and the only
    * shuffle is the k-row top-k merge.
    */
  def lshTopKMulti(emb: DataFrame, queryId: Long, k: Int, planes: Int = 2,
      tables: Int = 24, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val reg = registered(emb)
    val buckets = (0 until tables)
      .map(t => bucketCol(planes, 64, t.toLong, vecCol))
    val qRow = reg.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv") +:
        buckets.zipWithIndex.map { case (b, i) => b.as(s"qb_$i") }: _*)
      .head()
    val qQuant: Array[Long] = qRow.getSeq[Float](0)
      .map(f => math.floor(f.toDouble * 1000.0).toLong).toArray
    val qBuckets = (0 until tables).map(i => qRow.getInt(1 + i))
    val collides = buckets.zip(qBuckets)
      .map { case (b, qb) => b === lit(qb) }.reduce(_ || _)
    reg.filter(col(idCol) =!= queryId && collides)
      .withColumn("score", call_function("qdotl", col(vecCol), lit(qQuant)))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** IVF (inverted-file) cell assignments: each vector is assigned to
    * its nearest centroid by quantized cosine. Centroids are actual
    * corpus vectors picked by a deterministic id stride (no RNG;
    * [[trainedCentroids]] offers a bounded Lloyd's refinement that
    * only moves cell boundaries, not the algorithm shape). Returns
    * (idCol, cell_id).
    *
    * Scale shape: centroids are broadcast (K ≪ n); assignment is one
    * map-side n×K scoring pass + a groupBy(id) argmax — no shuffle of
    * the vectors themselves beyond the aggregation. The argmax key is
    * a single BIGINT (the same mutable-buffer discipline as the PQ
    * argmin and v2 — a struct-max buffer is immutable and demotes this
    * n×K aggregate, the widest of the pipeline, to a SortAggregate):
    * sign(qd)·(qd²·100 div n2) is an EXACT integer, monotone in the
    * cosine qd/√n2 (never order-inverting; at worst it collapses
    * near-ties ~1e-9 apart into the deterministic min-cell tiebreak),
    * and packs with the 16-bit centroid ordinal as key·2¹⁶ +
    * (65535 − ord), so max() picks highest score then lowest cell id.
    * Overflow bound: unit-scale embeddings give |qd| ≤ 64·10⁶, so
    * qd²·100 ≤ 4.1e17 < 2⁶³.
    */
  def ivfAssignments(emb: DataFrame, centroidIds: Seq[Long],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(centroidIds.size < 65536, "IVF cells must fit 16-bit ordinals")
    val reg = registered(emb)
    val sortedIds = centroidIds.sorted
    val ordArr = array(sortedIds.map(lit(_)): _*)
    val cents = reg.filter(col(idCol).isin(centroidIds: _*))
      .select(col(idCol).as("cell_id"), col(vecCol).as("cent_vec"),
        qnorm2(vecCol).as("cent_n2"))
      .withColumn("ord", (array_position(ordArr, col("cell_id")) - 1).cast("long"))
    reg.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("qd", expr(s"CAST(qdot($vecCol, cent_vec) AS BIGINT)"))
      .withColumn("skey", expr(
        // positive-only DIV (truncation == floor), mirrored by sign —
        // identical integer semantics on any engine
        "CASE WHEN qd >= 0 THEN (qd * qd * 100) DIV cent_n2 " +
          "ELSE -((qd * qd * 100) DIV cent_n2) END"))
      .groupBy(col(idCol))
      .agg(max(col("skey") * lit(65536L) + (lit(65535L) - col("ord"))).as("mp"))
      .select(col(idCol),
        element_at(ordArr, (lit(65536L) - pmod(col("mp"), lit(65536L))).cast("int"))
          .as("cell_id"))
  }

  /** IVF top-k: score only vectors whose cell is among the query's
    * `nprobe` closest cells. With nprobe = K this degrades gracefully
    * to exact brute force; the spec measures the recall/nprobe curve
    * against [[bruteForceTopK]] ground truth. All probe decisions stay
    * distributed (tiny windows over K centroid rows) — no driver-side
    * action before the query's own job.
    */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int, centroidIds: Seq[Long],
      nprobe: Int, idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val reg = registered(emb)
    val assign = ivfAssignments(reg, centroidIds, idCol, vecCol)
    val cents = reg.filter(col(idCol).isin(centroidIds: _*))
      .select(col(idCol).as("cell_id"), col(vecCol).as("cent_vec"),
        qnorm2(vecCol).as("cent_n2"))
    val q = reg.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv"))
    // rank the query's cells, keep the nprobe closest
    val probed = cents.crossJoin(broadcast(q))
      .withColumn("score",
        expr("CAST(qdot(cent_vec, qv) AS DOUBLE) / sqrt(CAST(cent_n2 AS DOUBLE))"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("cell_id"))))
      .where(col("rk") <= nprobe)
      .select("cell_id")
    // probed-cell membership: semi-join the (id→cell) table against the
    // nprobe cell ids, then join back to the vectors on id. The
    // membership side is ~n·nprobe/K rows — fact-sized at scale, so it
    // is NOT broadcast; AQE picks the join strategy.
    reg.join(assign.join(broadcast(probed), Seq("cell_id"), "left_semi"),
        Seq(idCol))
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("score", qdot(vecCol, "qv"))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** All-pairs-within-block cosine. O(Σ block²) — only viable when
    * blocks are bounded; the scale path is [[lshCosinePairs]], which
    * adds a hyperplane bucket to the block key so candidate counts stay
    * near-linear. Cosine is derived in double from exact quantized
    * integers, so it is engine-reproducible.
    */
  def blockedCosinePairs(emb: DataFrame, minCosBp: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockCol: String = "label"): DataFrame = {
    val withNorm = registered(emb).withColumn("n2", qnorm2(vecCol))
    val a = withNorm.select(col(blockCol), col(idCol).as("a_id"),
      col(vecCol).as("a_vec"), col("n2").as("a_n2"))
    val b = withNorm.select(col(blockCol), col(idCol).as("b_id"),
      col(vecCol).as("b_vec"), col("n2").as("b_n2"))
    a.join(b, Seq(blockCol))
      .where(col("a_id") < col("b_id"))
      .withColumn("dot", qdot("a_vec", "b_vec"))
      .withColumn("cos_bp", expr(
        "CAST(floor(10000.0 * CAST(dot AS DOUBLE) / (sqrt(CAST(a_n2 AS DOUBLE)) * sqrt(CAST(b_n2 AS DOUBLE)))) AS BIGINT)"))
      .where(col("cos_bp") >= minCosBp)
      .select(col(blockCol), col("a_id"), col("b_id"), col("cos_bp"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023): cluster the embedding space (here the
    * deterministic-stride IVF cells of [[ivfAssignments]] — a k-means
    * upgrade changes cell QUALITY, not the plan), compare vectors only
    * WITHIN their cell, and keep one representative per near-dup
    * group. The keep rule is greedy-by-id: a vector is dropped iff a
    * lower-id vector in its cell has cosine ≥ minCosBp/10⁴ with it —
    * deterministic, engine-replayable, and exactly "keep every vector
    * with no earlier near-duplicate".
    *
    * This is the semantic complement of the exact d12 clustering: the
    * within-cell restriction is what makes the pair volume
    * O(Σ cell²) ≈ O(n²/K) instead of O(n²) — the documented SemDeDup
    * trade-off that a near-dup pair straddling a cell boundary is not
    * examined (raising K tightens cells; probing neighbor cells is
    * the standard recall patch). At 100 TB: assignment is a broadcast
    * n×K scoring pass (no vector shuffle), the pair join shuffles
    * vectors once keyed by cell, and per-cell work is bounded by cell
    * occupancy — the same blocked-not-all-pairs discipline as the
    * text-side dedup.
    *
    * Returns one row per vector: (idCol, cell_id, dup_of, kept) with
    * dup_of = the smallest-id blaming neighbor (NULL when kept).
    */
  def semanticDedup(emb: DataFrame, centroidIds: Seq[Long], minCosBp: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withCell = emb.join(ivfAssignments(emb, centroidIds, idCol, vecCol),
      Seq(idCol))
    val pairs = blockedCosinePairs(withCell, minCosBp, idCol, vecCol,
      blockCol = "cell_id")
    val dupOf = pairs.groupBy(col("b_id").as(idCol))
      .agg(min(col("a_id")).as("dup_of"))
    withCell.select(col(idCol), col("cell_id"))
      .join(dupOf, Seq(idCol), "left")
      .select(col(idCol), col("cell_id"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** Product-quantization ADC top-k (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    * 64-dim vector into `m` subspaces, encode each subvector as the id
    * of its nearest codeword (argmin of squared L2 over the codebook),
    * and answer queries by ASYMMETRIC DISTANCE: precompute the query's
    * distance to every (subspace, codeword) cell — an m×C table — and
    * score a database vector as the SUM of table lookups selected by
    * its code. The database never touches raw vectors at query time;
    * at 100 TB the codes table is 8 bytes/vector instead of 256, the
    * compression that makes billion-vector ANN feasible, and IVF (s6)
    * composes with it as the standard IVF-PQ pipeline.
    *
    * Determinism discipline (same as the rest of this file): vectors
    * quantize to integers once, every distance is exact bigint
    * arithmetic, argmin ties break on the smallest codeword id via
    * struct-min — so encoding, the ADC table, and the final ranking
    * are all engine-reproducible and the DuckDB oracle replays the
    * WHOLE pipeline hash-exactly (no recall coupling).
    *
    * Shape: the codebook (C rows) and the query's ADC table (m×C
    * rows) broadcast; encoding is a broadcast cross-product projected
    * to (vector, subspace, codeword-distance) rows with the argmin as
    * a partial-aggregated groupBy on (vector, subspace) — the only
    * shuffles carry n×m narrow rows, never vectors. Codebook choice
    * here is designated ids (deterministic, like the IVF centroids);
    * a production build would k-means them — only the cell QUALITY
    * changes, not the plan.
    */
  def pqTopK(emb: DataFrame, queryId: Long, k: Int, codebookIds: Seq[Long],
      m: Int = 8, dims: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    pqAdc(emb, None, queryId, k, codebookIds, m, dims, idCol, vecCol)

  /** PQ-ADC core shared by [[pqTopK]] (whole-corpus database) and
    * [[ivfPqTopK]] (database restricted to IVF-probed candidates via
    * `dbIds`). Codebook and query always come from the full `emb` so a
    * restricted database can still encode against the global codebook.
    */
  private def pqAdc(emb: DataFrame, dbIds: Option[DataFrame], queryId: Long,
      k: Int, codebookIds: Seq[Long], m: Int, dims: Int, idCol: String,
      vecCol: String): DataFrame = {
    val dSub = dims / m
    def quant(c: String): Column = expr(
      s"transform($c, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))")
    def subDist(a: String, b: String): String =
      s"""transform(sequence(0, ${m - 1}), j ->
         |  aggregate(zip_with(slice($a, j*$dSub + 1, $dSub),
         |                     slice($b, j*$dSub + 1, $dSub),
         |                     (x, y) -> (x - y) * (x - y)),
         |            CAST(0 AS BIGINT), (acc, v) -> acc + v))""".stripMargin
    // codewords carry a DENSE ordinal (rank of the raw id among the
    // sorted codebook ids) rather than the raw vector id: the ordinal
    // is < 2^16 at any corpus size, which the packed argmin below
    // needs, and it orders identically to the raw id so the
    // deterministic tiebreak is unchanged. The ordinal never leaves
    // this pipeline (the output is (vec_id, adist)).
    require(codebookIds.size < 65536, "PQ codebook must fit 16-bit ordinals")
    val ordArr = array(codebookIds.sorted.map(lit(_)): _*)
    val cb = emb.filter(col(idCol).isin(codebookIds: _*))
      .select((array_position(ordArr, col(idCol)) - 1).cast("long").as("c"),
        quant(vecCol).as("cq"))
    val eAll = emb.filter(col(idCol) =!= queryId)
      .select(col(idCol), quant(vecCol).as("vq"))
    val e = dbIds.map(ids => eAll.join(ids, Seq(idCol), "left_semi"))
      .getOrElse(eAll)
    // (vector, subspace, codeword) → subspace distance; argmin per
    // (vector, subspace) with codeword id as deterministic tiebreak.
    // The (d2, c) pair packs into ONE bigint — d2·2^16 + c preserves
    // the lexicographic order exactly (c < 2^16 by construction; d2 ≤
    // dims·(2·1000·max|x|)² ≪ 2^46 for unit-scale embeddings) — so the
    // argmin buffer is a mutable long and the n×m×C-row aggregate
    // stays a HashAggregate. A min(struct(d2, c)) buffer is immutable
    // and demotes this, the widest shuffle of the pipeline, to a
    // sort-based aggregate (caught by PlanAudit).
    val sub = e.crossJoin(broadcast(cb))
      .select(col(idCol), col("c"), posexplode(expr(subDist("vq", "cq"))))
      .select(col(idCol), col("pos").as("j"),
        (col("col") * lit(65536L) + col("c")).as("dc"))
    val codes = sub.groupBy(col(idCol), col("j"))
      .agg(min(col("dc")).as("mdc"))
      .select(col(idCol), col("j"), pmod(col("mdc"), lit(65536L)).as("c"))
    val q = emb.filter(col(idCol) === queryId).select(quant(vecCol).as("qq"))
    val qtab = cb.crossJoin(broadcast(q))
      .select(col("c"), posexplode(expr(subDist("qq", "cq"))))
      .select(col("c"), col("pos").as("j"), col("col").as("qd2"))
    codes.join(broadcast(qtab), Seq("j", "c"))
      .groupBy(col(idCol))
      .agg(sum("qd2").as("adist"))
      .orderBy(col("adist").asc, col(idCol))
      .limit(k)
  }

  /** Quantize an array<float> column to exact bigint components —
    * floor(x·1000), the same grid every similarity operator scores on.
    */
  private def quantArr(c: String): Column = expr(
    s"transform($c, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))")

  /** Exact squared-L2 between two quantized bigint arrays. Interpreted
    * HOF — fine for K-bounded cross products (n×K centroid scoring);
    * the hot n×n paths use the native qdot instead.
    */
  private def qL2(a: String, b: String): Column = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0 AS BIGINT), (acc, v) -> acc + v)")

  /** Packed-argmin cell assignment against a quantized centroid table
    * (`ord` < 2¹⁶, `cq` array<bigint>): min(d2·2¹⁶ + ord) keeps the
    * n×K aggregate hash-based (mutable long buffer) and breaks ties on
    * the lowest ordinal. `vq` must carry (idCol, vq).
    */
  private def argminCell(vq: DataFrame, cents: DataFrame,
      idCol: String): DataFrame =
    vq.crossJoin(broadcast(cents.select(col("ord"), col("cq"))))
      .withColumn("d2", qL2("vq", "cq"))
      .groupBy(col(idCol))
      .agg(min(col("d2") * lit(65536L) + col("ord")).as("mp"))
      .select(col(idCol), pmod(col("mp"), lit(65536L)).as("cell"))

  /** Bounded Lloyd's k-means over QUANTIZED vectors — the trained
    * upgrade for the deterministic stride seeding (the seeding stays;
    * this refines it). Returns (ord, cq): integer centroids on the
    * same floor(x·1000) grid the assignment scores on, so every
    * distance in training AND serving is exact bigint arithmetic and
    * the whole trained table is engine-replayable (a DuckDB oracle
    * re-derives assignments from the exported table bit-for-bit).
    *
    * Determinism: seeds are corpus vectors (sorted-id ordinals);
    * assignment ties break on the lowest ordinal (packed argmin);
    * centroid update is floor(sum/count) — component sums < 2⁵³ make
    * the double division exact-rounded identically on any engine.
    * Fixed `iters`, no RNG, no convergence test — same bounded-loop
    * discipline as Graph.pageRank (eager K-row checkpoint per round).
    *
    * Scale shape per iteration: vq is materialized once pre-partitioned
    * by id, so the assignment groupBy AND the member join are
    * exchange-free; the only shuffle is the per-cell component-sum
    * aggregate, whose partials reduce to K×65 longs per partition
    * before the exchange. Empty cells drop out (standard Lloyd's).
    */
  def kmeansQuantized(emb: DataFrame, seedIds: Seq[Long], iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int = 64): DataFrame = {
    require(seedIds.nonEmpty && seedIds.size < 65536,
      "k-means cells must fit 16-bit ordinals")
    val vq = emb.select(col(idCol), quantArr(vecCol).as("vq"))
      .repartition(col(idCol)).localCheckpoint()
    val sorted = seedIds.sorted
    val ordArr = array(sorted.map(lit(_)): _*)
    var cents = vq.filter(col(idCol).isin(seedIds: _*))
      .select((array_position(ordArr, col(idCol)) - 1).cast("long").as("ord"),
        col("vq").as("cq"))
      .localCheckpoint(true)
    val sumCols = (1 to dims).map(j => sum(element_at(col("vq"), j)).as(s"s_$j"))
    for (_ <- 1 to iters) {
      val assigned = argminCell(vq, cents, idCol)
      cents = vq.join(assigned, Seq(idCol))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("cnt"), sumCols: _*)
        .select(col("cell").as("ord"),
          array((1 to dims).map(j =>
            floor(col(s"s_$j").cast("double") / col("cnt").cast("double"))
              .cast("long")): _*).as("cq"))
        .localCheckpoint(true)
    }
    cents
  }

  /** Composed IVF-PQ top-k — the standard billion-vector serving
    * layout (IVF cells bound the candidate set, PQ-ADC scores it
    * without touching raw vectors): probe the `nprobe` cells whose
    * TRAINED centroids are L2-closest to the query, then rank ONLY
    * vectors assigned to those cells by asymmetric PQ distance.
    * Candidate volume is ~n·nprobe/K; encode/score shuffles carry
    * narrow (id, subspace, code) rows for candidates only. Output
    * (idCol, adist) matches [[pqTopK]]'s contract.
    */
  def ivfPqTopK(emb: DataFrame, queryId: Long, k: Int, cents: DataFrame,
      codebookIds: Seq[Long], nprobe: Int, m: Int = 8, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val vqAll = emb.select(col(idCol), quantArr(vecCol).as("vq"))
    val assign = argminCell(vqAll, cents, idCol)
    val qv = vqAll.filter(col(idCol) === queryId).select(col("vq").as("qvq"))
    // rank the K cells by exact L2 to the query; keep nprobe (tiny
    // window over K rows — the global sort is centroid-sized)
    val probed = cents.crossJoin(broadcast(qv))
      .withColumn("qd2", qL2("cq", "qvq"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("qd2").asc, col("ord"))))
      .where(col("rk") <= nprobe)
      .select(col("ord").as("cell"))
    val candIds = assign.join(broadcast(probed), Seq("cell"), "left_semi")
      .filter(col(idCol) =!= queryId)
      .select(idCol)
    pqAdc(emb, Some(candIds), queryId, k, codebookIds, m, dims, idCol, vecCol)
  }

  /** IVF top-k over TRAINED centroids with exact quantized-dot
    * scoring — [[ivfTopK]]'s twin for [[kmeansQuantized]] cells
    * (ivfTopK probes member-vector centroids; this probes trained
    * ones). Same probe discipline: cells ranked by exact L2 to the
    * query, candidates = vectors assigned to the nprobe closest.
    */
  def ivfTopKTrained(emb: DataFrame, queryId: Long, k: Int,
      cents: DataFrame, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val reg = registered(emb)
    val vqAll = emb.select(col(idCol), quantArr(vecCol).as("vq"))
    val assign = argminCell(vqAll, cents, idCol)
    val qvq = vqAll.filter(col(idCol) === queryId).select(col("vq").as("qvq"))
    val probed = cents.crossJoin(broadcast(qvq))
      .withColumn("qd2", qL2("cq", "qvq"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("qd2").asc, col("ord"))))
      .where(col("rk") <= nprobe)
      .select(col("ord").as("cell"))
    val candIds = assign.join(broadcast(probed), Seq("cell"), "left_semi")
      .filter(col(idCol) =!= queryId)
      .select(idCol)
    val q = reg.filter(col(idCol) === queryId).select(col(vecCol).as("qv"))
    reg.join(candIds, Seq(idCol))
      .crossJoin(broadcast(q))
      .withColumn("score", qdot(vecCol, "qv"))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Scale path for near-dup pairs: block on (label × LSH bucket) so
    * each block is ~n/(labels·2^planes) vectors and the pairwise work
    * stays near-linear in n. High-cosine pairs land in the same bucket
    * with probability (1 - θ/π)^planes — recall trades off with
    * `planes`, exactly the MinHash-band trade-off in Dedup.
    */
  def lshCosinePairs(emb: DataFrame, minCosBp: Int, planes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockCol: String = "label"): DataFrame = {
    val bucketed = withLshBucket(emb, planes)
      .withColumn("block", concat_ws("_", col(blockCol), col("lsh_bucket")))
    blockedCosinePairs(bucketed, minCosBp, idCol, vecCol, "block")
      .drop("block")
  }

  /** OR-amplified multi-table LSH pairs: `tables` independent
    * hyperplane tables (seeded 0..tables-1), a pair is a candidate if
    * it collides in ANY table, then the exact quantized cosine filter
    * re-ranks. Single-table sign-bit LSH has a recall cliff — a pair at
    * angle θ collides with probability only (1-θ/π)^planes — so
    * production near-dup pipelines amplify across L tables: miss
    * probability (1-p)^L decays geometrically while cost grows linearly
    * in L. With planes=2, tables=24, a cos≥0.25 pair is missed with
    * probability < 1e-4 — which is how the recall oracle (s5) can
    * assert that candidates + exact re-rank reproduce the exact
    * blocked result bit-for-bit.
    *
    * Shape: one pass computes all L bucket keys, posexplode → the pair
    * self-join is an equi-join on (table, label, bucket) — never a
    * cartesian product — and `dropDuplicates` merges cross-table hits
    * before the exact filter.
    */
  def lshCosinePairsMulti(emb: DataFrame, minCosBp: Int, planes: Int = 2,
      tables: Int = 24, idCol: String = "vec_id",
      vecCol: String = "embedding", blockCol: String = "label"): DataFrame = {
    val reg = registered(emb)
    val buckets = (0 until tables)
      .map(t => bucketCol(planes, 64, t.toLong, vecCol))
    val withNorm = reg
      .withColumn("n2", qnorm2(vecCol))
      .withColumn("bks", array(buckets: _*))
      // The L bucket expressions are interpreted higher-order functions;
      // materialize once so the self-join doesn't re-inline them into
      // both branches (measured ~10x re-evaluation cost otherwise).
      .localCheckpoint(true)
    val keyed = withNorm
      .select(col(blockCol), col(idCol),
        posexplode(col("bks")).as(Seq("tbl", "bkt")))
    val a = keyed.select(col(blockCol), col("tbl"), col("bkt"),
      col(idCol).as("a_id"))
    val b = keyed.select(col(blockCol), col("tbl"), col("bkt"),
      col(idCol).as("b_id"))
    a.join(b, Seq(blockCol, "tbl", "bkt"))
      .where(col("a_id") < col("b_id"))
      .select(col(blockCol), col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
      // Vectors are re-fetched AFTER candidate dedup: carrying them
      // through the L-way exploded join would multiply shuffled bytes
      // by the table count.
      .join(withNorm.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"),
        col("n2").as("a_n2")), Seq("a_id"))
      .join(withNorm.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"),
        col("n2").as("b_n2")), Seq("b_id"))
      .withColumn("dot", qdot("a_vec", "b_vec"))
      .withColumn("cos_bp", expr(
        "CAST(floor(10000.0 * CAST(dot AS DOUBLE) / (sqrt(CAST(a_n2 AS DOUBLE)) * sqrt(CAST(b_n2 AS DOUBLE)))) AS BIGINT)"))
      .where(col("cos_bp") >= minCosBp)
      .select(col(blockCol), col("a_id"), col("b_id"), col("cos_bp"))
  }

  /** Scale-safe sibling of the unbounded pair contract
    * (lshCosinePairsMulti / s4): per-vector CAPPED top-k neighbors.
    * The r13 sf10 decade measured why the cap is the 100 TB contract:
    * at the driver's fixed d=64, spherical measure concentration puts
    * P(cos ≥ t) ≈ Φ̄(t·√d) on ANY generic direction pair (measured
    * 5.6% at t=0.20 on the bounded-cluster generator — the geometry,
    * not the clusters), so "emit every pair ≥ t" has quadratic OUTPUT
    * on any realistic 64-d corpus. This form bounds output at n·k and
    * never shuffles the quadratic candidate stream:
    *
    *  1. vectors ride the ×`tables` posexplode (linear bytes, one
    *     exchange on (block, tbl, bkt));
    *  2. the bucket self-join's quadratic candidate stream flows
    *     STRAIGHT into TopKAgg's partial aggregation — each map task
    *     forwards ≤ k rows per (a_id, tbl), so the agg shuffle carries
    *     O(n · tables · k), never O(candidates) (this is the exact
    *     shuffle-shape difference from the dedup-then-filter form,
    *     whose dropDuplicates reshuffles every candidate pair);
    *  3. per-vector merge of the ≤ tables·k survivors: dedup the
    *     cross-table copies, sort (cos DESC, id ASC), take k.
    *
    * Exactness containment (why per-bucket capping loses nothing): a
    * true global i-th best neighbor (i ≤ k) of `a` collides with `a`
    * in ≥1 table w.p. 1-(1-p)^tables (the s4/s5 amplification bound);
    * in any bucket holding it, the candidates strictly better under
    * (cos DESC, id ASC) number < i ≤ k globally, so it always survives
    * that bucket's k-heap. The oracle therefore replays the EXACT
    * per-label computation (window rank over all within-label pairs).
    */
  def lshTopKNeighbors(emb: DataFrame, k: Int, minCosBp: Int,
      planes: Int = 2, tables: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding", blockCol: String = "label",
      dims: Int = 64): DataFrame = {
    val reg = registered(emb)
    val buckets = (0 until tables)
      .map(t => bucketCol(planes, dims, t.toLong, vecCol))
    val withNorm = reg
      .withColumn("n2", qnorm2(vecCol))
      .withColumn("bks", array(buckets: _*))
      .localCheckpoint(true)
    val keyed = withNorm
      .select(col(blockCol), col(idCol), col(vecCol), col("n2"),
        posexplode(col("bks")).as(Seq("tbl", "bkt")))
    val a = keyed.select(col(blockCol), col("tbl"), col("bkt"),
      col(idCol).as("a_id"), col(vecCol).as("a_vec"), col("n2").as("a_n2"))
    val b = keyed.select(col(blockCol), col("tbl"), col("bkt"),
      col(idCol).as("b_id"), col(vecCol).as("b_vec"), col("n2").as("b_n2"))
    val topkF = graft.functions.TopKAgg.topK(k)
    val perTable = a.join(b, Seq(blockCol, "tbl", "bkt"))
      .where(col("a_id") =!= col("b_id"))
      .withColumn("dot", qdot("a_vec", "b_vec"))
      .withColumn("cos_bp", expr(
        "CAST(floor(10000.0 * CAST(dot AS DOUBLE) / (sqrt(CAST(a_n2 AS DOUBLE)) * sqrt(CAST(b_n2 AS DOUBLE)))) AS BIGINT)"))
      .where(col("cos_bp") >= minCosBp)
      .groupBy(col(blockCol), col("a_id"), col("tbl"))
      .agg(topkF(col("cos_bp"), col("b_id")).getField("rows").as("tk"))
    perTable
      .groupBy(col(blockCol), col("a_id"))
      .agg(flatten(collect_list(col("tk"))).as("cand"))
      .select(col(blockCol), col("a_id"),
        posexplode(expr(
          s"""slice(array_sort(array_distinct(cand),
             |  (l, r) -> CASE WHEN l.score > r.score THEN -1
             |                 WHEN l.score < r.score THEN 1
             |                 WHEN l.id < r.id THEN -1
             |                 WHEN l.id > r.id THEN 1 ELSE 0 END),
             |  1, $k)""".stripMargin)))
      .select(col(blockCol), col("a_id"),
        (col("pos") + 1).cast("long").as("rk"),
        col("col").getField("id").as("b_id"),
        col("col").getField("score").as("cos_bp"))
  }

  /** EXACT blocked per-vector top-k neighbors — the form that actually
    * wins at d=64 (measured, r14): within-block brute force streaming
    * straight into TopKAgg partial aggregation. Candidates per vector
    * are its whole block (n_block·d quantized-dot work, scan-side), the
    * k-heap folds them map-side, and the one exchange carries O(n·k)
    * heap summaries — the quadratic stream never crosses the network,
    * same as [[lshTopKNeighbors]], but with NOTHING duplicated and NO
    * recall gamble (output provably equals the oracle's window rank).
    *
    * Why not LSH here: the s16 contract is exact top-k down to
    * cos ≥ 0.2, and at d=64 the sf0.01 gate data puts true 3rd-best
    * neighbors AT the 0.2 floor (measured min top-3 cos_bp = 2001), so
    * per-table collision probability for a must-recall pair is
    * (1 − 78.5°/180°)^planes — planes cannot exceed 2 at tables = 32
    * without hash-visible misses. At those parameters the LSH
    * candidate stream is tables/2^planes = 8× the FULL pair volume
    * n²/2 that brute force pays once: amplification duplicates work 16×
    * instead of pruning it (sf10: 707 s LSH vs this form — the same
    * spherical-floor law that killed s4's unbounded-pair contract,
    * now measured on the capped one). LSH re-enters only when the
    * recall floor is high-cos (near-dup dedup, d17's regime) or d is
    * large enough that the floor carries no probability mass.
    *
    * `broadcastBlocks`: `Some(true)` ships the block side to every
    * executor, `Some(false)` forces the block-keyed shuffle join
    * (parallelism then = #blocks, the honest constraint of
    * block-local exactness at 100 TB — size blocks like IVF cells).
    * The default `None` SIZE-GATES the choice on the optimizer's
    * estimate for the embedding side: broadcast under
    * [[MaxBroadcastBlockBytes]], shuffle past it — so a GB-scale
    * caller degrades to the shuffle form instead of hitting the
    * broadcast limit. The bounded-cell scale sibling is
    * [[cellTopKNeighbors]].
    */
  def blockTopKNeighbors(emb: DataFrame, k: Int, minCosBp: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockCol: String = "label",
      broadcastBlocks: Option[Boolean] = None): DataFrame = {
    val reg = registered(emb)
    val withNorm = reg
      .select(col(blockCol), col(idCol), col(vecCol))
      .withColumn("n2", qnorm2(vecCol))
    val a = withNorm.select(col(blockCol), col(idCol).as("a_id"),
      col(vecCol).as("a_vec"), col("n2").as("a_n2"))
    val b0 = withNorm.select(col(blockCol), col(idCol).as("b_id"),
      col(vecCol).as("b_vec"), col("n2").as("b_n2"))
    val doBroadcast = broadcastBlocks.getOrElse {
      val est = emb.queryExecution.optimizedPlan.stats.sizeInBytes
      // A checkpointed LogicalRDD reports defaultSizeInBytes
      // (Long.MaxValue) — not an estimate at all. Trusting it here
      // silently forced the shuffle form for every checkpointed
      // caller (the d=256 spec fixtures and the d=256 crossover runs:
      // BENCHNOTES "r16: d=256 crossover re-measured", ProfileMain
      // "d256" in `git show 78c14b7:src/main/scala/graft/tools/ProfileMain.scala`),
      // so the published "exact" wall times measured the
      // ~4x-slower sort-merge shape. When stats are dead, size from
      // counted rows × schema row width like cellTopKNeighbors.
      if (est < BigInt(Long.MaxValue) / 4) est <= BigInt(MaxBroadcastBlockBytes)
      else {
        val agg = withNorm.agg(count(lit(1)), max(size(col(vecCol)))).first()
        val n = agg.getLong(0)
        n == 0L || n * (80L + 4L * agg.getInt(1)) <= MaxBroadcastBlockBytes
      }
    }
    val b = if (doBroadcast) broadcast(b0) else b0
    val topkF = graft.functions.TopKAgg.topK(k)
    a.join(b, Seq(blockCol))
      .where(col("a_id") =!= col("b_id"))
      .withColumn("dot", qdot("a_vec", "b_vec"))
      .withColumn("cos_bp", expr(
        "CAST(floor(10000.0 * CAST(dot AS DOUBLE) / (sqrt(CAST(a_n2 AS DOUBLE)) * sqrt(CAST(b_n2 AS DOUBLE)))) AS BIGINT)"))
      .where(col("cos_bp") >= minCosBp)
      .groupBy(col(blockCol), col("a_id"))
      .agg(topkF(col("cos_bp"), col("b_id")).getField("rows").as("tk"))
      .select(col(blockCol), col("a_id"),
        posexplode(expr(
          s"""slice(array_sort(tk,
             |  (l, r) -> CASE WHEN l.score > r.score THEN -1
             |                 WHEN l.score < r.score THEN 1
             |                 WHEN l.id < r.id THEN -1
             |                 WHEN l.id > r.id THEN 1 ELSE 0 END),
             |  1, $k)""".stripMargin)))
      .select(col(blockCol), col("a_id"),
        (col("pos") + 1).cast("long").as("rk"),
        col("col").getField("id").as("b_id"),
        col("col").getField("score").as("cos_bp"))
  }

  /** Per-(block, table, bucket) membership counts for the
    * [[lshTopKNeighbors]] parameterization — the audit view behind its
    * candidate-volume claims: the bucket self-join materializes
    * Σ_blocks n·(n−1) ordered candidate pairs, so this histogram (one
    * count aggregate over the same keys) prices the join without
    * running it. Used by the d=256 regime spec and available to
    * callers sizing planes/tables against a measured corpus.
    */
  def lshBucketCounts(emb: DataFrame, planes: Int, tables: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockCol: String = "label", dims: Int = 64): DataFrame = {
    val reg = registered(emb)
    val buckets = (0 until tables)
      .map(t => bucketCol(planes, dims, t.toLong, vecCol))
    reg.withColumn("bks", array(buckets: _*))
      .select(col(blockCol), posexplode(col("bks")).as(Seq("tbl", "bkt")))
      .groupBy(col(blockCol), col("tbl"), col("bkt"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-vector top-`nprobe` IVF cell memberships — the probe-expanded
    * generalization of [[ivfAssignments]]: each vector is attached to
    * its `nprobe` closest centroids (rank 1 = the primary cell, the
    * exact ivfAssignments argmax). The scoring pass is the same n×K
    * broadcast cross of centroids; the per-vector top-nprobe fold runs
    * through TopKAgg's bounded heap, so the aggregation shuffle
    * carries O(n·nprobe) rows — never the n×K score stream (a window
    * rank here would shuffle all n·K scores; at K = n/2500 that is
    * quadratic). Score key and tiebreak are ivfAssignments' integer
    * skey with ties to the lowest cell ordinal, so rank 1 reproduces
    * ivfAssignments bit-for-bit and a SQL engine replays the whole
    * table with one ROW_NUMBER over (skey DESC, cell_id).
    * Returns (idCol, prk ∈ 1..nprobe, cell_id).
    */
  def ivfProbeAssignments(emb: DataFrame, centroidIds: Seq[Long],
      nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(centroidIds.size < 65536, "IVF cells must fit 16-bit ordinals")
    require(nprobe >= 1 && nprobe <= centroidIds.size,
      s"nprobe=$nprobe out of range [1, ${centroidIds.size}]")
    val reg = registered(emb)
    val sortedIds = centroidIds.sorted
    val ordArr = array(sortedIds.map(lit(_)): _*)
    val cents = reg.filter(col(idCol).isin(centroidIds: _*))
      .select(col(idCol).as("cell_id"), col(vecCol).as("cent_vec"),
        qnorm2(vecCol).as("cent_n2"))
      .withColumn("ord", (array_position(ordArr, col("cell_id")) - 1).cast("long"))
    val topkF = graft.functions.TopKAgg.topK(nprobe)
    reg.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("qd", expr(s"CAST(qdot($vecCol, cent_vec) AS BIGINT)"))
      .withColumn("skey", expr(
        "CASE WHEN qd >= 0 THEN (qd * qd * 100) DIV cent_n2 " +
          "ELSE -((qd * qd * 100) DIV cent_n2) END"))
      .groupBy(col(idCol))
      .agg(topkF(col("skey"), col("ord")).getField("rows").as("tk"))
      .select(col(idCol), posexplode(col("tk")))
      .select(col(idCol), (col("pos") + 1).cast("int").as("prk"),
        element_at(ordArr, (col("col").getField("id") + 1).cast("int"))
          .as("cell_id"))
  }

  /** Hierarchical (two-level) probe assignment — the scale path past
    * [[ivfProbeAssignments]]' n×K scoring pass, whose cost is n²/c
    * once K is corpus-scaled (X239's documented caveat, retired here
    * the way every quadratic contract in this family gets retired:
    * with a measured sibling, not a rewrite). √K COARSE
    * representatives (stride-sampled from the centroid set) partition
    * the fine centroids into spatially coherent groups (each fine
    * centroid joins its nearest rep by the same integer skey law —
    * a K×√K control-plane pass); each VECTOR then scores only the
    * √K reps plus the fine members of its `coarseProbe` best groups
    * — per-vector work √K·(1 + coarseProbe·c̄) instead of K, i.e.
    * O(n·√K) total: the decade-over-decade growth drops from 100× to
    * ~31× per 100× corpus. EXECUTION VEHICLE MATTERS as much as the
    * arithmetic, and it was measured: a row-local HOF formulation
    * (one-row pack, per-row transform/filter lambdas) ran 30× SLOWER
    * than flat at sf10 (74 s vs 2.2 s) — interpreted lambda
    * evaluation and per-row struct allocation obliterate a 4×
    * scoring reduction. This implementation is therefore two CODEGEN
    * stages: the flat operator itself over the √K coarse reps
    * (crossJoin(broadcast) into the TopKAgg heap), then an id-keyed
    * rejoin fanned out to the probed groups' fine members via a
    * broadcast K-row table — whole-stage codegen end to end, shuffle
    * O(n·coarseProbe + n·nprobe).
    *
    * Approximate BY CONTRACT, and REGIME-BOUND like LSH (X240's
    * boundary, measured in SimilaritySpec): on coarse-STRUCTURED
    * embeddings (the d=256 bounded-cluster law) pruning 60% of the
    * groups costs 2.1pp of symmetric pair recall (0.9876 → 0.9663
    * against exact ground truth) — the purpose metric, since
    * near-identical vectors make near-identical group choices; on
    * d=64 spherical-floor data coarse rep cosines concentrate near 0
    * and the pruning measurably degrades (printed in the spec, not
    * asserted — not the claimed regime). coarseProbe = √K degrades
    * EXACTLY to the flat law (same skey, same tiebreaks — spec'd
    * bit-equal), so callers can dial exactness back in. Same output
    * shape (idCol, prk, cell_id) as [[ivfProbeAssignments]]: a
    * drop-in for the [[cellTopKNeighbors]] build side when the
    * assignment pass — not the candidate join — becomes the
    * bottleneck (~sf30+), in the regime where the geometry supports
    * it. Phase walls: BENCHNOTES "r16: hierarchical probe assignment"
    * (measured with ProfileMain "hier", in
    * `git show 78c14b7:src/main/scala/graft/tools/ProfileMain.scala`).
    */
  def ivfProbeAssignmentsHier(emb: DataFrame, centroidIds: Seq[Long],
      nprobe: Int, coarseProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(centroidIds.size < 65536, "IVF cells must fit 16-bit ordinals")
    require(nprobe >= 1 && nprobe <= centroidIds.size,
      s"nprobe=$nprobe out of range [1, ${centroidIds.size}]")
    val reg = registered(emb)
    val sortedIds = centroidIds.sorted.toIndexedSeq
    val kAll = sortedIds.size
    val nG = math.max(1, math.round(math.sqrt(kAll.toDouble)).toInt)
    require(coarseProbe >= 1 && coarseProbe <= nG,
      s"coarseProbe=$coarseProbe out of range [1, $nG]")
    val coarseReps = (0 until nG).map(g => sortedIds(g * kAll / nG))
    val ordArr = array(sortedIds.map(lit(_)): _*)
    // fine centroid -> group: the flat probe law at nprobe=1 over the
    // coarse reps (argmax skey, ties to lowest rep ordinal) — a
    // K-row control-plane pass
    val fineCents = reg.filter(col(idCol).isin(sortedIds.map(Long.box): _*))
    val groups = ivfProbeAssignments(fineCents, coarseReps, 1, idCol, vecCol)
      .select(col(idCol).as("__fid"), col("cell_id").as("grp"))
    val cents = fineCents
      .select(col(idCol).as("__fid"), col(vecCol).as("cent_vec"),
        qnorm2(vecCol).as("cent_n2"),
        (array_position(ordArr, col(idCol)) - 1).cast("long").as("ord"))
      .join(groups, Seq("__fid"))
      .localCheckpoint(true) // K rows: broadcast build side of stage 2
    // stage 1: per-vector top-coarseProbe groups — n×√K codegen'd
    // scoring through the SAME operator (crossJoin(broadcast) into
    // the TopKAgg heap)
    val vg = ivfProbeAssignments(reg, coarseReps, coarseProbe, idCol, vecCol)
      .select(col(idCol), col("cell_id").as("grp"))
    // stage 2: rejoin the vectors (id-keyed equi-join, n·coarseProbe
    // rows), fan out to the probed groups' fine members via the
    // broadcast K-row table, score, bounded heap — every stage
    // codegen'd, shuffle O(n·nprobe)
    val topkF = graft.functions.TopKAgg.topK(nprobe)
    vg.join(reg.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(cents.drop("__fid")), Seq("grp"))
      .withColumn("qd", expr(s"CAST(qdot($vecCol, cent_vec) AS BIGINT)"))
      .withColumn("skey", expr(
        "CASE WHEN qd >= 0 THEN (qd * qd * 100) DIV cent_n2 " +
          "ELSE -((qd * qd * 100) DIV cent_n2) END"))
      .groupBy(col(idCol))
      .agg(topkF(col("skey"), col("ord")).getField("rows").as("tk"))
      .select(col(idCol), posexplode(col("tk")))
      .select(col(idCol), (col("pos") + 1).cast("int").as("prk"),
        element_at(ordArr, (col("col").getField("id") + 1).cast("int"))
          .as("cell_id"))
  }

  /** Skew guard for [[cellTopKNeighbors]]: the operator's linear-work
    * contract rests on BOUNDED cells (K scaled so n/K stays a
    * constant, the d17/SemDeDup discipline) — a degenerate assignment
    * (collapsed centroids, one giant cell) silently re-creates the
    * quadratic block join this operator exists to replace. This audits
    * the membership histogram (one key-bounded count aggregate,
    * control-plane next to the neighbor join it guards) and refuses
    * past `maxCellRows`, naming the fix: more cells, not more budget.
    * Returns the TOTAL membership count (the same aggregate pays for
    * it), which the caller's broadcast gate sizes against.
    */
  def requireBoundedCells(prim: DataFrame, maxCellRows: Long): Long =
    requireBoundedCellsStats(prim, maxCellRows)._1

  /** [[requireBoundedCells]] returning (total memberships, Σ cell²) —
    * the same one aggregate also yields the candidate-PAIR volume the
    * cell join will generate, which sizes the membership table's
    * partitioning (r17 optimization round): the stream side's
    * partition count must come from the pair volume, not the input
    * bytes or the session constant (guide §2 — a task should hold a
    * bounded slice of the quadratic-in-cell work at any corpus size).
    * Doubles as the probes checkpoint's materializing action when the
    * caller passes a LAZY checkpoint (the aggregate consumes every
    * partition — the Loops.checkpoint fusion contract).
    */
  def requireBoundedCellsStats(prim: DataFrame,
      maxCellRows: Long): (Long, Long) = {
    val row = prim.groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L)).cast("long"),
        coalesce(sum(col("n")), lit(0L)).cast("long"),
        coalesce(sum(col("n") * col("n")), lit(0L)).cast("long"))
      .collect()(0)
    val worst = row.getLong(0)
    require(worst <= maxCellRows,
      s"largest IVF cell holds $worst vectors — past the bounded-cell " +
        s"budget of $maxCellRows. cellTopKNeighbors' per-cell work is " +
        "quadratic in the cell, so scale K with the corpus " +
        "(corpus-scaled K, e.g. s17's max(8, n/500)) instead of " +
        "raising the budget.")
    (row.getLong(1), row.getLong(2))
  }

  /** Candidate pairs one cell-join task holds: a few hundred ms of
    * qdot kernel work at d=64. */
  val PairsPerTask = 2000000L

  /** Pair-volume-derived partition count for the cell join's stream
    * side: one task holds ~[[PairsPerTask]] candidate pairs, FLOOR =
    * the session width, cap 16× it. The floor matters as much as the
    * escape above it (measured r18: the first wiring
    * let a small corpus NARROW the join to 4 partitions and s17/s19/
    * d27 ran the 8M-pair kernel stage on 4 of 32 cores, +0.4–0.8 s —
    * the membership table is byte-tiny but its join output fans out
    * ~cell-size× per row, so full cluster width is always warranted).
    * What the pair volume buys is the other direction: at the sf10
    * decade the session-constant layout concentrated 16× the per-task
    * pair work that sf1 had — the measured source of s17's
    * super-linear wall — and this EXCEEDS the width exactly when the
    * counted pair volume demands it.
    */
  def pairVolumePartitions(spark: org.apache.spark.sql.SparkSession,
      pairVolume: Long): Int = {
    val width = spark.sessionState.conf.numShufflePartitions
    val want = (pairVolume.max(0L) + PairsPerTask - 1) / PairsPerTask
    math.max(width.toLong, math.min(width.toLong * 16, want)).toInt
  }

  /** Per-vector capped top-k neighbors over corpus-scaled IVF cells —
    * the bounded-block scale path past [[blockTopKNeighbors]]'s exact
    * label-blocked contract (whose blocks are LABELS and grow linearly
    * with the corpus, so its within-block work is quadratic by
    * contract — the honest constraint its budget guard enforces).
    *
    * Shape: (1) assign every vector to its `nprobe` closest cells
    * ([[ivfProbeAssignments]] — n×K scoring, O(n·nprobe) shuffle);
    * (2) SYMMETRIC probe-intersect candidate generation: equi-join
    * probe memberships against probe memberships on cell_id, so a
    * pair is a candidate iff the two probe sets share a cell. (The
    * cheaper probe-vs-primary form was measured and rejected: on the
    * driver's gaussian-blob embeddings a blob straddling several
    * cells leaves two members' (probe, primary) combinations
    * uncovered — recall 0.46 at nprobe=2 / 0.73 at 4, vs 0.998 for
    * the symmetric form at 4, on sf0.1: BENCHNOTES "r15: s17
    * bounded-cell top-k", measured with CellRecallProbe, in
    * `git show 78c14b7:src/main/scala/graft/tools/CellRecallProbe.scala`.) A
    * pair can share up to nprobe cells, so the per-vector heap keeps
    * k·nprobe entries and the post-merge dedup slices the true
    * top-k — the [[lshTopKNeighbors]] containment argument verbatim:
    * candidate entries strictly better than the true i-th (i ≤ k)
    * number < i·nprobe ≤ k·nprobe, so it always survives the heap.
    * (3) The quantized-cosine stream folds straight into TopKAgg
    * partial aggregation, so the candidate stream never crosses the
    * network and the agg shuffle carries O(n·k·nprobe).
    *
    * Scale law: with K scaled to hold cell size ~c constant (the d17
    * constant-cell-size discipline; s17 uses K = max(8, n/500) — the
    * measured sf1 knee where recall is still 0.997 but the nprobe²·c
    * constant is 5x below d17's 2500-row cells), total candidate work
    * is Σ_cells members(cell)² ≈ n·nprobe²·c — LINEAR in the corpus,
    * the property the r14 sf10 decade showed label blocking cannot
    * have. The n×K assignment pass is itself n²/c with K ∝ n — at
    * extreme scale swap in a hierarchical / k-means-tree assignment
    * (d17's documented caveat; changes cell quality, not this shape).
    * The build side broadcasts under [[MaxBroadcastBlockBytes]] so
    * pair generation stays in one codegen stage, degrading to the
    * cell-keyed shuffle join past it; [[requireBoundedCells]] refuses
    * degenerate assignments instead of silently running the quadratic
    * cell.
    *
    * Recall contract (the d9 discipline — declared, then measured): a
    * true neighbor is found iff the two probe sets intersect. The
    * measured floor against exact all-pairs ground truth is asserted
    * in SimilaritySpec on the bounded-cluster generator and recorded
    * in BENCHNOTES for the driver's tables. Everything is
    * deterministic integer arithmetic, so a SQL oracle replays
    * assignment, probe expansion, and ranking exactly.
    * Output: (a_id, rk ∈ 1..k, b_id, cos_bp), cos_bp ≥ minCosBp.
    */
  def cellTopKNeighbors(emb: DataFrame, k: Int, minCosBp: Int,
      centroidIds: Seq[Long], nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCellRows: Long = 100000L,
      broadcastMembers: Option[Boolean] = None,
      hierCoarseProbe: Option[Int] = None,
      int8Members: Boolean = false): DataFrame = {
    val reg = registered(emb)
    // n·nprobe rows, reused by both join sides and the guard —
    // checkpointed so the n×K scoring pass runs once. The assignment
    // strategy is a knob: flat (default, n×K scoring — exact argmax)
    // or hierarchical ([[ivfProbeAssignmentsHier]], O(n·√K) — the
    // ~sf30 path once K is corpus-scaled and the assignment pass,
    // not the candidate join, dominates; coarseProbe = √K degrades
    // bit-exactly to flat, the dial-exactness-back-in safety rail).
    // LAZY checkpoint (r17 optimization round): the bounded-cell
    // guard's aggregate below materializes it — one job instead of an
    // eager materialization pass plus the guard, i.e. one fewer full
    // pass over the n×K scoring output
    val probes = (hierCoarseProbe match {
      case Some(cp) =>
        ivfProbeAssignmentsHier(reg, centroidIds, nprobe, cp, idCol, vecCol)
      case None => ivfProbeAssignments(reg, centroidIds, nprobe, idCol, vecCol)
    }).localCheckpoint(false)
    val (totalMembers, pairVolume) =
      requireBoundedCellsStats(probes, maxCellRows)
    // int8Members: the broadcast-regime extension (r16 verdict stretch
    // item). Memberships carry the s9 symmetric per-vector int8 pack
    // as a d-BYTE binary instead of the d-FLOAT array — ~(80+d) vs
    // (80+4d) bytes per row, which moves MaxBroadcastBlockBytes ~3-4×
    // further out in corpus size before the 1.24×-slower shuffle-hash
    // fallback regime begins. The per-vector scales cancel exactly in
    // the cosine, so no scale column travels; what changes is the GRID
    // — cos_bp becomes the int8-grid cosine, so rankings can shift
    // within the quantization error. Declared queries stay on the
    // float grid; this is the serving-layer compaction knob,
    // recall-measured in SimilaritySpec/BENCHNOTES r17.
    val withNorm =
      if (int8Members)
        reg.select(col(idCol), expr(s"int8pack($vecCol)").as(vecCol))
          .withColumn("n2", expr(s"qdot8($vecCol, $vecCol)"))
      else reg.select(col(idCol), col(vecCol))
        .withColumn("n2", qnorm2(vecCol))
    // membership-with-vector table, materialized ONCE; both join
    // sides read it. The explicit repartition matters: the join
    // output fans out ~cell-size× per stream row, so the stream
    // side's partition count comes from the PAIR volume the guard
    // just counted ([[pairVolumePartitions]], r18 — wired; r17 left
    // it at the session constant, the measured source of s17's
    // super-linear sf10 wall), not the input bytes — without an
    // explicit repartition a small parquet input arrives as one
    // split, the checkpoint preserves it, and the whole candidate
    // join runs on one core (measured r15: 94 s vs 7 s at sf1).
    // round-robin repartition for balance, then SORT by cell within
    // each partition for probe locality: the build relation's bucket
    // for one cell is ~cell·rowWidth bytes, far larger than cache at
    // scale, but a cell-sorted stream probes the same bucket in long
    // consecutive runs (n/partitions per cell), so it is loaded once
    // per run instead of once per pair — the difference between
    // bandwidth-bound and cache-resident when the broadcast outgrows
    // LLC.
    val mem = probes.select(col(idCol), col("cell_id"))
      .join(withNorm, Seq(idCol))
      .repartition(pairVolumePartitions(emb.sparkSession, pairVolume))
      .sortWithinPartitions(col("cell_id"))
      .localCheckpoint(true)
    val a = mem.select(col("cell_id"), col(idCol).as("a_id"),
      col(vecCol).as("a_vec"), col("n2").as("a_n2"))
    val b0 = mem.select(col("cell_id"), col(idCol).as("b_id"),
      col(vecCol).as("b_vec"), col("n2").as("b_n2"))
    // Same gate as blockTopKNeighbors, but sized from COUNTED rows ×
    // schema row width, not plan stats: a checkpointed LogicalRDD
    // reports defaultSizeInBytes (Long.MaxValue), which silently
    // rejected the broadcast at EVERY scale and left the cell join a
    // sort-merge (measured r15: ~8M pairs/s vs ~30M for the
    // broadcast-hash form). Broadcasting the build side keeps pair
    // generation inside one codegen stage; past the budget the
    // cell-keyed shuffle join takes over automatically.
    val dim = reg.select(size(col(vecCol))).first().getInt(0)
    // int8 rows carry d BYTES of vector, float rows 4d — the 4× vector
    // shrink is what extends the broadcast regime
    val memBytes = totalMembers * (80L + (if (int8Members) 1L else 4L) * dim)
    val doBroadcast = broadcastMembers.getOrElse(
      memBytes <= MaxBroadcastBlockBytes)
    val b = if (doBroadcast) broadcast(b0) else b0.hint("SHUFFLE_HASH")
    val topkF = graft.functions.TopKAgg.topK(k * nprobe)
    a.join(b, Seq("cell_id"))
      .where(col("a_id") =!= col("b_id"))
      .withColumn("dot",
        if (int8Members) expr("qdot8(a_vec, b_vec)") else qdot("a_vec", "b_vec"))
      .withColumn("cos_bp", expr(
        "CAST(floor(10000.0 * CAST(dot AS DOUBLE) / (sqrt(CAST(a_n2 AS DOUBLE)) * sqrt(CAST(b_n2 AS DOUBLE)))) AS BIGINT)"))
      .where(col("cos_bp") >= minCosBp)
      .groupBy(col("a_id"))
      .agg(topkF(col("cos_bp"), col("b_id")).getField("rows").as("tk"))
      .select(col("a_id"),
        posexplode(expr(
          s"""slice(array_sort(array_distinct(tk),
             |  (l, r) -> CASE WHEN l.score > r.score THEN -1
             |                 WHEN l.score < r.score THEN 1
             |                 WHEN l.id < r.id THEN -1
             |                 WHEN l.id > r.id THEN 1 ELSE 0 END),
             |  1, $k)""".stripMargin)))
      .select(col("a_id"), (col("pos") + 1).cast("long").as("rk"),
        col("col").getField("id").as("b_id"),
        col("col").getField("score").as("cos_bp"))
  }

  /** Probe-intersect above-threshold cosine EDGES over corpus-scaled
    * IVF cells — the edge-generation sibling of [[cellTopKNeighbors]]
    * (same assignment law, same symmetric nprobe candidate contract,
    * same bounded-cell guard and counted broadcast gate), emitting
    * the distinct canonical (a_id < b_id, cos_bp ≥ threshold) pair
    * set instead of per-vector top-k. This is the scale-path edge
    * input for embedding dup CLUSTERING (d27): candidate work is
    * Σ members(cell)² ≈ n·nprobe²·cellsize — linear with
    * corpus-scaled K — where [[blockedCosinePairs]]' label blocks
    * grow with the corpus and its pair volume is quadratic by
    * contract (the d12 audit form). Deterministic end to end: the
    * integer probe law + exact quantized cosine make the edge set a
    * pure function of the corpus, so a SQL oracle replays it (unlike
    * an LSH candidate set, whose misses are probabilistic).
    */
  def cellCosinePairs(emb: DataFrame, minCosBp: Int,
      centroidIds: Seq[Long], nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCellRows: Long = 100000L,
      broadcastMembers: Option[Boolean] = None,
      hierCoarseProbe: Option[Int] = None): DataFrame = {
    val reg = registered(emb)
    // same assignment-strategy knob as cellTopKNeighbors: flat n×K
    // (default) or hierarchical O(n·√K) when the assignment pass is
    // the bottleneck
    // LAZY checkpoint, materialized by the bounded-cell guard's
    // aggregate — one job instead of two, mirroring cellTopKNeighbors
    // (r18; this site was left eager in r17)
    val probes = (hierCoarseProbe match {
      case Some(cp) =>
        ivfProbeAssignmentsHier(reg, centroidIds, nprobe, cp, idCol, vecCol)
      case None => ivfProbeAssignments(reg, centroidIds, nprobe, idCol, vecCol)
    }).localCheckpoint(false)
    val (totalMembers, pairVolume) =
      requireBoundedCellsStats(probes, maxCellRows)
    val withNorm = reg.select(col(idCol), col(vecCol))
      .withColumn("n2", qnorm2(vecCol))
    // same materialize-once membership discipline as
    // cellTopKNeighbors: pair-volume-derived partition count
    // ([[pairVolumePartitions]], wired r18), cell-sorted for probe
    // locality
    val mem = probes.select(col(idCol), col("cell_id"))
      .join(withNorm, Seq(idCol))
      .repartition(pairVolumePartitions(emb.sparkSession, pairVolume))
      .sortWithinPartitions(col("cell_id"))
      .localCheckpoint(true)
    val a = mem.select(col("cell_id"), col(idCol).as("a_id"),
      col(vecCol).as("a_vec"), col("n2").as("a_n2"))
    val b0 = mem.select(col("cell_id"), col(idCol).as("b_id"),
      col(vecCol).as("b_vec"), col("n2").as("b_n2"))
    val dim = reg.select(size(col(vecCol))).first().getInt(0)
    val memBytes = totalMembers * (80L + 4L * dim)
    val doBroadcast = broadcastMembers.getOrElse(
      memBytes <= MaxBroadcastBlockBytes)
    val b = if (doBroadcast) broadcast(b0) else b0.hint("SHUFFLE_HASH")
    a.join(b, Seq("cell_id"))
      .where(col("a_id") < col("b_id"))
      .withColumn("dot", qdot("a_vec", "b_vec"))
      .withColumn("cos_bp", expr(
        "CAST(floor(10000.0 * CAST(dot AS DOUBLE) / (sqrt(CAST(a_n2 AS DOUBLE)) * sqrt(CAST(b_n2 AS DOUBLE)))) AS BIGINT)"))
      .where(col("cos_bp") >= minCosBp)
      // a pair surviving the threshold may share up to nprobe cells
      .select(col("a_id"), col("b_id"), col("cos_bp"))
      .distinct()
  }

  /** Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein
    * 1998): greedily pick `k` results that balance relevance to the
    * query against redundancy with what is already picked —
    * `argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)` — the standard
    * diversification rerank for retrieval-augmented pipelines.
    *
    * Execution split, stated precisely because a greedy chain is
    * inherently sequential: the DATA-plane work — scoring all n
    * vectors against the query and taking the top-`pool` candidates
    * (TakeOrdered), then the pool² candidate-pair cosine matrix — is
    * distributed; the greedy selection itself runs on the DRIVER over
    * the collected pool (pool + pool² control-plane rows, ≤ ~2.5k
    * values at pool=50 — same class as Overlap's ≤|sources| collect).
    * At 100 TB the pool stays a constant-size rerank window while the
    * candidate scoring scales out, which is exactly how production
    * MMR is deployed (ANN recall stage → bounded rerank).
    *
    * Numerics: relevance and pairwise similarity are cosine in
    * integer BASIS POINTS over the ×1000-quantized grid ([[qdot]] +
    * the blockedCosinePairs formula), and λ rides as the integer
    * split `lambda10`/`10 − lambda10` (score ×10), so every
    * comparison is integer and the greedy order is engine-exact —
    * the DuckDB oracle replays the whole chain as a recursive CTE
    * carrying the chosen list. Ties: lowest id wins at every step.
    * Output: (sel_rank, vec_id, rel_bp, mmr10), sel_rank 1..k.
    */
  def mmrDiverseTopK(emb: DataFrame, queryId: Long = 0L, k: Int = 10,
      pool: Int = 50, lambda10: Int = 7,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // The driver-side greedy collects pool + pool² rows — that is the
    // operator's CONTRACT (a constant-size rerank window over a
    // distributed recall stage), and this guard is what keeps it one:
    // a caller passing a corpus-sized pool must fail loudly here, not
    // OOM the driver collecting an n² similarity matrix.
    require(pool >= 1 && pool <= MaxMmrPool,
      s"mmrDiverseTopK pool=$pool out of range [1, $MaxMmrPool]: the " +
        "greedy rerank collects pool^2 pairwise sims to the driver, so " +
        "the pool must stay a bounded rerank window — raise the recall " +
        "stage's selectivity, not the pool")
    require(lambda10 >= 0 && lambda10 <= 10,
      s"lambda10=$lambda10 must be an integer tenth in [0, 10]")
    val spark = emb.sparkSession
    val reg = registered(emb)
    val q = reg.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv"), qnorm2(vecCol).as("qn2"))
    val cands = reg.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("n2", qnorm2(vecCol))
      .withColumn("dot", qdot(vecCol, "qv"))
      .withColumn("rel_bp", expr(
        "CAST(floor(10000.0 * CAST(dot AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))) AS BIGINT)"))
      .orderBy(col("rel_bp").desc, col(idCol))
      .limit(pool)
      .select(col(idCol), col(vecCol), col("n2"), col("rel_bp"))
      .localCheckpoint(true) // pool rows; reused by both sides of the pair matrix
    val a = cands.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"),
      col("n2").as("a_n2"))
    val b = cands.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"),
      col("n2").as("b_n2"))
    val sims = a.crossJoin(b).where(col("a_id") =!= col("b_id"))
      .withColumn("dot", qdot("a_vec", "b_vec"))
      .withColumn("sim_bp", expr(
        "CAST(floor(10000.0 * CAST(dot AS DOUBLE) / (sqrt(CAST(a_n2 AS DOUBLE)) * sqrt(CAST(b_n2 AS DOUBLE)))) AS BIGINT)"))
      .select("a_id", "b_id", "sim_bp")
    // control-plane greedy: pool relevance rows + pool² sims
    val rel = cands.select(col(idCol), col("rel_bp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy { case (id, rb) => (-rb, id) }
    val simMap = sims.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lam = lambda10.toLong
    val sel = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val chosen = scala.collection.mutable.ArrayBuffer[Long]()
    while (sel.length < math.min(k, rel.length)) {
      val best = rel.iterator.filterNot(c => chosen.contains(c._1)).map {
        case (id, rb) =>
          val pen = if (chosen.isEmpty) 0L
            else chosen.map(s => simMap((id, s))).max
          (id, rb, lam * rb - (10L - lam) * pen)
      }.reduceLeft((x, y) => if (y._3 > x._3 || (y._3 == x._3 && y._1 < x._1)) y else x)
      sel += ((sel.length + 1L, best._1, best._2, best._3))
      chosen += best._1
    }
    import spark.implicits._
    sel.toSeq.toDF("sel_rank", "vec_id", "rel_bp", "mmr10")
  }
}
