package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Deduplication operators for LLM training-data pipelines. Every
  * near-dup variant is bucketed (band-hash or inverted-index joins),
  * never all-pairs: at 100 TB an O(n²) candidate generation is fatal,
  * so candidates only form inside shared buckets whose size is bounded
  * by construction (LSH bands) or by an explicit document-frequency
  * cut (shingle index).
  */
object Dedup {

  /** Exact dedup groups keyed by content hash: one surviving doc_id
    * (min) per distinct text plus multiplicity. Single hash-shuffle on
    * the 128-bit fingerprint — the canonical exact-dedup shape.
    */
  def exactGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.withColumn("fp", md5(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Budget guard for DECLARED-quadratic block joins (d13's dense
    * edit-distance block contract is the canonical case): computes
    * Σ_blocks n·(n-1)/2 — the exact candidate-pair count the block
    * equi-join will materialize — and refuses to build the plan past
    * `maxBlockPairs`. The audit is one summary aggregate over the
    * block keys (a scan + key-bounded shuffle; control-plane cost next
    * to the DP stage it guards), so a 100 TB caller gets a loud
    * contract error naming the declared scale path instead of a
    * silently quadratic stage. Same promotion-to-code discipline as
    * Similarity's MaxMmrPool and ChunkedWindow's broadcast-cell budget.
    */
  def requireBlockPairBudget(blocked: DataFrame, blockCols: Seq[String],
      maxBlockPairs: Long, scalePath: String): Unit = {
    val row = blocked.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).cast("long"))
      .collect()(0)
    val total = row.getLong(0)
    require(total <= maxBlockPairs,
      s"blocked join over (${blockCols.mkString(", ")}) would " +
        s"materialize $total candidate pairs — past the declared " +
        s"quadratic-in-block budget of $maxBlockPairs. This operator " +
        s"is the exact-audit form; at scale use $scalePath.")
  }

  /** Per-doc MinHash signature + LSH band keys.
    *
    * Shape: explode shingles → `perms` codegen'd xxhash64 projections →
    * groupBy(doc) with min aggregates. The hash computation stays inside
    * WholeStageCodegen (higher-order-function folds are interpreted and
    * measured ~10× slower), and the aggregation's map-side partial min
    * shrinks the shuffle to `perms` longs per doc — the shape that
    * holds at 100 TB.
    */
  def minhashSignatures(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", perms: Int = 64, shingleK: Int = 7,
      bands: Int = 8): DataFrame = {
    val exploded = docs.select(col(idCol),
      explode(TextOps.shingles(textCol, shingleK)).as("g"))
    val mins = (0 until perms).map(j => min(xxhash64(col("g"), lit(j))).as(s"mh_$j"))
    exploded.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .withColumn("sig", array((0 until perms).map(j => col(s"mh_$j")): _*))
      .withColumn("bands", TextOps.bandKeys("sig", bands, perms / bands))
      .select(col(idCol), col("sig"), col("bands"))
  }

  /** MinHash/LSH near-dup candidate pairs with estimated Jaccard ≥
    * `minEst`. Candidates come ONLY from band-bucket self-joins (docs
    * sharing at least one band hash); the estimated similarity is then
    * exact arithmetic on the signatures (k agreeing / perms).
    */
  /** Band sizing note: with bands of r rows, a pair sharing estimated
    * Jaccard s collides on a band with probability s^r. The corpus here
    * has high *background* similarity (shared vocabulary), so r must be
    * large enough that random pairs (s≈0.3-0.5) almost never collide
    * while near-dups (s≥0.8) almost always do: r=8 ⇒ 0.4^8≈7e-4 vs
    * 0.9^8≈0.43 per band (×8 bands ⇒ 99% recall). r=4 was measured to
    * generate ~40% of ALL pairs as candidates on this corpus — an
    * accidental all-pairs.
    */
  /** One point of the LSH S-curve: the probability that a pair with
    * Jaccard `s` collides in at least one of `b` bands of `r` rows,
    * 1 − (1 − s^r)^b (Mining of Massive Datasets §3.4).
    */
  def lshCollisionProb(s: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Auto-tune the (bands, rows) factorization of a `perms`-hash
    * signature for a target Jaccard `threshold` — the band-sizing
    * reasoning above as an algorithm instead of a hand calculation.
    * Enumerates every b·r = perms and picks the plan minimizing the
    * integrated S-curve error against the ideal step at `threshold`:
    * the false-positive area ∫₀ᵗ p(s)ds (random pairs that collide —
    * the "accidental all-pairs" failure mode) plus the false-negative
    * area ∫ₜ¹ (1 − p(s))ds (near-dups missed), FP side scaled by
    * `fpWeight` (default 1 — the symmetric integrated error; raise it
    * when the corpus pair count makes candidate volume the binding
    * cost, which slides the plan toward more rows per band).
    * Driver-side closed-form math over ≤ d(perms) plans — control
    * plane; the resulting plan feeds [[minhashSignatures]] unchanged.
    * For perms = 64 at threshold 0.7 this recovers the measured-good
    * r = 8, b = 8 split documented above (its S-curve midpoint
    * (1/8)^(1/8) ≈ 0.77).
    */
  def lshPlan(perms: Int, threshold: Double,
      fpWeight: Double = 1.0): (Int, Int) = {
    require(perms > 0 && threshold > 0 && threshold < 1)
    val plans = (1 to perms).filter(perms % _ == 0)
      .map(r => (perms / r, r)) // (bands, rows)
    def err(b: Int, r: Int): Double = {
      val n = 1000
      val h = 1.0 / n
      (0 until n).map { i =>
        val s = (i + 0.5) * h
        val p = lshCollisionProb(s, b, r)
        if (s < threshold) fpWeight * p * h else (1.0 - p) * h
      }.sum
    }
    plans.minBy { case (b, r) => err(b, r) }
  }

  def minhashPairs(docs: DataFrame, minEst: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id",
      perms: Int = 64): DataFrame = {
    // Materialize signatures once: the explode + self-join otherwise
    // re-inlines the signature expressions into every band branch —
    // measured ~10× slowdown. At production scale this intermediate is
    // a persisted signature table.
    val sigs = minhashSignatures(docs, textCol, idCol, perms).localCheckpoint(true)
    val banded = sigs
      .select(col(idCol), col("sig"), explode(col("bands")).as("b"))
      .select(col(idCol), col("sig"),
        col("b.band").as("band"), col("b.bh").as("bh"))
    val a = banded.select(col(idCol).as("a_id"), col("sig").as("a_sig"),
      col("band"), col("bh"))
    val b = banded.select(col(idCol).as("b_id"), col("sig").as("b_sig"),
      col("band"), col("bh"))
    a.join(b, Seq("band", "bh"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_sig", "b_sig")
      .dropDuplicates("a_id", "b_id")
      .withColumn("est_jaccard", TextOps.estJaccard("a_sig", "b_sig", perms))
      .where(col("est_jaccard") >= minEst)
      .select("a_id", "b_id", "est_jaccard")
  }

  /** Signature-estimated CONTAINMENT pairs — the batch mirror of
    * `DocStream.containmentCandidates` (StreamingSpec pins stream ==
    * batch within one horizon). Same band-bucket candidate join as
    * [[minhashPairs]], but the final ratio is Broder's containment
    * estimated from the signature Jaccard plus exact distinct-shingle
    * sizes via |A∩B| = J·(|A|+|B|)/(1+J):
    *
    *   ĉ = Ĵ·(a_sz + b_sz) / ((1 + Ĵ)·min(a_sz, b_sz))
    *
    * The sizes ride the SAME groupBy that builds the signatures
    * ([[TextOps.shingles]] is distinct-by-construction, so the plain
    * group count IS the distinct-shingle size) — no extra shuffle over
    * [[minhashPairs]]. Recall caveat (same as the stream): banding
    * recalls pairs by their JACCARD, so this covers the
    * moderate-asymmetry containment regime (J ≳ 0.7); extreme subset
    * pairs (J ≈ 0) need the exact inverted-index path
    * ([[containmentPairs]], d18). Exact-path parity: on A ⊆ B pairs
    * the estimator is exact when Ĵ = J, since
    * J(a+b)/((1+J)·a) = 1 for J = a/b.
    */
  def minhashContainmentPairs(docs: DataFrame, minEst: Double = 0.9,
      minSize: Int = 16, textCol: String = "text", idCol: String = "doc_id",
      perms: Int = 64, shingleK: Int = 7, bands: Int = 8): DataFrame = {
    val exploded = docs.select(col(idCol),
      explode(TextOps.shingles(textCol, shingleK)).as("g"))
    val mins = (0 until perms).map(j => min(xxhash64(col("g"), lit(j))).as(s"mh_$j"))
    val aggs = mins :+ count(lit(1)).as("sz")
    val sigs = exploded.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("sig", array((0 until perms).map(j => col(s"mh_$j")): _*))
      .withColumn("bands", TextOps.bandKeys("sig", bands, perms / bands))
      .select(col(idCol), col("sig"), col("sz"), col("bands"))
      .localCheckpoint(true)
    val banded = sigs
      .select(col(idCol), col("sig"), col("sz"), explode(col("bands")).as("b"))
      .select(col(idCol), col("sig"), col("sz"),
        col("b.band").as("band"), col("b.bh").as("bh"))
    val a = banded.select(col(idCol).as("a_id"), col("sig").as("a_sig"),
      col("sz").as("a_sz"), col("band"), col("bh"))
    val b = banded.select(col(idCol).as("b_id"), col("sig").as("b_sig"),
      col("sz").as("b_sz"), col("band"), col("bh"))
    a.join(b, Seq("band", "bh"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_sig", "b_sig", "a_sz", "b_sz")
      .dropDuplicates("a_id", "b_id")
      .withColumn("est_jaccard", TextOps.estJaccard("a_sig", "b_sig", perms))
      .withColumn("est_containment", least(lit(1.0),
        col("est_jaccard") * (col("a_sz") + col("b_sz")) /
          ((lit(1.0) + col("est_jaccard")) * least(col("a_sz"), col("b_sz")))))
      .where(col("est_containment") >= minEst &&
        least(col("a_sz"), col("b_sz")) >= minSize)
      .select("a_id", "b_id", "a_sz", "b_sz", "est_containment")
  }

  /** Recall audit of the MinHash/LSH candidate generator against the
    * exact inverted-index ground truth: every exact near-dup pair
    * (Jaccard ≥ `minJaccard` over kept shingles, with BOTH kept-set
    * sizes ≥ `minSz`) is emitted with a `recalled` flag marking whether
    * the LSH path found it.
    *
    * The `minSz` floor is load-bearing: the document-frequency cut
    * shrinks kept-shingle sets, and a pair sharing only a handful of
    * rare shingles can score kept-Jaccard 1.0 while the full texts are
    * unrelated — those artifacts are exactly the pairs banding is
    * ALLOWED to miss. Pairs with substantial rare-content overlap
    * (≥ minSz kept shingles) at Jaccard ≥ 0.8 collide in an 8×8 band
    * scheme with probability ≥ 1-(1-0.8^8)^8 ≈ 77% per the band bound
    * and ≈ 100% empirically on this corpus (true near-dups sit at
    * J ≈ 0.9-1.0, where the bound is ≥ 99%). The oracle asserts
    * `recalled = TRUE` for every row — a hash-checked recall contract.
    */
  def minhashRecall(docs: DataFrame, minJaccard: Double = 0.8,
      minSz: Int = 16, maxDf: Int = 50, minEst: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    minhashRecallFrom(
      ngramJaccardPairs(docs, minJaccard, maxDf, textCol, idCol)
        .where(least(col("a_sz"), col("b_sz")) >= minSz),
      minhashPairs(docs, minEst, textCol, idCol))

  /** Recall audit over PRE-BUILT exact and candidate pair sets — the
    * form the declared queries use so the expensive inputs (inverted
    * index, signature table) are shared with the queries that already
    * build them, instead of recomputed per audit.
    */
  def minhashRecallFrom(exact: DataFrame, cand: DataFrame): DataFrame =
    exact.join(
        cand.select(col("a_id").as("ca"), col("b_id").as("cb")),
        col("a_id") === col("ca") && col("b_id") === col("cb"), "left")
      .withColumn("recalled", col("ca").isNotNull)
      .select("a_id", "b_id", "common", "a_sz", "b_sz", "jaccard", "recalled")

  /** Per-doc 64-bit SimHash + 16-bit blocking bands.
    *
    * Same explode→codegen→aggregate shape as minhashSignatures: one
    * token-hash column, 64 conditional-sum vote aggregates (map-side
    * combined), sign → bit reassembly after the groupBy. Docs with zero
    * tokens keep an all-zero simhash via explode_outer.
    */
  def simhashes(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val tokens = docs.select(col(idCol),
      explode_outer(expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")).as("t"))
      .withColumn("h", when(col("t").isNotNull, xxhash64(col("t"))))
    val votes = (0 until 64).map { b =>
      sum(when(col("h").isNull, 0)
        .when(expr(s"(shiftright(h, $b) & 1) = 1"), 1)
        .otherwise(-1)).as(s"v_$b")
    }
    val bits = (0 until 64)
      .map(b => s"IF(v_$b > 0, shiftleft(CAST(1 AS BIGINT), $b), CAST(0 AS BIGINT))")
    val base = tokens.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .withColumn("simhash", expr(bits.mkString("(", " + ", ")")))
    TextOps.simhashBands("simhash").foldLeft(base) {
      case (df, (name, c)) => df.withColumn(name, c)
    }.select(col(idCol) +: col("simhash") +:
      TextOps.simhashBands("simhash").map(b => col(b._1)): _*)
  }

  /** SimHash near-dup pairs: candidates share at least one 16-bit band
    * (pigeonhole: hamming ≤ 3 over 64 bits ⇒ some band equal), then
    * exact hamming distance filter via bit_count(xor).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    // Materialized for the same re-inlining reason as minhashPairs.
    simhashPairsFrom(simhashes(docs, textCol, idCol).localCheckpoint(true),
      maxHamming, idCol)

  /** Band-blocked hamming pairs over a PRE-BUILT signature table
    * (columns: id, simhash, band_0..band_3). Taking the signatures as
    * input makes the pair machinery independently checkable: the
    * declared query (d8) exports the signature table to parquet and
    * the DuckDB oracle recomputes this exact band-join + bit_count
    * filter from the same file — a hash-checked contract of the
    * blocking and distance logic. (At production scale the signature
    * table is persisted anyway; pair generation always reads it back.)
    */
  def simhashPairsFrom(sh: DataFrame, maxHamming: Int = 16,
      idCol: String = "doc_id"): DataFrame = {
    val banded = sh.select(col(idCol), col("simhash"),
      explode(expr("array(named_struct('band', 0, 'bv', band_0), named_struct('band', 1, 'bv', band_1), named_struct('band', 2, 'bv', band_2), named_struct('band', 3, 'bv', band_3))")).as("b"))
      .select(col(idCol), col("simhash"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    val a = banded.select(col(idCol).as("a_id"), col("simhash").as("a_sh"),
      col("band"), col("bv"))
    val b = banded.select(col(idCol).as("b_id"), col("simhash").as("b_sh"),
      col("band"), col("bv"))
    // Order matters at scale: bit_count is a codegen'd per-row op while
    // dropDuplicates is a full shuffle of the candidate stream, so the
    // hamming filter runs FIRST (sf1: 23.6M band-join candidates, the
    // pre-filter dedup shuffle dominated the query; filtering first
    // dedups only the output-sized survivor set). A pair sharing k>1
    // bands passes/fails the filter identically k times, so the swap
    // cannot change the emitted set.
    a.join(b, Seq("band", "bv"))
      .where(col("a_id") < col("b_id"))
      .withColumn("hamming", expr("CAST(bit_count(a_sh ^ b_sh) AS INT)"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("a_id", "b_id")
      .select("a_id", "b_id", "hamming")
  }

  /** Exact (df-filtered) n-gram Jaccard pairs via an inverted shingle
    * index: explode distinct shingles, drop shingles appearing in more
    * than `maxDf` docs (the skew/blowup guard — a stop-shingle in every
    * doc would otherwise make the self-join quadratic), self-join on
    * shingle, count common per pair, Jaccard over the kept-shingle set
    * sizes. Integer arithmetic → double at the end (engine-portable).
    */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double = 0.6,
      maxDf: Int = 50, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    ngramJaccardPairsFromKept(
      keptShingles(docs, maxDf, textCol, idCol), minJaccard, idCol)

  /** The df-filtered (doc, shingle) inverted index feeding
    * [[ngramJaccardPairsFromKept]]. Separated so the index can be
    * PERSISTED BUCKETED by the shingle key (`bucketBy(n, "g")`): the
    * pair self-join below joins on "g" from both sides, so a bucketed
    * index makes that join exchange-free on warm paths — ScaleSpec
    * proves the plan. At 100 TB the index is the expensive artifact;
    * building it once bucketed and re-joining it many times is the
    * production layout.
    */
  def keptShingles(docs: DataFrame, maxDf: Int = 50,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = docs
      .withColumn("g", explode(TextOps.shingles(textCol)))
      .select(col(idCol), col("g"))
    // Document frequency via groupBy, NOT a window partitioned by "g":
    // the window would shuffle + sort every (doc, shingle) row by
    // shingle — with exactly the hot-shingle skew the df-cut guards
    // against — whereas groupBy's map-side partial aggregation shrinks
    // the shuffle to one row per distinct shingle. The semi-join back
    // against sh shuffles on "g", the same key the pair self-join below
    // needs anyway. (The df map is NOT broadcast: rare shingles dominate
    // the post-cut vocabulary, so at scale it is far too large.)
    val dfMap = sh.groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
      .select("g")
    sh.join(dfMap, Seq("g"), "left_semi")
      .select(col(idCol), col("g"))
  }

  /** [[keptShingles]] with a RELATIVE document-frequency cut:
    * df ≤ max(`minCut`, N/`divisor`) where N is the corpus size. The
    * absolute-cut form's survivor set DEGENERATES as the corpus grows —
    * measured on the round-11 sf1 extrapolation, a fixed df ≤ 50 keeps
    * 0.37% of shingle instances at sf0.1 and exactly ZERO at 10× that,
    * silently turning the clustering into a scan — while the relative
    * cut keeps the survivor semantics stable at every corpus size.
    * N enters as a 1-row count aggregate broadcast into the df filter
    * (the dispositioned 1-row-funnel pattern), never a driver action.
    *
    * r14 scale finding (measured on the Heaps-law generator, where the
    * gram df distribution is realistic): stability of SEMANTICS is not
    * stability of COST. A kept gram may hold up to N/divisor documents
    * → (N/divisor)²/2 candidate pairs per gram, so the downstream pair
    * join's candidate volume is quadratic — ×122.7/decade measured
    * (2.27e8 at sf1 → 2.79e10 at sf10; the sf10 run OOM-killed the
    * 32-core JVM before this guard existed). The absolute and relative
    * cuts therefore fail at scale in OPPOSITE directions (zero
    * survivors vs quadratic candidates); the production-scale paths
    * are the sketch family (minhashPairs → duplicateClustersLogN,
    * d7/d11) and the prefix-filtered PPJoin (d24). This form is the
    * exact-audit sibling and — like d13's DP block and s4's label
    * block — now refuses past an explicit candidate budget. The audit
    * rides the df aggregate the cut already computes (checkpointed:
    * the gram domain is alphabet-bounded, always control-plane sized).
    */
  def keptShinglesRelative(docs: DataFrame, divisor: Long = 100,
      minCut: Long = 50, textCol: String = "text",
      idCol: String = "doc_id",
      maxBlockPairs: Long = 500000000L): DataFrame = {
    val sh = docs
      .withColumn("g", explode(TextOps.shingles(textCol)))
      .select(col(idCol), col("g"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val dfMap = sh.groupBy("g").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .where(col("df") <= expr(s"greatest(${minCut}L, n_docs div $divisor)"))
      .select("g", "df")
      .localCheckpoint()
    val blockPairs = dfMap
      .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)).cast("long"))
      .collect()(0).getLong(0)
    require(blockPairs <= maxBlockPairs,
      s"relative df-cut (df <= max($minCut, N div $divisor)) keeps " +
        s"$blockPairs candidate pairs — past the declared budget of " +
        s"$maxBlockPairs. The relative cut's candidate volume is " +
        "quadratic in corpus size; at scale use minhashPairs → " +
        "duplicateClustersLogN (d7/d11) or ppjoinPairs (d24).")
    sh.join(dfMap.select("g"), Seq("g"), "left_semi")
      .select(col(idCol), col("g"))
  }

  /** Exact Jaccard pairs over a pre-built kept-shingle index (possibly
    * read back from a bucketed table — see [[keptShingles]]).
    */
  def ngramJaccardPairsFromKept(kept: DataFrame, minJaccard: Double = 0.6,
      idCol: String = "doc_id"): DataFrame = {
    val sizes = kept.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val a = kept.select(col(idCol).as("a_id"), col("g"))
    val b = kept.select(col(idCol).as("b_id"), col("g"))
    a.join(b, Seq("g"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col(idCol).as("a_id"), col("sz").as("a_sz")), Seq("a_id"))
      .join(sizes.select(col(idCol).as("b_id"), col("sz").as("b_sz")), Seq("b_id"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("a_sz") + col("b_sz") - col("common")))
      .where(col("jaccard") >= minJaccard)
      .select("a_id", "b_id", "common", "a_sz", "b_sz", "jaccard")
  }

  /** CONTAINMENT near-dup pairs: common / min(|A|, |B|) ≥ threshold
    * over the same df-cut shingle index as [[ngramJaccardPairs]].
    * Containment (Broder's c(A,B)) is the asymmetric complement of
    * Jaccard: a short document quoted whole inside a long one has
    * Jaccard ≈ |A|/|B| (arbitrarily small) but containment 1.0 — the
    * subset-duplication regime (boilerplate inclusion, quoted posts,
    * doc-in-doc concatenation) that a Jaccard cut structurally cannot
    * flag. Same O(index-join) cost shape as the Jaccard path — the
    * candidate set is identical, only the final predicate differs —
    * and the same bucketed-index reuse applies at scale. `minSize`
    * guards the trivial end (a 1-shingle doc is "contained" in
    * anything sharing that shingle).
    */
  def containmentPairs(docs: DataFrame, minContainment: Double = 0.9,
      maxDf: Int = 50, minSize: Int = 16, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    containmentPairsFromKept(keptShingles(docs, maxDf, textCol, idCol),
      minContainment, minSize, idCol)

  /** Containment pairs over a PRE-BUILT kept-shingle index — the same
    * split as [[ngramJaccardPairsFromKept]], so a session-materialized
    * (or warehouse-bucketed) index serves the Jaccard AND containment
    * predicates from one build; at 100 TB the index is the expensive
    * artifact and every consumer must share it.
    */
  def containmentPairsFromKept(kept: DataFrame, minContainment: Double = 0.9,
      minSize: Int = 16, idCol: String = "doc_id"): DataFrame = {
    val sizes = kept.groupBy(idCol).agg(count(lit(1)).as("sz"))
    kept.select(col(idCol).as("a_id"), col("g"))
      .join(kept.select(col(idCol).as("b_id"), col("g")), Seq("g"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col(idCol).as("a_id"), col("sz").as("a_sz")), Seq("a_id"))
      .join(sizes.select(col(idCol).as("b_id"), col("sz").as("b_sz")), Seq("b_id"))
      .withColumn("containment",
        col("common").cast("double") / least(col("a_sz"), col("b_sz")))
      .where(col("containment") >= minContainment &&
        least(col("a_sz"), col("b_sz")) >= minSize)
      .select("a_id", "b_id", "common", "a_sz", "b_sz", "containment")
  }

  /** Connected-components clustering of near-duplicate pairs —
    * completes every near-dup pipeline: pair lists say "a≈b", but
    * dedup must KEEP ONE PER CLUSTER, and duplicate relations chain
    * (a≈b, b≈c with a,c below threshold must still collapse together).
    * `cluster_id` is the minimum doc id reachable from each member.
    *
    * Algorithm: iterative min-label propagation to fixpoint — each
    * round every node takes the min of its own label and its
    * neighbors'; all rounds are one distributed join + partial-agg
    * groupBy, lineage cut per round via localCheckpoint (same pattern
    * as plans/Recursion). Rounds = component diameter, and near-dup
    * clusters are short chains by construction (the transitive
    * similarity chain is bounded by how far content drifts), so the
    * loop is 2-4 rounds in practice. A graph with genuinely long
    * chains would want the pointer-doubling / large-star-small-star
    * variant (O(log n) rounds); not needed for dedup-shaped input.
    *
    * The convergence check is one `count` action per round on the
    * changed-label set — driver-side control flow, never driver-side
    * data.
    *
    * One-partition finish: when the measured edge count fits ONE
    * partition by the loop width rule (`Loops.adaptedPartitions` is 1,
    * ≤ 2,097,152 edge rows at the 64 MB default) and the ids are
    * integral, no round runs — one Spark task (`coalesce(1)` +
    * `mapPartitions`) runs an exact union-find. Task memory is ≤ 40 B per
    * edge row, near the 32 B per row that width rule assumes; nothing
    * is sent to the driver, and the output rows, names and types are
    * those of the rounds.
    */
  def duplicateClusters(pairs: DataFrame,
      aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    // Undirected edge list, materialized once: upstream pair
    // generation (inverted index / LSH) is far too expensive to
    // recompute every round. Partitioned by DST — the key every
    // round's label-propagation join probes — so the edge side never
    // re-exchanges inside the loop (a distinct's (src,dst)
    // partitioning would satisfy no single-key clustering; without the
    // explicit repartition each round paid a full edge shuffle). Same
    // loop-invariant-alignment discipline as Graph.prepare's
    // src-partitioned ewd table.
    //
    // No distinct pass: every producer in this library emits pairs
    // from a groupBy(a_id, b_id) with a < b, so the flipped union is
    // duplicate-free by construction — and min-label propagation is
    // idempotent over multi-edges anyway (a repeated edge feeds the
    // same min twice), so a caller handing in duplicates costs
    // proportional work, never a wrong cluster. The distinct this
    // replaces was a full extra exchange+aggregate of the edge table
    // per invocation (the round-7 p6/d10 regression).
    val spark = pairs.sparkSession
    val edges0 = graft.plans.Loops.checkpointPartitionedLazy(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .repartition(col("dst")))
    // The count materializes the prep checkpoint (same one job the old
    // eager form paid) AND sizes the loop: rounds run at a width
    // derived from the measured edge cardinality instead of the
    // session constant (r17 optimization round, guide §2 — tiny CC
    // problems stop paying full-width per-task overhead every round;
    // big ones keep the session width via the clamp). When narrowing,
    // the edge table is re-partitioned once to keep the per-round
    // label join aligned — one extra pass over state that is small by
    // construction exactly when the branch fires.
    val nE = edges0.count()
    if (fitsOneTask(edges0, nE)) return componentsInOneTask(edges0, nE)
    // No mid-loop re-narrowing here (unlike the logN contraction,
    // r18): every fixpoint round shuffles the FULL label set plus the
    // edge-join output regardless of how few labels changed — the
    // state that flows does not contract with `changed`, so a width
    // sized from the invariant edge table is right for every round.
    val nParts = graft.plans.Loops.adaptedPartitions(spark, nE)
    val edges =
      if (nParts < spark.sessionState.conf.numShufflePartitions) {
        val e = graft.plans.Loops.checkpointPartitioned(
          edges0.repartition(nParts, col("dst")))
        graft.plans.Loops.releaseCheckpoint(edges0)
        e
      } else edges0
    graft.plans.Loops.withShufflePartitions(spark, nParts) {
    graft.plans.Loops.withStablePartitioning(pairs.sparkSession) {
      // Node set = distinct dst of the ALREADY dst-partitioned edge
      // table: exchange-free, and left LAZY — round 1 fuses the init
      // into its own job instead of paying a separate
      // materialization (both directions are present, so distinct dst
      // and distinct src are the same set).
      var labels = edges.select(col("dst").as("id")).distinct()
        .withColumn("label", col("id"))
      var lastCut: org.apache.spark.sql.DataFrame = null
      var changed = 1L
      while (changed > 0) {
        // the node's own previous label rides through the SAME aggregate
        // (tagged `own`; exactly one own row per id), so convergence is a
        // filter-count on the already-materialized round output — no
        // extra comparison join per round
        val neighborMin = edges.join(labels, edges("dst") === labels("id"))
          .select(edges("src").as("id"), col("label"), lit(false).as("own"))
        // LAZY checkpoint + count fusion (r17 optimization round): the
        // changed-row count is the action that materializes the round's
        // checkpoint — one job per round where the eager form paid a
        // materialization job plus the count job (count touches every
        // partition, so the fusion contract in Loops holds).
        val next = graft.plans.Loops.checkpointPartitionedLazy(
          labels.withColumn("own", lit(true))
            .unionByName(neighborMin)
            .groupBy("id").agg(min("label").as("label"),
              max(when(col("own"), col("label"))).as("prev")))
        changed = next.where(col("label") =!= col("prev")).count()
        // `next` is materialized and the count has run — the previous
        // round's checkpoint has no readers left; free it so loop
        // memory stays O(state), not O(state × rounds)
        if (lastCut != null) graft.plans.Loops.releaseCheckpoint(lastCut)
        lastCut = next
        labels = next.select("id", "label")
      }
      labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
    }
    } // withShufflePartitions
  }

  /** O(log n)-round connected components via alternating
    * large-star / small-star contractions (the CC-MR algorithm;
    * Kiveris et al., "Connected Components in MapReduce and Beyond").
    * Same output contract as [[duplicateClusters]] — every node of the
    * edge list labeled with its component's minimum id — but rounds
    * scale with log(diameter-ish) instead of diameter: a 10k-node path
    * graph converges in ~15 rounds where min-label propagation needs
    * 10k. Use this form when cluster chains can be long (crawl graphs,
    * citation components); plain dedup clusters are shallow and the
    * fixpoint loop's cheaper rounds win there (d10 keeps it).
    *
    * Each round is two groupBy-join passes over the canonical edge
    * set (both shuffles on the node id key), lineage cut per round;
    * convergence = the small-star pass reproduces its input edge set.
    * The check is count-short-circuited (r17 optimization round): each
    * round's count rides the checkpoint-materializing job for free,
    * and since both sets are distinct, unequal counts prove
    * non-convergence without another pass — the exact tag-sum
    * symmetric-difference job runs only when the counts match
    * (typically just the final round). Control-flow actions only,
    * never data to the driver; exactness decided by the exact diff.
    *
    * One-partition finish, as in [[duplicateClusters]]: checked on the
    * entry count AND after every round's count, so a contracting big
    * loop runs its small tail as one task instead of ~log(n) more
    * rounds. Same memory bound (≤ 40 B per live edge in that task),
    * nothing sent to the driver, same output rows, names and types.
    */
  def duplicateClustersLogN(pairs: DataFrame,
      aCol: String = "a_id", bCol: String = "b_id"): DataFrame =
    duplicateClustersLogNWithRounds(pairs, aCol, bCol)._1

  /** [[duplicateClustersLogN]] plus the executed round count, so specs
    * can assert the O(log n) bound actually holds (0 when the entry
    * edge set already fits the one-partition finish).
    */
  def duplicateClustersLogNWithRounds(pairs: DataFrame,
      aCol: String = "a_id", bCol: String = "b_id",
      maxRounds: Int = 64): (DataFrame, Int) = {
    // Canonical undirected edge set: (a, b) with a < b, distinct.
    // LAZY checkpoint + count (r17 optimization round): the count both
    // materializes the checkpoint and replaces the separate isEmpty
    // job; the running edge-set cardinality then powers the per-round
    // convergence short-circuit below.
    var edges = graft.plans.Loops.checkpointLazy(pairs
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct())
    var nEdges = edges.count()
    var rounds = 0
    var converged = nEdges == 0L
    var oneTask = fitsOneTask(edges, nEdges)
    // same loop discipline as the fixpoint variant: keep round-to-round
    // partition counts stable so the contraction passes stay aligned —
    // at a width derived from the measured edge cardinality (r17
    // optimization round, guide §2): contraction only shrinks the edge
    // set, so the initial count bounds every round, and a small
    // problem stops paying session-width per-task overhead for each of
    // its ~log(n) rounds' shuffles. Clamped to the session width for
    // big inputs — and RE-narrowed as the contraction proceeds (r18,
    // r17 verdict item 4): the per-round count is free (it rides the
    // checkpoint-materializing job), so when the live edge set drops a
    // decade below what sized the current width, the remaining rounds
    // narrow with it instead of running ~log(n) tail rounds at a width
    // sized for the peak. Width only ever shrinks; no realignment pass
    // is needed because every round's contraction re-exchanges the
    // live set through its own groupBy anyway.
    var sizedFrom = nEdges
    graft.plans.Loops.withShufflePartitions(pairs.sparkSession,
      graft.plans.Loops.adaptedPartitions(pairs.sparkSession, nEdges)) {
    graft.plans.Loops.withStablePartitioning(pairs.sparkSession) {
    while (!converged && !oneTask && rounds < maxRounds) {
      // LARGE-STAR: around each node u, connect every LARGER neighbor
      // to m(u) = min(N(u) ∪ {u}). Each canonical edge is emitted
      // exactly once (from its smaller endpoint's star), so the pass
      // is one symmetric explode + groupBy(min) + join.
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mins, Seq("u"))
        .where(col("v") > col("u"))
        // m ≤ u < v, so (m, v) is already canonical
        .select(col("m").as("a"), col("v").as("b"))
        .where(col("a") =!= col("b"))
        .distinct()
      // SMALL-STAR: direct edges larger→smaller; around each node u,
      // connect u and all (smaller) neighbors to their minimum.
      val dirMins = large.groupBy(col("b").as("u"))
        .agg(min(col("a")).as("m"))
      val small = graft.plans.Loops.checkpointLazy(
        large.join(dirMins, large("b") === dirMins("u"))
          .select(col("m").as("a"), large("a").as("b"))
          .union(dirMins.select(col("m").as("a"), col("u").as("b")))
          .where(col("a") =!= col("b"))
          .distinct())
      // Materialize the round's checkpoint through its count — the
      // count doubles as the convergence SHORT-CIRCUIT: both edge sets
      // are distinct, so different cardinalities prove the pass was
      // not a no-op without touching the edges again. Only when the
      // counts MATCH does the exact symmetric-difference job run
      // (tag-summing the union detects ANY asymmetry: 1 = only small,
      // 3 = only edges, 4 = both). Every non-final round thus skips a
      // full 2×|edges| shuffle — at 100 TB that is one fewer pass over
      // the loop state per round, exactness unchanged (set equality
      // still decided by the exact diff, never by a count or a hash).
      val nSmall = small.count()
      converged = nSmall == nEdges && small.withColumn("s", lit(1L))
        .unionByName(edges.withColumn("s", lit(3L)))
        .groupBy("a", "b").agg(sum("s").as("t"))
        .where(col("t") =!= 4L)
        .isEmpty
      // this round's jobs were the old edge checkpoint's last readers
      // — free its generation (the contraction sequence would
      // otherwise hold every round's edge set simultaneously)
      graft.plans.Loops.releaseCheckpoint(edges)
      edges = small
      nEdges = nSmall
      rounds += 1
      oneTask = !converged && fitsOneTask(edges, nEdges)
      if (!converged && !oneTask &&
        nEdges <= sizedFrom / graft.plans.Loops.RenarrowFactor) {
        graft.plans.Loops.renarrow(pairs.sparkSession, nEdges)
        sizedFrom = nEdges
      }
    }
    } // withStablePartitioning
    } // withShufflePartitions
    if (oneTask) return (componentsInOneTask(edges, nEdges), rounds)
    // At the fixpoint every component is a star rooted at its min:
    // each edge (root, v) labels v; roots label themselves.
    val labels = edges.select(col("b").as("doc_id"), col("a").as("cluster_id"))
      .union(edges.select(col("a").as("doc_id"), col("a").as("cluster_id")))
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
    (labels, rounds)
  }

  /** Whether a CC loop's measured edge set (`rows` rows of two id
    * columns) finishes in one task: it must fit ONE partition by the
    * loop width rule, and its ids must be integral, so they widen to
    * `long` and back losslessly. Other id types keep the rounds.
    */
  private def fitsOneTask(edges: DataFrame, rows: Long): Boolean =
    graft.plans.Loops.adaptedPartitions(edges.sparkSession, rows) == 1 &&
      edges.schema.fields.forall(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })

  /** Connected components of a one-partition edge set in ONE Spark
    * task: `coalesce(1)` + `mapPartitions` over [[minLabels]]. Lazy —
    * the task runs inside the caller's action, nothing is collected
    * to the driver. Output is `(doc_id, cluster_id)` in the edge
    * columns' type: every endpoint labelled with its component's
    * minimum id, the same rows the distributed rounds produce.
    */
  private def componentsInOneTask(edges: DataFrame, rows: Long): DataFrame = {
    val Seq(a, b) = edges.columns.toSeq
    val idType = edges.schema(a).dataType
    // the hint presizes the edge buffer; the width rule keeps it small
    val hint = math.min(rows, (Int.MaxValue - 8) / 2L).toInt
    edges.select(col(a).cast("long"), col(b).cast("long"))
      .coalesce(1)
      .mapPartitions((it: Iterator[Row]) => minLabels(it, hint))(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("doc_id", "cluster_id")
      .select(col("doc_id").cast(idType).as("doc_id"),
        col("cluster_id").cast(idType).as("cluster_id"))
  }

  /** Exact union-find over a stream of `(long, long)` edge rows: every
    * endpoint, labelled with the minimum id of its component, ascending
    * by id. Primitive arrays only — the endpoints (16 B per edge), their
    * sorted distinct copy (≤ 16 B per edge) and an `int` parent per
    * node (≤ 8 B per edge) — so memory is ≤ 40 B per edge row and no
    * id is boxed. Sorting makes node index order id order, and every
    * union hangs the larger root under the smaller, so each root is
    * its component's minimum.
    */
  private def minLabels(edges: Iterator[Row], sizeHint: Int): Iterator[(Long, Long)] = {
    var ends = new Array[Long](math.max(2, 2 * sizeHint))
    var m = 0
    while (edges.hasNext) {
      val r = edges.next()
      if (m + 2 > ends.length) ends = java.util.Arrays.copyOf(ends, 2 * ends.length)
      ends(m) = r.getLong(0)
      ends(m + 1) = r.getLong(1)
      m += 2
    }
    val ids = java.util.Arrays.copyOf(ends, m)
    java.util.Arrays.sort(ids)
    var n = 0
    var i = 0
    while (i < m) {
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val parent = new Array[Int](n)
    i = 0
    while (i < n) { parent(i) = i; i += 1 }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    i = 0
    while (i < m) {
      val u = find(java.util.Arrays.binarySearch(ids, 0, n, ends(i)))
      val v = find(java.util.Arrays.binarySearch(ids, 0, n, ends(i + 1)))
      if (u < v) parent(v) = u else if (v < u) parent(u) = v
      i += 2
    }
    Iterator.tabulate(n)(k => (ids(k), ids(find(k))))
  }

  /** Incremental-ingest admission: decide, per NEW-batch document,
    * whether it may enter the EXISTING corpus — reject exact dups
    * (content hash seen in the corpus) and near-dups (df-cut shingle
    * Jaccard ≥ `minJaccard` against a CORPUS doc). New×new duplicates
    * are deliberately admitted together: within-batch dedup is the
    * at-rest pipeline's job (d1/d10); the incremental contract only
    * protects the corpus from re-ingesting what it already holds.
    *
    * Scale shape: the shingle df-cut is computed over corpus ∪ batch
    * (one groupBy, map-side combined), the near-dup join is the same
    * inverted-index equi-join as [[ngramJaccardPairsFromKept]] but
    * new×corpus only — candidate volume scales with the BATCH, not
    * the corpus, since every pair needs a new-side shingle. The exact
    * check is a hash semi-join (broadcast-able: one md5 per batch doc).
    *
    * `isNew` must be a deterministic predicate over `docs`' columns.
    */
  def incrementalAdmit(docs: DataFrame, isNew: Column,
      minJaccard: Double = 0.6, maxDf: Int = 50,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tagged = docs.select(col(idCol), col(textCol).as("__text"),
      isNew.as("is_new"))
    val sh = tagged
      .withColumn("g", explode(TextOps.shingles("__text")))
      .select(col(idCol), col("is_new"), col("g"))
    val dfMap = sh.groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select("g")
    // The df-cut index is read FOUR times downstream (sizes, both
    // sides of the candidate join — and the explode feeding it twice
    // more via dfMap). Materialize it once: the explode over the full
    // corpus text is the expensive stage, and without the cut each
    // consumer replays it. The checkpoint emerges partitioned by "g"
    // (the semi-join key), which is exactly what the new×corpus
    // candidate equi-join wants — both sides read it exchange-free.
    // At warehouse scale this is the same artifact as keptShingles
    // persisted `bucketBy("g")` (ScaleSpec proves that layout); the
    // incremental batch would join against the bucketed corpus index
    // rather than rebuild it.
    // LAZY (r18): no standalone materialization job — the final
    // query's first consuming stage computes the blocks (the three
    // readers then hit the block-manager cache; concurrent stages
    // serialize on the per-partition compute lock, never duplicate).
    val kept = graft.plans.Loops.checkpointPartitionedLazy(
      sh.join(dfMap, Seq("g"), "left_semi"))
    val sizes = kept.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val near = kept.where(col("is_new")).select(col(idCol).as("a_id"), col("g"))
      .join(kept.where(!col("is_new")).select(col(idCol).as("b_id"), col("g")),
        Seq("g"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
      .join(sizes.select(col(idCol).as("a_id"), col("sz").as("a_sz")), Seq("a_id"))
      .join(sizes.select(col(idCol).as("b_id"), col("sz").as("b_sz")), Seq("b_id"))
      .where(col("common").cast("double") /
        (col("a_sz") + col("b_sz") - col("common")) >= minJaccard)
      .select(col("a_id").as(idCol)).distinct()
    val exact = tagged.where(col("is_new"))
      .select(col(idCol), md5(col("__text")).as("h"))
      .join(tagged.where(!col("is_new")).select(md5(col("__text")).as("h"))
        .distinct(), Seq("h"), "left_semi")
      .select(col(idCol))
    tagged.where(col("is_new")).select(col(idCol))
      .join(exact.withColumn("exact_dup", lit(true)), Seq(idCol), "left")
      .join(near.withColumn("near_dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"))
      .withColumn("admit", !col("exact_dup") && !col("near_dup"))
  }

  /** Corpus-internal duplicated-substring SPANS — the relational form
    * of ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): find every maximal token
    * region that also occurs elsewhere in the corpus, so the pipeline
    * can cut repeated boilerplate/quotations at span granularity
    * instead of dropping whole documents. Where the paper builds a
    * corpus suffix array (single-node, RAM-bound), this uses stride-1
    * token `windowTokens`-grams: a duplicated run of ≥ `windowTokens`
    * tokens is EXACTLY a run of duplicated grams, so flagging every
    * occurrence of any gram seen ≥ 2 times corpus-wide and merging
    * overlapping windows per doc (gaps-and-islands over start
    * offsets) reconstructs the paper's maximal duplicate spans at
    * token granularity — as joins and windows that shard over any
    * cluster instead of one machine's suffix array.
    *
    * Scale shape: the gram occurrence table is token-count-sized
    * (same volume class as d14's 4-gram explode); duplicated grams
    * come from one groupBy(g) with map-side partial counts, flagging
    * is a shuffle semi-join on g (NOT broadcast — duplicated grams
    * grow with the corpus), and the island merge is a per-doc window
    * bounded by document length. One row out per document that has
    * at least one duplicated span:
    * (doc_id, n_tokens, n_spans, dup_tokens, dup_bp, spans) with
    * `spans` the ordered "st-en" token-index list and `dup_bp` the
    * duplicated-token share in basis points (integer div —
    * engine-portable).
    */
  def dupSubstringSpans(docs: DataFrame, windowTokens: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = windowTokens
    val toks = docs.select(col(idCol), Curation.tokens(col(textCol)).as("t"))
    val occ = toks
      .select(col(idCol), posexplode(Curation.wordGrams(col("t"), w)))
      .select(col(idCol), col("pos").cast("long").as("st"), col("col").as("g"))
    val dup = occ.groupBy("g").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select("g")
    val flagged = occ.join(dup, Seq("g"), "left_semi")
      .select(col(idCol), col("st"), (col("st") + lit(w - 1).cast("long")).as("en"))
    val ord = Window.partitionBy(idCol).orderBy("st")
    val prevMaxEnd = max("en").over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val islands = flagged
      .withColumn("new_span",
        when(col("st") > coalesce(prevMaxEnd, lit(-1L)), lit(1L)).otherwise(lit(0L)))
      .withColumn("island",
        sum("new_span").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spans = islands.groupBy(col(idCol), col("island"))
      .agg(min("st").as("sp_st"), max("en").as("sp_en"))
    spans.groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"),
        sum(col("sp_en") - col("sp_st") + 1).as("dup_tokens"),
        // spans rendered in order: struct sort on (sp_st, sp_en) —
        // sp_st is unique per doc (islands partition the offsets)
        array_join(transform(
          array_sort(collect_list(struct(col("sp_st"), col("sp_en")))),
          x => concat(x.getField("sp_st").cast("string"), lit("-"),
            x.getField("sp_en").cast("string"))), ",").as("spans"))
      .join(toks.select(col(idCol), size(col("t")).cast("long").as("n_tokens")),
        Seq(idCol))
      .withColumn("dup_bp", expr("(10000 * dup_tokens) div n_tokens"))
      .select(idCol, "n_tokens", "n_spans", "dup_tokens", "dup_bp", "spans")
  }

  /** EXACT set-similarity join by PPJoin-style PREFIX FILTERING
    * (Chaudhuri/Ganti/Kaushik '06, Xiao et al. '08): the third — and
    * only LOSSLESS — candidate-generation strategy in the family, next
    * to MinHash/LSH (probabilistic recall) and the df-cut inverted
    * index (drops hot-shingle docs). Theorem: two sets with Jaccard ≥ t
    * must share at least one element among each set's first
    * `|s| − ⌈t·|s|⌉ + 1` elements in ANY fixed global total order — so
    * the prefix self-join can never miss a qualifying pair, and exact
    * verification makes the OUTPUT independent of the order chosen.
    *
    * Order choice: the canonical df-ascending order minimizes
    * candidates but costs a gram-frequency pass (groupBy + join + a
    * corpus-wide rank window — three exchanges, measured ~2 s of pure
    * stage overhead at sf0.1). This implementation orders by the
    * gram's xxhash64 instead: the prefix is then `slice(sort_array(
    * hashed grams))` — computed entirely SCAN-SIDE, zero joins, zero
    * windows — at the price of ~1.5× the candidates (measured 451k vs
    * 300k at sf0.1), which the cheap hashed phase-1 verify absorbs.
    * At warehouse scale with a skewed vocabulary, flip to df order by
    * ranking against a persisted frequency table; the filters and
    * verification below are order-agnostic.
    *
    * Candidate pruning: PPJoin LENGTH filter (t·na ≤ nb ≤ na/t) and
    * POSITIONAL filter (a match at prefix positions (pa, pb) bounds
    * the overlap by min(na−pa, nb−pb)+1, which must reach
    * ⌈t·(na+nb)/(1+t)⌉) — both lossless: a true J ≥ t pair's first
    * shared prefix gram always survives them.
    *
    * TWO-PHASE verify. Phase 1 intersects the 8-byte HASH arrays —
    * ~5× lighter through the candidate joins than the gram strings —
    * and is lossless as a filter up to xxhash64 collisions: a
    * cross-doc collision (gram only in A colliding with a gram only
    * in B) inflates the hashed overlap, which is safe, but if two
    * DIFFERENT grams that are each in A∩B collide, each per-doc hash
    * SET keeps the value once and `hc` undercounts the true overlap
    * by one — a ~2⁻⁶⁴-probability-per-gram-pair false reject, not an
    * absolute guarantee. Phase 2 redoes the intersection on the true gram
    * strings for the output-sized survivor set, so emitted pairs and
    * scores are exact. Dedup of multi-gram candidates happens ONCE at
    * the end (output-sized) instead of on the 100×-larger candidate
    * stream. Set elements are distinct word `gramN`-grams.
    */
  def ppjoinPairs(docs: DataFrame, minJaccardBp: Long = 6000,
      gramN: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(minJaccardBp > 0 && minJaccardBp <= 10000,
      "ppjoinPairs threshold is in (0, 10000] basis points")
    val grams = array_distinct(
      Curation.wordGrams(Curation.tokens(col(textCol)), gramN))
    // Two expression-inlining traps, both measured at sf0.1:
    //  - the empty-doc filter tests the TOKEN count, not size(arr):
    //    filtering on the projected alias makes Catalyst substitute the
    //    whole interpreted higher-order gram expression into the Filter
    //    (0.35 s → 2.9 s for the identical result);
    //  - the array MUST be materialized before any explode: Generate
    //    over the inlined HOF expression re-evaluates it per OUTPUT
    //    row — 260k wordGrams evaluations instead of 5k (0.3 s → 5.5 s).
    // With both avoided the checkpoint itself is ~0.25 s.
    // LAZY checkpoint (r18): hsorted's eager materialization below is
    // the next action over `arrs` and consumes every partition (a full
    // explode → groupBy), so it materializes these blocks en route —
    // one job instead of an arrs-materialization job plus the hsorted
    // build (the Loops fusion contract). Phase 2's broadcasts then
    // read the already-persisted blocks.
    val arrs = docs
      .where(size(Curation.tokens(col(textCol))) >= gramN)
      .select(col(idCol), grams.as("arr"))
      .localCheckpoint(false)
    // hash-sorted gram arrays: the global order AND the phase-1 verify
    // payload in one compact (8 B/elem) structure. Built by explode →
    // CODEGEN xxhash64 → groupBy-collect (the interpreted
    // transform(x -> xxhash64(x)) higher-order form measured ~4×
    // slower — the repo's standing HOF-vs-codegen finding), then
    // checkpointed: longs materialize cheaply, unlike string arrays.
    val hsorted = arrs
      .select(col(idCol), explode(col("arr")).as("g0"))
      .select(col(idCol), xxhash64(col("g0")).as("h"))
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("h"))).as("harr"),
        count(lit(1)).cast("long").as("n"))
      .localCheckpoint()
    val prefix = hsorted.select(col(idCol), col("n"),
        posexplode(slice(col("harr"), lit(1),
          expr(s"CAST(n - ($minJaccardBp * n + 9999) div 10000 + 1 AS INT)"))))
      .select(col(idCol), col("n"), col("col").as("g"),
        (col("pos") + 1).as("p"))
    val cand = prefix.select(col(idCol).as("a_id"), col("n").as("an"),
        col("g"), col("p").as("pa"))
      .join(prefix.select(col(idCol).as("b_id"), col("n").as("bn"),
        col("g"), col("p").as("pb")), Seq("g"))
      .where(col("a_id") < col("b_id"))
      .where(expr(s"10000 * bn >= $minJaccardBp * an") &&
        expr(s"10000 * an >= $minJaccardBp * bn"))
      .where(expr(s"least(an - pa, bn - pb) + 1 >= " +
        s"($minJaccardBp * (an + bn) + ${10000 + minJaccardBp} - 1) div ${10000 + minJaccardBp}"))
      // NOTE (r18, measured): PPJoin's INDEXING-prefix tightening
      // (require the smaller side's match position within
      // n − ⌈2t/(1+t)·n⌉ + 1, Xiao et al. '08) is mathematically
      // SUBSUMED by the positional filter above — with an ≤ bn,
      // least(...)+1 ≥ α = ⌈t(an+bn)/(1+t)⌉ ≥ ⌈2t/(1+t)·an⌉ forces
      // pa ≤ an − ⌈2t/(1+t)·an⌉ + 1 already. Adding it explicitly was
      // measured to cut ZERO of the 133k sf0.1 candidate matches
      // (tools/ProfileMain "d24" replays the A/B) — do not re-add it.
      .select("a_id", "b_id")
    // Verify-side joins BROADCAST the per-doc array tables: at test
    // scale they are MBs; at warehouse scale the per-doc gram table
    // outgrows a broadcast and these become shuffle joins bucketed on
    // the id — flip the hints, the logic is unchanged.
    val phase1 = cand
      .join(broadcast(hsorted.select(col(idCol).as("a_id"),
        col("harr").as("a_h"), col("n").as("na"))), Seq("a_id"))
      .join(broadcast(hsorted.select(col(idCol).as("b_id"),
        col("harr").as("b_h"), col("n").as("nb"))), Seq("b_id"))
      .withColumn("hc",
        size(array_intersect(col("a_h"), col("b_h"))).cast("long"))
      .where(expr(s"10000 * hc >= $minJaccardBp * (na + nb - hc)"))
      .select("a_id", "b_id").distinct()
    phase1
      .join(broadcast(arrs.select(col(idCol).as("a_id"), col("arr").as("a_arr"))),
        Seq("a_id"))
      .join(broadcast(arrs.select(col(idCol).as("b_id"), col("arr").as("b_arr"))),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_arr"), col("b_arr"))).cast("long").as("common"),
        size(col("a_arr")).cast("long").as("na"),
        size(col("b_arr")).cast("long").as("nb"))
      .where(expr(s"10000 * common >= $minJaccardBp * (na + nb - common)"))
      .select(col("a_id"), col("b_id"),
        expr("(10000 * common) div (na + nb - common)").as("jaccard_bp"))
  }
}
