package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, TextOps}
import graft.sources.Tables

/** Text-analysis + deduplication queries over `documents`
  * (LLM-training-data pipeline operators; BASELINE.json north star).
  * Oracle-checked where the computation is engine-portable; the
  * xxhash64-based ops (minhash/simhash) are Spark-native and get
  * rows-only checks plus ScalaTest ground-truth specs.
  */
object TextQueries {

  /** Exact n-gram Jaccard pair set (d6's), built once per (session,
    * sf dir) and materialized — the inverted-index join is the
    * expensive stage of the dedup pipeline, and three declared queries
    * consume the same pairs (d6 directly, d10 clusters them, p6
    * anti-joins the survivors). CTAS-style memoization mirrors how the
    * reference materializes its dims before the reports that reuse
    * them.
    */
  def jaccardPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.sources.SessionCache.getOrElseUpdate(s, s"ngram_pairs:$dir")(
      Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        minJaccard = 0.6, maxDf = 50).localCheckpoint())

  /** MinHash/LSH candidate pairs (d7's), shared with the d9 recall
    * audit — the signature build is the expensive stage.
    */
  def minhashCandidates(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.sources.SessionCache.getOrElseUpdate(s, s"minhash_cand:$dir")(
      Dedup.minhashPairs(Tables.documents(s, dir), minEst = 0.5)
        .localCheckpoint())

  /** The df-cut kept-shingle inverted index (maxDf 50), built once per
    * (session, sf dir) — the expensive artifact of the exact near-dup
    * family; d18's containment predicate consumes it directly (the
    * batch analog of the warehouse-bucketed layout ScaleSpec proves).
    */
  def keptIndex(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.sources.SessionCache.getOrElseUpdate(s, s"kept_shingles:$dir")(
      Dedup.keptShingles(Tables.documents(s, dir), maxDf = 50)
        .localCheckpoint())

  val all: Seq[QueryDef] = Seq(

    // ---- exact dedup groups (hash-keyed, no all-pairs) ----
    QueryDef("d1_dedup_exact",
      """SELECT md5(text) AS fp, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir))
        .select("fp", "doc_id", "n_copies")
        .orderBy("doc_id")
    },

    // ---- document fingerprinting ----
    QueryDef("d2_fingerprint",
      """SELECT doc_id, md5(text) AS fp_full, md5(substr(text, 1, 64)) AS fp_prefix,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        md5(col("text")).as("fp_full"),
        md5(substring(col("text"), 1, 64)).as("fp_prefix"),
        length(col("text")).cast("long").as("n_chars_calc"))
        .orderBy("doc_id")
    },

    // ---- quality-score text statistics ----
    QueryDef("d3_text_stats",
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
        |  CAST(floor(10000.0 * (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) / greatest(length(text), 1)) AS BIGINT) AS punct_bp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        (length(col("text")) - length(expr("replace(text, ' ', '')")))
          .cast("long").as("n_spaces"),
        TextOps.tokenCount("text").as("n_tokens"),
        TextOps.punctBp("text").as("punct_bp"))
        .orderBy("doc_id")
    },

    // ---- stopword-signal language ID (deterministic heuristic) ----
    QueryDef("d4_lang_id",
      """SELECT doc_id, lang,
        |  CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT) AS cnt_en,
        |  CAST((length(text) - length(replace(text, ' le ', ''))) / 4 AS BIGINT) AS cnt_fr,
        |  CAST((length(text) - length(replace(text, ' el ', ''))) / 4 AS BIGINT) AS cnt_es,
        |  CAST((length(text) - length(replace(text, ' der ', ''))) / 5 AS BIGINT) AS cnt_de,
        |  CASE WHEN (length(text) - length(replace(text, ' the ', ''))) / 5 >= (length(text) - length(replace(text, ' le ', ''))) / 4
        |            AND (length(text) - length(replace(text, ' the ', ''))) / 5 >= (length(text) - length(replace(text, ' el ', ''))) / 4
        |            AND (length(text) - length(replace(text, ' the ', ''))) / 5 >= (length(text) - length(replace(text, ' der ', ''))) / 5 THEN 'en'
        |       WHEN (length(text) - length(replace(text, ' le ', ''))) / 4 >= (length(text) - length(replace(text, ' el ', ''))) / 4
        |            AND (length(text) - length(replace(text, ' le ', ''))) / 4 >= (length(text) - length(replace(text, ' der ', ''))) / 5 THEN 'fr'
        |       WHEN (length(text) - length(replace(text, ' el ', ''))) / 4 >= (length(text) - length(replace(text, ' der ', ''))) / 5 THEN 'es'
        |       ELSE 'de' END AS predicted_lang
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val en = TextOps.occurrences("text", " the ")
      val fr = TextOps.occurrences("text", " le ")
      val es = TextOps.occurrences("text", " el ")
      val de = TextOps.occurrences("text", " der ")
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        en.as("cnt_en"), fr.as("cnt_fr"), es.as("cnt_es"), de.as("cnt_de"),
        when(en >= fr && en >= es && en >= de, "en")
          .when(fr >= es && fr >= de, "fr")
          .when(es >= de, "es")
          .otherwise("de").as("predicted_lang"))
        .orderBy("doc_id")
    },

    // ---- token counting (total + distinct + type/token ratio) ----
    QueryDef("d5_token_count",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_distinct_tokens,
        |  CAST(floor(10000.0 * len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
        |       / greatest(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 1)) AS BIGINT) AS ttr_bp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount("text").as("n_tokens"),
        TextOps.distinctTokenCount("text").as("n_distinct_tokens"),
        expr("CAST(floor(10000.0 * size(array_distinct(regexp_extract_all(lower(text), '[a-z0-9]+', 0))) / greatest(size(regexp_extract_all(text, '[A-Za-z0-9]+', 0)), 1)) AS BIGINT)")
          .as("ttr_bp"))
        .orderBy("doc_id")
    },

    // ---- exact n-gram Jaccard near-dup pairs (inverted index + df-cut) ----
    QueryDef("d6_ngram_jaccard_pairs",
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1), i -> substr(text, CAST(i AS INTEGER), 5)))) AS g
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh) t WHERE df <= 50
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT p.a_id, p.b_id, p.common, sa.sz AS a_sz, sb.sz AS b_sz,
        |  CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) AS jaccard
        |FROM pairs p JOIN sizes sa ON p.a_id = sa.doc_id JOIN sizes sb ON p.b_id = sb.doc_id
        |WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= 0.6
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      jaccardPairs(s, dir).orderBy("a_id", "b_id")
    },

    // ---- containment near-dup pairs (subset duplication) ----
    // Broder's containment c = common / min(|A|,|B|): the asymmetric
    // complement of d6's Jaccard — a short doc quoted whole inside a
    // long one has Jaccard ≈ |A|/|B| (arbitrarily small) but
    // containment 1.0, the regime (boilerplate inclusion, doc-in-doc
    // concatenation) a Jaccard cut structurally misses. Same df-cut
    // inverted-index candidates as d6, different final predicate;
    // min-size 16 guards the trivial tiny-doc end. The 0.55 threshold
    // sits below d6's 0.6 Jaccard so the result exercises pairs the
    // Jaccard query does NOT emit.
    QueryDef("d18_containment_pairs",
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1), i -> substr(text, CAST(i AS INTEGER), 5)))) AS g
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh) t WHERE df <= 50
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT p.a_id, p.b_id, p.common, sa.sz AS a_sz, sb.sz AS b_sz,
        |  CAST(p.common AS DOUBLE) / least(sa.sz, sb.sz) AS containment
        |FROM pairs p JOIN sizes sa ON p.a_id = sa.doc_id JOIN sizes sb ON p.b_id = sb.doc_id
        |WHERE CAST(p.common AS DOUBLE) / least(sa.sz, sb.sz) >= 0.55
        |  AND least(sa.sz, sb.sz) >= 16
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      Dedup.containmentPairsFromKept(keptIndex(s, dir),
          minContainment = 0.55, minSize = 16)
        .orderBy("a_id", "b_id")
    },

    // ---- connected-components duplicate clustering ----
    // Completes dedup: near-dup PAIRS (d6's exact inverted-index set)
    // collapse into clusters via min-label propagation; cluster_id =
    // min doc id of the component. The oracle recomputes the same
    // pair set, then walks the transitive closure with a recursive
    // CTE — so the Spark fixpoint loop is checked against a genuinely
    // independent graph-reachability formulation.
    QueryDef("d10_dup_clusters",
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1), i -> substr(text, CAST(i AS INTEGER), 5)))) AS g
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh) t WHERE df <= 50
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
        |), cand AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), pairs AS (
        |  SELECT p.a_id, p.b_id
        |  FROM cand p JOIN sizes sa ON p.a_id = sa.doc_id JOIN sizes sb ON p.b_id = sb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= 0.6
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id, a_id FROM pairs
        |), reach(src, dst) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |)
        |SELECT src AS doc_id, MIN(dst) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.duplicateClusters(jaccardPairs(s, dir))
        .orderBy("doc_id")
    },

    // ---- d26: soft dedup — duplicate-aware sampling weights ----
    // The DataComp/DCLM-style ALTERNATIVE to dropping duplicates:
    // every doc stays in the corpus but carries weight 1/cluster_size
    // (exact basis points, 10000 div size), so a cluster contributes
    // one doc's worth of probability mass to sampling no matter how
    // many copies crawled in. Clusters are d10's (same pair set, same
    // CC), unclustered docs are their own cluster of one. Per-source
    // report: raw docs, clustered docs, and the effective corpus size
    // the weights imply. Scale shape: the cluster assignment join is
    // doc-keyed, the size join cluster-keyed — two shuffles on keys
    // that only shrink; nothing quadratic beyond the d10 pair
    // machinery already dispositioned.
    QueryDef("d26_softdedup_weights",
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1), i -> substr(text, CAST(i AS INTEGER), 5)))) AS g
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh) t WHERE df <= 50
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
        |), cand AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), pairs AS (
        |  SELECT p.a_id, p.b_id
        |  FROM cand p JOIN sizes sa ON p.a_id = sa.doc_id JOIN sizes sb ON p.b_id = sb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= 0.6
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id, a_id FROM pairs
        |), reach(src, dst) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |), cl AS (
        |  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
        |), asg AS (
        |  SELECT d.doc_id, d.source, COALESCE(cl.cluster_id, d.doc_id) AS cid
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
        |), szs AS (
        |  SELECT cid, COUNT(*) AS sz FROM asg GROUP BY cid
        |)
        |SELECT a.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN s.sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
        |  CAST(SUM(10000 // s.sz) AS BIGINT) AS eff_bp
        |FROM asg a JOIN szs s ON a.cid = s.cid
        |GROUP BY a.source ORDER BY a.source""".stripMargin) { (s, dir) =>
      val cl = Dedup.duplicateClusters(jaccardPairs(s, dir))
      val asg = Tables.documents(s, dir).select("doc_id", "source")
        .join(cl, Seq("doc_id"), "left")
        .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
      val szs = asg.groupBy("cid").agg(count(lit(1)).as("sz"))
      asg.join(szs, Seq("cid"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_clustered"),
          sum(expr("10000 div sz")).as("eff_bp"))
        .orderBy("source")
    },

    // ---- O(log n)-round clustering (large-star/small-star) ----
    // Same contract as d10 over the same pair set, computed by the
    // CC-MR contraction instead of min-label propagation — the form
    // that survives long-chain components at scale (rounds ~ log n,
    // not diameter; see Dedup.duplicateClustersLogN and the 10k-path
    // spec). The oracle is d10's independent recursive-CTE closure.
    QueryDef("d11_dup_clusters_logn",
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1), i -> substr(text, CAST(i AS INTEGER), 5)))) AS g
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh) t WHERE df <= 50
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
        |), cand AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), pairs AS (
        |  SELECT p.a_id, p.b_id
        |  FROM cand p JOIN sizes sa ON p.a_id = sa.doc_id JOIN sizes sb ON p.b_id = sb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= 0.6
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id, a_id FROM pairs
        |), reach(src, dst) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |)
        |SELECT src AS doc_id, MIN(dst) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.duplicateClustersLogN(jaccardPairs(s, dir))
        .orderBy("doc_id")
    },

    // ---- RELATIVE-df-cut dup clustering (the corpus-size-safe form) ----
    // d10/d11's absolute df ≤ 50 cut silently saturates as the corpus
    // grows: measured on the round-11 sf1 extrapolation, 0.37% of
    // shingle instances survive at sf0.1 and ZERO at 10× that — the
    // clustering degrades to a scan with no error. Production pipelines
    // scale the cut with corpus size; this variant uses
    // df ≤ max(50, N/100), with N entering as a 1-row broadcast count
    // (never a driver action), so the survivor fraction — and with it
    // the candidate-pair density the clustering is supposed to process
    // — stays stable at every sf. At sf ≤ 0.1 the relative cut equals
    // the absolute one (N/100 ≤ 50), so the oracle hash doubles as an
    // equivalence proof against d11 there; at sf1 this is the query
    // whose curve row carries the real clustering work.
    QueryDef("d23_dup_clusters_relcut",
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1), i -> substr(text, CAST(i AS INTEGER), 5)))) AS g
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh) t
        |  WHERE df <= greatest(50, (SELECT COUNT(*) FROM documents) // 100)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
        |), cand AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), pairs AS (
        |  SELECT p.a_id, p.b_id
        |  FROM cand p JOIN sizes sa ON p.a_id = sa.doc_id JOIN sizes sb ON p.b_id = sb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= 0.6
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id, a_id FROM pairs
        |), reach(src, dst) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |)
        |SELECT src AS doc_id, MIN(dst) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.duplicateClustersLogN(
        Dedup.ngramJaccardPairsFromKept(
          Dedup.keptShinglesRelative(Tables.documents(s, dir)),
          minJaccard = 0.6))
        .orderBy("doc_id")
    },

    // ---- canonical-keep: the dedup DECISION, not just the clusters ----
    // What a pipeline actually executes after clustering: every doc
    // gets its cluster (singletons are their own), each cluster keeps
    // exactly one canonical representative — longest text wins, ties
    // to the smallest doc_id ("keep the fullest version" policy) —
    // and the rest are drops. The argmax is the hash-only two-
    // aggregate pattern (max of (len, −doc_id) structs + join-back),
    // NOT a per-cluster window: cluster count ~ docs, so a window
    // would sort the whole corpus for a 1-bit answer. One broadcast-
    // size join against the (shared, memoized) cluster set, two hash
    // aggregates — data-proportional at any sf.
    QueryDef("d22_canonical_keep",
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1), i -> substr(text, CAST(i AS INTEGER), 5)))) AS g
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh) t WHERE df <= 50
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
        |), cand AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), pairs AS (
        |  SELECT p.a_id, p.b_id
        |  FROM cand p JOIN sizes sa ON p.a_id = sa.doc_id JOIN sizes sb ON p.b_id = sb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= 0.6
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id, a_id FROM pairs
        |), reach(src, dst) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |), cl AS (
        |  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
        |), everydoc AS (
        |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
        |         length(d.text) AS len
        |  FROM documents d LEFT JOIN cl c ON d.doc_id = c.doc_id
        |)
        |SELECT doc_id, cluster_id,
        |  (ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY len DESC, doc_id) = 1) AS keep
        |FROM everydoc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      val withCl = docs
        .join(Dedup.duplicateClustersLogN(jaccardPairs(s, dir)),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("len"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      // distributed argmax as TWO hash aggregates + an equi-join (the
      // g6/s12 pattern) — a max(struct) would demote to a keyed
      // SortAggregate (immutable buffer) and sort the corpus
      val maxLen = withCl.groupBy("cluster_id").agg(max("len").as("len"))
      val canon = withCl.join(maxLen, Seq("cluster_id", "len"))
        .groupBy("cluster_id").agg(min("doc_id").as("canon_id"))
      withCl.join(canon, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") === col("canon_id")).as("keep"))
        .orderBy("doc_id")
    },

    // ---- PPJoin prefix-filtered exact similarity join ----
    // The LOSSLESS third candidate strategy (vs LSH's probabilistic
    // recall and the df-cut's dropped hot docs): prefix filtering
    // guarantees no J ≥ 0.6 pair can be missed (rarest-first global
    // order theorem), and verification is exact — so the ORACLE need
    // not replay prefixes at all: it computes the same pair set from
    // the full inverted index, proving candidate completeness on every
    // run. Set elements are distinct word 3-grams.
    QueryDef("d24_ppjoin_pairs",
      """WITH t0 AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS lt FROM documents
        |), t AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(lt) - 2, 0) + 1),
        |    i -> lt[i] || ' ' || lt[i+1] || ' ' || lt[i+2]))) AS g
        |  FROM t0
        |), sz AS (
        |  SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id
        |), c AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM t a JOIN t b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT c.a_id, c.b_id,
        |  CAST((10000 * c.common) // (sa.n + sb.n - c.common) AS BIGINT) AS jaccard_bp
        |FROM c JOIN sz sa ON c.a_id = sa.doc_id JOIN sz sb ON c.b_id = sb.doc_id
        |WHERE 10000 * c.common >= 6000 * (sa.n + sb.n - c.common)
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      Dedup.ppjoinPairs(Tables.documents(s, dir), minJaccardBp = 6000)
        .orderBy("a_id", "b_id")
    },

    // ---- MinHash-confirmed near-dup pairs (candidate → verify) ----
    // The production dedup shape: LSH band candidates (est ≥ 0.5),
    // each CONFIRMED by the exact inverted-index Jaccard; output =
    // confirmed pairs at J ≥ 0.8 with substantial kept sets. The
    // oracle computes the same set purely exactly — hash-equality
    // holds because the d9 recall contract proves the candidate set
    // covers every such pair (the semi-join can only drop rows LSH
    // missed, and d9 asserts there are none). Both inputs are the
    // memoized pair sets, so this adds one semi-join to the plan.
    // COUPLING CAVEAT: this equality is a property of the corpus, not
    // the code — minhash recall at J ≥ 0.8 is probabilistic (~99.9%
    // per pair at r=8/b=16), so a regenerated/grown corpus could make
    // d7 fail with no code change. If d7 ever fails while d6 passes,
    // check d9 FIRST: a d9 mismatch means recall dropped (raise bands
    // or accept the contract form), not that the dedup logic broke.
    QueryDef("d7_minhash_pairs",
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1), i -> substr(text, CAST(i AS INTEGER), 5)))) AS g
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh) t WHERE df <= 50
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT p.a_id, p.b_id, p.common, sa.sz AS a_sz, sb.sz AS b_sz,
        |  CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) AS jaccard
        |FROM pairs p JOIN sizes sa ON p.a_id = sa.doc_id JOIN sizes sb ON p.b_id = sb.doc_id
        |WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= 0.8
        |  AND least(sa.sz, sb.sz) >= 16
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      jaccardPairs(s, dir)
        .where(col("jaccard") >= 0.8 && least(col("a_sz"), col("b_sz")) >= 16)
        .join(minhashCandidates(s, dir).select("a_id", "b_id"),
          Seq("a_id", "b_id"), "left_semi")
        .select("a_id", "b_id", "common", "a_sz", "b_sz", "jaccard")
        .orderBy("a_id", "b_id")
    },

    // ---- SimHash near-dups from the exported signature table ----
    // The xxhash64-based signatures are Spark-native (ScalaTest ground
    // truth in DedupSpec); the band-blocking + exact-hamming PAIR
    // machinery is hash-checked: Spark writes the signature table to
    // parquet (Warehouse.simhashExport) and the oracle recomputes the
    // identical band-join + bit_count filter from the same file.
    QueryDef("d8_simhash_pairs",
      s"""WITH sh AS (SELECT * FROM read_parquet('${graft.sources.Warehouse.simhashExportPath}/*.parquet'))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  AND (a.band_0 = b.band_0 OR a.band_1 = b.band_1 OR a.band_2 = b.band_2 OR a.band_3 = b.band_3)
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
         |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      Dedup.simhashPairsFrom(graft.sources.Warehouse.simhashExport(s, dir),
        maxHamming = 4)
        .orderBy("a_id", "b_id")
    },

    // ---- hash-checked MinHash recall contract ----
    // The exact side (inverted-index Jaccard ≥ 0.8, kept-set sizes ≥ 16)
    // is recomputed by DuckDB; the oracle asserts recalled = TRUE on
    // every row, i.e. LSH candidate generation misses NO substantial
    // near-dup pair. See Dedup.minhashRecall for the band-bound math
    // and why the size floor excludes df-cut artifacts.
    QueryDef("d9_minhash_recall",
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1), i -> substr(text, CAST(i AS INTEGER), 5)))) AS g
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh) t WHERE df <= 50
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT p.a_id, p.b_id, p.common, sa.sz AS a_sz, sb.sz AS b_sz,
        |  CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) AS jaccard,
        |  TRUE AS recalled
        |FROM pairs p JOIN sizes sa ON p.a_id = sa.doc_id JOIN sizes sb ON p.b_id = sb.doc_id
        |WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= 0.8
        |  AND least(sa.sz, sb.sz) >= 16
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      // exact side = the shared pair set filtered to the audit band
      // (0.8 ⊂ 0.6, same shingle/df params); candidates = d7's set.
      Dedup.minhashRecallFrom(
        jaccardPairs(s, dir).where(col("jaccard") >= 0.8 &&
          least(col("a_sz"), col("b_sz")) >= 16),
        minhashCandidates(s, dir))
        .orderBy("a_id", "b_id")
    },

    // ---- multimodal metadata over the binary payload column ----
    QueryDef("m1_multimodal_meta",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  octet_length(encode(text)) // 256 + 1 AS frame_count,
        |  md5(text) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.withPayload(Tables.documents(s, dir))
        .select(
          col("doc_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          (octet_length(col("payload")).cast("long") / 256).cast("long")
            .as("frame_count_raw"),
          md5(col("text")).as("fp"))
        .withColumn("frame_count", col("frame_count_raw") + 1)
        .drop("frame_count_raw")
        .select("doc_id", "n_bytes", "frame_count", "fp")
        .orderBy("doc_id")
    },

    // ---- typed mapPartitions batch decode, oracle-checked ----
    // The decode path itself (Multimodal.decodeFeatures: binary payload
    // → per-partition typed decode) declared as a query. The stub's
    // outputs are pure byte arithmetic, and the corpus is ASCII, so
    // DuckDB can recompute them per character (ord == byte): the
    // mapPartitions plumbing — encoder round-trip, batch iteration,
    // output schema — is verified cell-exact, not just rows>0. A real
    // codec swaps decodeStub; the verified plumbing is what carries
    // over. mean_byte = one double division after exact integer sums,
    // identical on both sides.
    QueryDef("m2_decode_features",
      """WITH chars AS (
        |  SELECT doc_id, ord(substr(text, CAST(i AS INT), 1)) AS b, length(text) AS n
        |  FROM documents, unnest(range(1, length(text)+1)) AS t(i)
        |)
        |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_bytes,
        |  CAST(MAX(n) // 256 + 1 AS BIGINT) AS frame_count,
        |  CAST(SUM(b) AS DOUBLE) / MAX(n) AS mean_byte
        |FROM chars GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.decodeFeatures(
        graft.operators.Multimodal.withPayload(Tables.documents(s, dir)))
        .select("doc_id", "n_bytes", "frame_count", "mean_byte")
        .orderBy("doc_id")
    },

    // ---- frame-sampling manifest (video-ish payload → frame rows) ----
    // Every 4th fake frame (256-byte granularity, m2's arithmetic)
    // becomes a manifest row with a presentation timestamp and a
    // leading-bytes fingerprint. Row-local generate, ZERO shuffles —
    // at 100 TB frame expansion is a flatMap, never an exchange; the
    // fingerprint expression is the real-decoder swap point.
    QueryDef("m3_frame_manifest",
      """WITH f AS (
        |  SELECT doc_id, text, length(text) // 256 + 1 AS frame_count
        |  FROM documents
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(i * 40 AS BIGINT) AS ts_ms,
        |  substr(md5(substr(text, CAST(i * 256 + 1 AS INT), 16)), 1, 8) AS frame_fp
        |FROM f, unnest(range(0, frame_count, 4)) AS t(i)
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.sampleFrames(Tables.documents(s, dir))
        .orderBy("doc_id", "frame_idx")
    },

    // ---- m4: REAL codec through the decode seam (javax.imageio) ----
    // The round-11 gap closed: both prior decoders were synthetic byte
    // arithmetic. Here the payloads are genuine PNG binaries (encoded
    // on executors from a deterministic pixel formula), the decoder is
    // the JDK image codec behind the SAME Multimodal.decodeFeatures
    // seam m2 uses, and the oracle knows nothing of PNG — it recomputes
    // width/height/pixel-sum analytically from the generation params.
    // A codec that mis-decoded a single pixel breaks the hash.
    QueryDef("m4_png_decode", graft.fixtures.Images.oracleSql) { (s, dir) =>
      graft.operators.Multimodal.decodeFeatures(
          graft.fixtures.Images.pngPayloads(s),
          decoder = graft.operators.Multimodal.ImageIoDecoder)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).cast("long").as("pix_sum"))
        .orderBy("doc_id")
    },

    // ---- m5: REAL image transform through the media pipeline ----
    // The transform half of multimodal processing: genuine PNG bytes
    // are decoded, 2×2 integer-average-pooled, re-ENCODED as PNG on
    // executors, then independently re-decoded for verification — four
    // real codec passes, zero shuffles, payloads never on the driver.
    // The oracle replays the pool arithmetic analytically from the
    // generation params (per-cell SUM // COUNT with border clipping),
    // so a defect anywhere in decode → pool → encode → decode breaks
    // the hash.
    QueryDef("m5_png_avgpool", graft.fixtures.Images.pooledOracleSql) {
      (s, dir) =>
        val pooled = graft.operators.Multimodal.transformPayloads(
          graft.fixtures.Images.pngPayloads(s),
          graft.operators.Multimodal.AvgPool2Transformer)
        graft.operators.Multimodal.decodeFeatures(pooled,
            decoder = graft.operators.Multimodal.ImageIoDecoder)
          .select(col("doc_id"),
            element_at(col("features"), 1).cast("long").as("width"),
            element_at(col("features"), 2).cast("long").as("height"),
            element_at(col("features"), 3).cast("long").as("pix_sum"))
          .orderBy("doc_id")
    },

    // ---- m6: REAL audio codec through the decode seam ----
    // Completes the media triple: image (m4/m5, javax.imageio), AUDIO
    // (here, javax.sound.sampled — the JDK RIFF/WAVE codec), video
    // (m3's manifest sampling). Payloads are genuine WAV containers
    // (16-bit LE mono PCM encoded on executors from a deterministic
    // sample formula), the decoder is the JDK audio codec behind the
    // SAME Multimodal.decodeFeatures seam, and the oracle knows
    // nothing of RIFF — it recomputes duration / energy / zero
    // crossings / peak analytically from the generation params. The
    // sample rate is read from the container header, so a header
    // mis-parse or a single mis-decoded PCM frame breaks the hash.
    QueryDef("m6_wav_decode", graft.fixtures.Audio.oracleSql) { (s, dir) =>
      graft.operators.Multimodal.decodeFeatures(
          graft.fixtures.Audio.wavPayloads(s),
          decoder = graft.operators.Multimodal.WavPcmDecoder)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("sample_rate"),
          element_at(col("features"), 2).cast("long").as("n_samples"),
          element_at(col("features"), 3).cast("long").as("sum_sq"),
          element_at(col("features"), 4).cast("long").as("zero_crossings"),
          element_at(col("features"), 5).cast("long").as("peak_abs"))
        .orderBy("doc_id")
    },

    // ---- m7: windowed audio features (1:N decode seam) ----
    // The frame/window-extraction shape every speech pipeline has:
    // decode the WAV container ONCE, emit one row per fixed-size
    // analysis window (tail partial kept) with exact integer features.
    // The expansion is a typed flatMap inside the scan stage — zero
    // shuffles; at 100 TB window explosion must never be an exchange.
    // Oracle replays the windows analytically (i // 256 bucketing of
    // the closed-form sample function).
    QueryDef("m7_wav_windows", graft.fixtures.Audio.windowOracleSql(256)) {
      (s, dir) =>
        graft.operators.Multimodal.decodeAudioWindows(
            graft.fixtures.Audio.wavPayloads(s),
            new graft.operators.Multimodal.WavWindowDecoder(256))
          .orderBy("doc_id", "window_idx")
    },

    // ---- m8: media ingestion from a DIRECTORY OF FILES ----
    // The shape a 100 TB image corpus actually arrives in: loose
    // files in an object store, identity in the file NAME. Spark's
    // built-in `binaryFile` source lists + reads them as (path,
    // length, content) rows — each file one row, read on executors,
    // partitioned by Spark's ordinary file-split scheduling —
    // `pathGlobFilter` excludes the planted non-image at LISTING time
    // (never read, never decoded), the doc id is parsed from the
    // filename, and the payloads flow through the SAME decode seam as
    // m4. The oracle is m4's: identical analytic expectations, so
    // byte drift anywhere in write-to-disk → list → read → decode
    // breaks the hash.
    QueryDef("m8_binary_ingest", graft.fixtures.Images.oracleSql) { (s, dir) =>
      val pngDir = graft.fixtures.Images.writePngDir(
        "spark-warehouse/png_files" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      val files = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(pngDir)
        .select(
          regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
            .cast("long").as("doc_id"),
          col("content").as("payload"))
      graft.operators.Multimodal.decodeFeatures(files,
          decoder = graft.operators.Multimodal.ImageIoDecoder)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).cast("long").as("pix_sum"))
        .orderBy("doc_id")
    },

    // ---- m9: perceptual near-dup image pairs (average hash) ----
    // Media dedup joining the two strongest families on the board:
    // genuine PNG bytes flow through the m4 decoder seam into the 8×8
    // average-hash (AHashDecoder — mean-threshold bits via exact
    // cross-multiplication, the 64-bit hash packed lossless as two
    // 32-bit halves in the double feature contract), then the pair
    // generation is d8's EXISTING machinery: reassemble the long,
    // 16-bit band split, pigeonhole band join (hamming ≤ 3 over 64
    // bits ⇒ some band equal — candidates are provably complete),
    // exact bit_count(xor) verify. At 100 TB the hash table is
    // signature-sized (16 bytes/image) and the join is band-bucketed —
    // never all-pairs. The oracle knows nothing of PNG or bands: it
    // replays cells → bits analytically from the generation params and
    // brute-forces all-pairs hamming at fixture scale.
    QueryDef("m9_image_neardup", graft.fixtures.Images.ahashOracleSql) { (s, dir) =>
      val sigs = graft.operators.Multimodal.decodeFeatures(
          graft.fixtures.Images.neardupPayloads(s),
          decoder = graft.operators.Multimodal.AHashDecoder)
        .select(col("doc_id"),
          expr("shiftleft(CAST(features[2] AS BIGINT), 32) | CAST(features[3] AS BIGINT)")
            .as("simhash"))
      val banded = graft.operators.TextOps.simhashBands("simhash")
        .foldLeft(sigs) { case (df, (name, c)) => df.withColumn(name, c) }
        .localCheckpoint(true) // signature-sized; avoids band re-inlining
      Dedup.simhashPairsFrom(banded, maxHamming = 3)
        .select(col("a_id").as("id_a"), col("b_id").as("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    },

    // ---- m10: header-only media metadata scan (no decode) ----
    // The triage pass a media pipeline runs BEFORE spending decode
    // CPU: image dimensions read straight out of the container header
    // bytes with relational expressions — PNG's fixed layout (8-byte
    // signature, IHDR first: width/height as big-endian u32 at offsets
    // 17/21, bit depth at 25, color type at 26) parsed via
    // substring→hex→conv, all codegen'd, ZERO codec involvement. At
    // 100 TB this is what partitions a heterogeneous media corpus by
    // size/type without decoding a single frame; rows failing the
    // signature check are surfaced, not crashed on. The oracle knows
    // the generation parameters; the engine must recover them from
    // raw container bytes — cross-checked against m4's full decode by
    // construction (same fixture).
    QueryDef("m10_png_header_scan", {
      val values = graft.fixtures.Images.specs
        .map(t => s"(${t._1}, ${t._2}, ${t._3})").mkString(", ")
      s"""WITH imgs(img_id, w, h) AS (VALUES $values)
         |SELECT img_id AS doc_id, CAST(w AS BIGINT) AS width,
         |  CAST(h AS BIGINT) AS height,
         |  CAST(8 AS BIGINT) AS bit_depth, CAST(0 AS BIGINT) AS color_type
         |FROM imgs ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      graft.fixtures.Images.pngPayloads(s)
        // container sniff: rows that aren't PNG fail loud here, they
        // don't produce garbage dimensions
        .where(expr("hex(substring(payload, 1, 8)) = '89504E470D0A1A0A'"))
        .select(col("doc_id"),
          expr("CAST(conv(hex(substring(payload, 17, 4)), 16, 10) AS BIGINT)")
            .as("width"),
          expr("CAST(conv(hex(substring(payload, 21, 4)), 16, 10) AS BIGINT)")
            .as("height"),
          expr("CAST(conv(hex(substring(payload, 25, 1)), 16, 10) AS BIGINT)")
            .as("bit_depth"),
          expr("CAST(conv(hex(substring(payload, 26, 1)), 16, 10) AS BIGINT)")
            .as("color_type"))
        .orderBy("doc_id")
    },

    // ---- m11: ISO-BMFF/MP4 container header triage (box walk) ----
    // Completes the media-triage matrix (PNG m10, WAV header in m6)
    // for the container family where fixed offsets DON'T work: MP4
    // metadata lives behind a box-length walk (moov before or after
    // an arbitrary-size mdat, free padding, udta siblings — the
    // fixture exercises every layout). The walk is a bounded unrolled
    // chain of substr/hex/conv expressions — codegen'd scan-stage
    // math, zero shuffles, zero codec CPU: at 100 TB this is what
    // routes a mixed media corpus to per-type decode pools and prunes
    // sub-second clips without reading past the header bytes. The
    // oracle replays expected facts from generation params alone;
    // agreement proves the engine recovered them from raw container
    // bytes. Non-BMFF payloads surface as is_bmff=false rows (spec'd
    // in MultimodalSpec), never as garbage dimensions.
    // Handle MEMOIZED per session (r18, the Tables.load prepared-
    // statement shape): the Bmff walk's named-column unroll is ~40
    // stacked Projects, and rebuilding + re-analyzing that plan cost
    // 0.38 s of pure driver time per invocation (ProfileMain "m11":
    // wall 1.40 s, jobs 0.11 s, gap 1.29 s) — 92% of the query's wall
    // was planning the same constant fixture plan again. The cache
    // holds the LAZY analyzed frame only; every run still encodes the
    // payloads on executors and walks the bytes (noop sink forces full
    // execution — no rows, no results are retained).
    QueryDef("m11_mp4_header_scan", graft.fixtures.Video.oracleSql) {
      (s, dir) =>
        graft.sources.SessionCache.getOrElseUpdate(s, s"m11:$dir") {
          graft.operators.Bmff.triage(graft.fixtures.Video.mp4Payloads(s))
            .where(col("is_bmff"))
            .select("doc_id", "brand", "width", "height", "timescale",
              "duration", "duration_ms")
            .orderBy("doc_id")
        }
    },

    // ---- m12: JPEG header triage (SOF marker walk) ----
    // Completes the triage matrix's third parse class: PNG is fixed
    // offsets (m10), ISO-BMFF is a length-prefixed box walk (m11),
    // JPEG is a MARKER walk — variable-length FF-prefixed segments
    // whose count before SOFn differs by encoder, so dimensions are
    // only reachable by segment-length arithmetic. Same named-column
    // unroll, codegen'd scan-stage math, zero shuffles, zero decode.
    // JPEG is lossy so only the exact header facts are oracle
    // material: SOF dimensions must equal the generation specs,
    // precision 8, one component (grayscale). Non-JPEG payloads
    // surface as is_jpeg=false rows (MultimodalSpec).
    QueryDef("m12_jpeg_header_scan", {
      val values = graft.fixtures.Images.specs
        .map(t => s"(${t._1}, ${t._2}, ${t._3})").mkString(", ")
      s"""WITH imgs(img_id, w, h) AS (VALUES $values)
         |SELECT img_id AS doc_id, CAST(8 AS BIGINT) AS precision,
         |  CAST(h AS BIGINT) AS height, CAST(w AS BIGINT) AS width,
         |  CAST(1 AS BIGINT) AS components
         |FROM imgs ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // same per-session handle memo as m11: the marker-walk unroll's
      // plan is the cost at this row count, not the bytes
      graft.sources.SessionCache.getOrElseUpdate(s, s"m12:$dir") {
        graft.operators.Jpeg.triage(graft.fixtures.Images.jpegPayloads(s))
          .where(col("is_jpeg"))
          .select("doc_id", "precision", "height", "width", "components")
          .orderBy("doc_id")
      }
    },

    // ---- m13: REAL multi-frame decode through the video seam ----
    // m3's frame manifest sampled SYNTHETIC frames (byte arithmetic on
    // text payloads) with the decode step a declared stub; this is the
    // stub made real with the one multi-frame container the JDK can
    // step natively: genuine GIF89a animations (encoded on executors
    // over an identity 256-gray palette) frame-decoded by
    // javax.imageio behind the typed FrameDecoder seam — decode once,
    // one row per frame, a flatMap inside the scan stage, zero
    // shuffles. The oracle knows nothing of GIF: it recomputes every
    // frame's width/height/pixel-sum analytically from the generation
    // params, so a dropped frame, a palette mis-map, or a single bad
    // pixel breaks the hash. A production video codec swaps in behind
    // the same trait (the honest remaining stub is now only
    // codec-format breadth, not the pipeline shape).
    QueryDef("m13_gif_frame_decode", graft.fixtures.Gif.oracleSql) {
      (s, dir) =>
        graft.operators.Multimodal.decodeVideoFrames(
            graft.fixtures.Gif.gifPayloads(s),
            graft.operators.Multimodal.GifFrameDecoder)
          .orderBy("doc_id", "frame_idx")
    },

    // ---- blocked edit-distance (Levenshtein) near-dup pairs ----
    // The character-level complement to token Jaccard (d6) and
    // hash sketches (d7/d8): catches small in-place edits that shift
    // every downstream shingle. Quadratic DP cost is tamed two ways —
    // candidates come from a deterministic equi-join block (same lang,
    // same 64-char length bucket: |len(a)-len(b)| > ed bound implies
    // distance > bound, so near-dups rarely straddle buckets; the
    // blocking IS part of the declared semantics, like s3's label
    // block), and the DP runs on 120-char prefixes, making per-pair
    // cost a constant independent of document length. At scale the
    // block join is one shuffle on (lang, bucket) and blocks stay
    // ~|corpus|/(langs·buckets); Spark's bounded 3-arg
    // levenshtein(l, r, t) would early-exit rows > t but returns -1
    // sentinels, so the oracle-portable 2-arg form is declared here.
    QueryDef("d13_editdist_pairs",
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars // 64 AS bkt, substr(text, 1, 120) AS p
        |  FROM documents
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS ed
        |FROM d a JOIN d b ON a.lang = b.lang AND a.bkt = b.bkt
        |  AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.p, b.p) <= 45
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") / 64).cast("long").as("bkt"),
          substring(col("text"), 1, 120).as("p"))
      val a = d.select(col("lang"), col("bkt"),
        col("doc_id").as("a_id"), col("p").as("pa"))
      val b = d.select(col("lang"), col("bkt"),
        col("doc_id").as("b_id"), col("p").as("pb"))
      // native banded DP (functions/EditDist): byte-level Levenshtein
      // with threshold early-exit — one expression yields filter AND
      // value (>= 0 ⟺ distance <= 45, and then IS the distance);
      // EditDistSpec pins equality with the builtin on ASCII. The
      // builtin's per-codepoint UTF8String walk was ~2.5× the cost
      // per pair (49 µs vs 20 µs).
      //
      // The partitioning is the bigger lesson. A compact corpus file
      // scans as ONE partition, a broadcast join inherits the streamed
      // side's partitioning, and Catalyst pushes the DP filter BELOW
      // any repartition of the join output — three reasonable defaults
      // that compose into the whole O(pairs·len·k) stage running on a
      // single core (19 s at sf0.1). The fix is declarative: spread
      // the STREAMED INPUT over the cluster (explicit numPartitions so
      // AQE won't coalesce byte-tiny-but-compute-heavy partitions) and
      // broadcast the other side — the DP now lives in the join stage
      // and cannot sink below its own input. 12× wall-clock.
      graft.functions.EditDist.register(s)
      // Declared-quadratic contract, now enforced in code (r13 verdict
      // item 5): the block-pair budget passes the sf1 decade and
      // refuses the sf10 one, pointing the caller at d25's PPJoin-gated
      // composition instead of silently running the quadratic form.
      Dedup.requireBlockPairBudget(d.select("lang", "bkt"),
        Seq("lang", "bkt"), maxBlockPairs = 200000000L,
        scalePath = "Dedup.ppjoinPairs-gated verification (d25_editdist_verified)")
      val par = s.conf.get("spark.sql.shuffle.partitions").toInt
      a.repartition(par, col("a_id"))
        .join(broadcast(b), Seq("lang", "bkt"))
        .where(col("a_id") < col("b_id"))
        .withColumn("ed", expr("bedit(pa, pb, 45)").cast("long"))
        .where(col("ed") >= 0)
        .select("a_id", "b_id", "ed")
        .orderBy("a_id", "b_id")
    },

    // ---- scale-path edit-distance join: PPJoin candidates → DP verify ----
    // d13's dense-threshold contract (ed ≤ 45 of 120 chars) admits no
    // lossless cheap prefilter, so its lang×length-block DP is
    // quadratic-in-block BY CONTRACT — measured 65 s on the sf1 decade
    // (round-11 curve) as block density grows linearly with corpus.
    // This is the production alternative: DP-verify ONLY the d24-style
    // exact near-dup candidate set (word-3-gram J ≥ 0.6, prefix-
    // filtered, sub-quadratic), then apply the same block + threshold.
    // The contract narrows to "edit distance among content near-dups"
    // — which is what an ed-join is FOR in a dedup pipeline — and the
    // oracle replays the entire composition exactly (full inverted
    // index + levenshtein), so candidate completeness w.r.t. the
    // declared contract is re-proven every run.
    QueryDef("d25_editdist_verified",
      """WITH t0 AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS lt FROM documents
        |), t AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(lt) - 2, 0) + 1),
        |    i -> lt[i] || ' ' || lt[i+1] || ' ' || lt[i+2]))) AS g
        |  FROM t0
        |), sz AS (
        |  SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id
        |), c AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM t a JOIN t b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), jp AS (
        |  SELECT c.a_id, c.b_id
        |  FROM c JOIN sz sa ON c.a_id = sa.doc_id JOIN sz sb ON c.b_id = sb.doc_id
        |  WHERE 10000 * c.common >= 6000 * (sa.n + sb.n - c.common)
        |), d AS (
        |  SELECT doc_id, lang, n_chars // 64 AS bkt, substr(text, 1, 120) AS p
        |  FROM documents
        |)
        |SELECT jp.a_id, jp.b_id, CAST(levenshtein(da.p, db.p) AS BIGINT) AS ed
        |FROM jp JOIN d da ON jp.a_id = da.doc_id JOIN d db ON jp.b_id = db.doc_id
        |WHERE da.lang = db.lang AND da.bkt = db.bkt
        |  AND levenshtein(da.p, db.p) <= 45
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      graft.functions.EditDist.register(s)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") / 64).cast("long").as("bkt"),
          substring(col("text"), 1, 120).as("p"))
      Dedup.ppjoinPairs(Tables.documents(s, dir))
        .select("a_id", "b_id")
        .join(d.select(col("doc_id").as("a_id"), col("lang").as("la"),
          col("bkt").as("ba"), col("p").as("pa")), Seq("a_id"))
        .join(d.select(col("doc_id").as("b_id"), col("lang").as("lb"),
          col("bkt").as("bb"), col("p").as("pb")), Seq("b_id"))
        .where(col("la") === col("lb") && col("ba") === col("bb"))
        .withColumn("ed", expr("bedit(pa, pb, 45)").cast("long"))
        .where(col("ed") >= 0)
        .select("a_id", "b_id", "ed")
        .orderBy("a_id", "b_id")
    },

    // ---- benchmark decontamination (word 4-gram overlap) ----
    // Flags every train document sharing a word 4-gram with the
    // benchmark slice (doc_id % 101 = 0 stands in for a held-out eval
    // suite). Eval suites are tiny at any corpus scale, so the bench
    // gram set is BROADCAST: the train side is scan + broadcast-semi
    // + one doc-keyed agg — no shuffle proportional to corpus size.
    QueryDef("d14_decontaminate",
      """WITH toks AS (
        |  SELECT doc_id, doc_id % 101 = 0 AS is_bench,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, is_bench,
        |    unnest(list_distinct(list_transform(range(1, greatest(len(t) - 3, 0) + 1),
        |      i -> array_to_string(t[i:i+3], ' ')))) AS g
        |  FROM toks
        |), bench AS (
        |  SELECT DISTINCT g FROM grams WHERE is_bench
        |), hits AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM grams WHERE NOT is_bench AND g IN (SELECT g FROM bench)
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 101 != 0
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      Curation.decontaminate(Tables.documents(s, dir),
          isBench = col("doc_id") % 101 === 0, n = 4)
        .orderBy("doc_id")
    },

    // ---- paragraph-level decontamination (span removal) ----
    // The span-REMOVAL refinement of d14: instead of flagging whole
    // documents, split each train doc into non-overlapping 32-token
    // paragraphs (p12's fixed-window convention — the synthetic corpus
    // has no newline structure), judge each paragraph against the
    // benchmark 4-gram set independently, and emit the span
    // arithmetic: paragraph counts, surviving token count, and the
    // scrubbed text (clean paragraphs rejoined in document order, ""
    // when everything leaked). The oracle replays the identical
    // window/gram/rejoin arithmetic with DuckDB list ops, so the
    // scrubbed strings themselves are hash-compared, not just counts.
    // Scale shape = d14's: broadcast gram set, scan-side explode, hit
    // aggregate bounded by contaminated spans, doc-keyed rollup whose
    // collect_list is bounded by one doc's own paragraphs.
    QueryDef("d19_decontaminate_spans",
      """WITH train AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents WHERE doc_id % 101 != 0
        |), bench AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |      range(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), i, i + 3), ' ')))) AS g
        |  FROM documents WHERE doc_id % 101 = 0
        |), paras AS (
        |  SELECT doc_id, CAST(s // 32 AS BIGINT) AS para_idx,
        |    list_slice(t, s + 1, s + 32) AS ptoks
        |  FROM train, unnest(range(0, greatest(len(t), 1), 32)) AS u(s)
        |), pg AS (
        |  SELECT doc_id, para_idx,
        |    unnest(list_distinct(list_transform(range(1, greatest(len(ptoks) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(ptoks, i, i + 3), ' ')))) AS g
        |  FROM paras
        |), hits AS (
        |  SELECT doc_id, para_idx, COUNT(*) AS n_hits FROM pg
        |  WHERE g IN (SELECT g FROM bench) GROUP BY doc_id, para_idx
        |), judged AS (
        |  SELECT p.doc_id, p.para_idx, len(p.ptoks) AS p_tokens,
        |    array_to_string(p.ptoks, ' ') AS ptext,
        |    coalesce(h.n_hits, 0) > 0 AS dirty
        |  FROM paras p LEFT JOIN hits h
        |    ON p.doc_id = h.doc_id AND p.para_idx = h.para_idx
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
        |  CAST(SUM(CASE WHEN dirty THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty_paras,
        |  CAST(SUM(CASE WHEN NOT dirty THEN p_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
        |  COALESCE(string_agg(CASE WHEN NOT dirty THEN ptext END, ' ' ORDER BY para_idx), '') AS scrubbed_text
        |FROM judged GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.decontaminateSpans(Tables.documents(s, dir),
          isBench = col("doc_id") % 101 === 0, n = 4, paraTokens = 32)
        .orderBy("doc_id")
    },

    // ---- corpus-internal duplicated-substring spans (ExactSubstr) ----
    // Relationalized ExactSubstr dedup (Lee et al. 2022): every
    // maximal token region occurring >= 2 times corpus-wide, found as
    // stride-1 16-token grams -> one groupBy(g) for the duplicated
    // set -> semi-join flagging -> per-doc gaps-and-islands window
    // merge. Where the paper's suffix array is single-node RAM-bound,
    // every stage here shards: the gram table is token-count-sized,
    // the semi-join shuffles on g (never broadcast — duplicated grams
    // grow with the corpus), the island merge is a doc-bounded
    // window. The span strings themselves are hash-compared, and the
    // duplicated share is integer basis points (div — portable).
    QueryDef("d20_dup_substring_spans",
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents
        |), occ AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS st,
        |    array_to_string(list_slice(t, CAST(i AS INTEGER), CAST(i + 15 AS INTEGER)), ' ') AS g
        |  FROM toks, unnest(range(1, greatest(len(t) - 15, 0) + 1)) AS u(i)
        |), dup AS (
        |  SELECT g FROM occ GROUP BY g HAVING COUNT(*) >= 2
        |), flagged AS (
        |  SELECT doc_id, st, st + 15 AS en FROM occ
        |  WHERE g IN (SELECT g FROM dup)
        |), isl AS (
        |  SELECT doc_id, st, en,
        |    CASE WHEN st > COALESCE(MAX(en) OVER (PARTITION BY doc_id ORDER BY st
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS new_span
        |  FROM flagged
        |), isl2 AS (
        |  SELECT doc_id, st, en, SUM(new_span) OVER (PARTITION BY doc_id ORDER BY st
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM isl
        |), spans AS (
        |  SELECT doc_id, island, MIN(st) AS sp_st, MAX(en) AS sp_en
        |  FROM isl2 GROUP BY doc_id, island
        |), per_doc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |    CAST(SUM(sp_en - sp_st + 1) AS BIGINT) AS dup_tokens,
        |    string_agg(sp_st || '-' || sp_en, ',' ORDER BY sp_st) AS spans
        |  FROM spans GROUP BY doc_id
        |)
        |SELECT p.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens, p.n_spans,
        |  p.dup_tokens, (10000 * p.dup_tokens) // CAST(len(tk.t) AS BIGINT) AS dup_bp,
        |  p.spans
        |FROM per_doc p JOIN toks tk ON p.doc_id = tk.doc_id
        |ORDER BY p.doc_id""".stripMargin) { (s, dir) =>
      Dedup.dupSubstringSpans(Tables.documents(s, dir), windowTokens = 16)
        .orderBy("doc_id")
    },

    // ---- cross-source contamination matrix (data governance) ----
    // WHICH sources duplicate WHICH: the d6 near-dup pairs (session-
    // memoized — d6/d10/p6 share them) joined to each side's source
    // dim, normalized to an unordered (source_a ≤ source_b) cell, and
    // rolled up. The diagonal is within-source duplication; off-
    // diagonal cells are cross-source copying — the report that
    // decides which feed gets deduped against which at ingest. Plan:
    // two broadcast-able dim joins + one tiny rollup on top of the
    // already-materialized pair set; nothing new touches the corpus.
    QueryDef("d21_source_contamination",
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1), i -> substr(text, CAST(i AS INTEGER), 5)))) AS g
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh) t WHERE df <= 50
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), near AS (
        |  SELECT p.a_id, p.b_id
        |  FROM pairs p JOIN sizes sa ON p.a_id = sa.doc_id JOIN sizes sb ON p.b_id = sb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= 0.6
        |)
        |SELECT least(da.source, db.source) AS source_a,
        |  greatest(da.source, db.source) AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM near n JOIN documents da ON n.a_id = da.doc_id
        |  JOIN documents db ON n.b_id = db.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      // no broadcast hints: the (doc_id, source) side is doc-count-
      // sized (NOT a dim at 100 TB); the near-dup pair set is the
      // small side and AQE picks the right build side per scale
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      jaccardPairs(s, dir)
        .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), Seq("a_id"))
        .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), Seq("b_id"))
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    },

    // ---- PII redaction (email/phone scrub + residual audit) ----
    // The corpus is synthetic word-salad with no real PII, so the raw
    // column deterministically embeds a doc-derived email and phone
    // IN BOTH ENGINES — the oracle then checks the regex counting,
    // the scrub itself (full redacted strings hash-compared), and the
    // converged `clean` audit. Row-local expressions only: the scrub
    // runs scan-speed inside whole-stage codegen at any scale.
    QueryDef("d15_pii_redact",
      """WITH raw AS (
        |  SELECT doc_id,
        |    'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or call 415-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || text AS raw
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(raw,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted,
        |  len(regexp_extract_all(regexp_replace(regexp_replace(raw,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) = 0
        |  AND len(regexp_extract_all(regexp_replace(regexp_replace(raw,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |    '\d{3}-\d{3}-\d{4}')) = 0 AS clean
        |FROM raw ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(lit("contact user"), col("doc_id").cast("string"),
            lit("@example.com or call 415-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" "), col("text")).as("raw"))
      Curation.piiRedact(docs, col("raw")).orderBy("doc_id")
    },

    // ---- incremental-ingest admission (new batch vs corpus) ----
    // The arriving-data half of dedup: a new batch (doc_id % 5 = 0
    // stands in for today's crawl) is admitted against the existing
    // corpus — exact content-hash rejects plus shingle-Jaccard near-dup
    // rejects, NEW×CORPUS pairs only. The df cut spans corpus ∪ batch
    // so both engines prune identical stop-shingles.
    QueryDef("d16_incremental_admit",
      """WITH sh AS (
        |  SELECT doc_id, doc_id % 5 = 0 AS is_new,
        |    unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
        |      i -> substr(text, CAST(i AS INTEGER), 5)))) AS g
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, is_new, g FROM (
        |    SELECT doc_id, is_new, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh) t
        |  WHERE df <= 50
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
        |), near AS (
        |  SELECT DISTINCT p.a_id AS doc_id FROM (
        |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |    FROM kept a JOIN kept b ON a.g = b.g AND a.is_new AND NOT b.is_new
        |    GROUP BY a.doc_id, b.doc_id) p
        |  JOIN sizes sa ON p.a_id = sa.doc_id
        |  JOIN sizes sb ON p.b_id = sb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= 0.6
        |), exact AS (
        |  SELECT DISTINCT n.doc_id FROM documents n JOIN documents c
        |    ON md5(n.text) = md5(c.text) AND n.doc_id % 5 = 0 AND c.doc_id % 5 != 0
        |)
        |SELECT d.doc_id,
        |  d.doc_id IN (SELECT doc_id FROM exact) AS exact_dup,
        |  d.doc_id IN (SELECT doc_id FROM near) AS near_dup,
        |  NOT (d.doc_id IN (SELECT doc_id FROM exact)
        |    OR d.doc_id IN (SELECT doc_id FROM near)) AS admit
        |FROM documents d WHERE d.doc_id % 5 = 0
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      Dedup.incrementalAdmit(Tables.documents(s, dir),
          isNew = col("doc_id") % 5 === 0, minJaccard = 0.6, maxDf = 50)
        .orderBy("doc_id")
    })
}
