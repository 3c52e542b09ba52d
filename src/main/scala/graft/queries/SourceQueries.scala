package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.{Tables, Warehouse}

/** Text source formats (SURVEY S6): CSV and JSON-lines exports written
  * by the engine and read back through explicit-schema readers, then
  * aggregated — proving the round trip preserves values. The oracle
  * computes the same aggregate from the original parquet, so any
  * export/parse drift (quoting, null rendering, number formatting)
  * breaks the hash.
  */
object SourceQueries {

  val all: Seq[QueryDef] = Seq(

    QueryDef("c1_csv_roundtrip",
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, dir) =>
      Warehouse.documentsCsv(s, dir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("sum_chars"))
        .orderBy("lang", "source")
    },

    QueryDef("c2_json_roundtrip",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Warehouse.ordersJson(s, dir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },

    QueryDef("c3_orc_roundtrip",
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Warehouse.lineitemOrc(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- c24: XML roundtrip (Spark 4 native xml source) ----
    // The wiki-dump / sitemap arrival format. One <doc> element per
    // row; text carries markup-significant characters, so writer
    // escaping + parser unescaping are inside the hash. md5 over the
    // round-tripped text pins byte fidelity; the aggregate pins row
    // fidelity.
    QueryDef("c24_xml_roundtrip",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(md5(text)) AS min_md5, MAX(md5(text)) AS max_md5
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, dir) =>
      Warehouse.documentsXml(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min(md5(col("text").cast("binary"))).as("min_md5"),
          max(md5(col("text").cast("binary"))).as("max_md5"))
        .orderBy("lang")
    },

    // ---- c5: parquet schema evolution via mergeSchema ----
    // Append-only column add: the merged read surfaces NULL for the
    // pre-evolution batch; the oracle recreates the same view from the
    // original table with a CASE on the batch split.
    QueryDef("c5_schema_evolution",
      """SELECT lang,
        |  CASE WHEN doc_id % 2 = 1 THEN source END AS source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Warehouse.documentsEvolved(s, dir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("sum_ids"))
        .orderBy("lang", "source")
    },

    // ---- c6: time travel + compaction over the versioned table ----
    // The Delta/Iceberg-class read surface (sources/ManifestTable):
    // the fixture commits v1 (partial aggregate), v2 (merged upsert),
    // v3 (compaction of v2 — data-identical, fewer files), and the
    // query diffs LATEST against readVersion(1): per changed user, the
    // before/after event counts and the cents delta. The oracle
    // replays both versions from raw events, so a reader that picked
    // an uncommitted snapshot, mixed versions, or lost rows in
    // compaction breaks the hash. Changed keys only (the CDC-style
    // contract: the diff is delta-sized, not dim-sized).
    QueryDef("c6_time_travel_diff",
      """WITH v1 AS (
        |  SELECT user_id, COUNT(*) AS n1,
        |    SUM(CAST(floor(value * 100) AS BIGINT)) AS c1
        |  FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
        |), d AS (
        |  SELECT user_id, COUNT(*) AS nd,
        |    SUM(CAST(floor(value * 100) AS BIGINT)) AS cd
        |  FROM events WHERE event_id % 3 = 0 GROUP BY user_id
        |)
        |SELECT COALESCE(v1.user_id, d.user_id) AS user_id,
        |  CAST(COALESCE(v1.n1, 0) AS BIGINT) AS n_before,
        |  CAST(COALESCE(v1.n1, 0) + d.nd AS BIGINT) AS n_after,
        |  CAST(d.cd AS BIGINT) AS delta_cents
        |FROM v1 FULL OUTER JOIN d ON v1.user_id = d.user_id
        |WHERE d.nd IS NOT NULL
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val latest = Warehouse.userSummaryVersioned(s, dir)
      val v1 = graft.sources.ManifestTable.readVersion(
          s, Warehouse.tablePath("user_summary_versioned", dir), 1L)
        .select(col("user_id").as("p_uid"), col("n_events").as("n_before"),
          col("total_cents").as("c_before"))
      latest.join(v1, col("p_uid") === col("user_id"), "full_outer")
        .select(
          coalesce(col("user_id"), col("p_uid")).as("user_id"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("n_events"), lit(0L)).as("n_after"),
          (coalesce(col("total_cents"), lit(0L))
            - coalesce(col("c_before"), lit(0L))).as("delta_cents"))
        .where(col("n_after") =!= col("n_before"))
        .orderBy("user_id")
    },

    // ---- c7: row-level change data feed between versions ----
    // The CDC read on the versioned table (ManifestTable.changeFeed):
    // v1 → latest as typed change rows — `insert` for keys born after
    // v1, `update_preimage`/`update_postimage` pairs for keys whose
    // summary changed, nothing for untouched keys (delta-sized
    // output, the CDF contract). The fixture's v3 is a compaction of
    // v2, so the feed across the compaction boundary must see ZERO
    // spurious changes from the rewrite — only the real v1→v2 delta.
    // The oracle replays both snapshots from raw events and builds
    // the same typed rows; a feed that misclassified an op, leaked an
    // unchanged key, or diffed against the wrong snapshot breaks the
    // hash.
    QueryDef("c7_change_feed",
      """WITH v1 AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
        |), v2 AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM events GROUP BY user_id
        |)
        |SELECT v2.user_id, v2.n_events, v2.total_cents,
        |  'insert' AS change_type
        |FROM v2 LEFT JOIN v1 ON v1.user_id = v2.user_id
        |WHERE v1.user_id IS NULL
        |UNION ALL
        |SELECT v1.user_id, v1.n_events, v1.total_cents,
        |  'update_preimage' AS change_type
        |FROM v1 JOIN v2 ON v1.user_id = v2.user_id
        |WHERE v1.n_events <> v2.n_events OR v1.total_cents <> v2.total_cents
        |UNION ALL
        |SELECT v2.user_id, v2.n_events, v2.total_cents,
        |  'update_postimage' AS change_type
        |FROM v1 JOIN v2 ON v1.user_id = v2.user_id
        |WHERE v1.n_events <> v2.n_events OR v1.total_cents <> v2.total_cents
        |ORDER BY user_id, change_type""".stripMargin) { (s, dir) =>
      Warehouse.userSummaryVersioned(s, dir) // build v1/v2/v3
      val path = Warehouse.tablePath("user_summary_versioned", dir)
      graft.sources.ManifestTable
        .changeFeed(s, path, 1L,
          graft.sources.ManifestTable.latestVersion(s, path),
          Seq("user_id"))
        .withColumnRenamed("_change_type", "change_type")
        .orderBy("user_id", "change_type")
    },

    // ---- c8: incremental view maintenance from the change feed ----
    // The capstone of the versioned-table surface: a bucket-level
    // rollup of user_summary maintained INCREMENTALLY — aggregate v1,
    // apply the v1→latest change feed through the signed-delta algebra
    // (ManifestTable.incrementalAgg), never re-reading the base — and
    // the result rows ARE the maintained values, flagged in-query
    // against a direct re-aggregation of the latest snapshot. The
    // oracle recomputes the rollup independently from raw events, so a
    // broken feed, broken delta algebra, or broken merge each break
    // the hash twice over (values and flags). At 100 TB the direct
    // path reads the world; the maintained path shuffles only the
    // delta.
    QueryDef("c8_incremental_agg",
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), v2 AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(cents) AS BIGINT) AS total_cents
        |  FROM ev GROUP BY user_id
        |)
        |SELECT CAST(user_id % 16 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(n_events) AS BIGINT) AS sum_events,
        |  CAST(SUM(total_cents) AS BIGINT) AS sum_cents,
        |  TRUE AS match_direct
        |FROM v2
        |GROUP BY user_id % 16
        |ORDER BY bucket""".stripMargin) { (s, dir) =>
      import graft.sources.ManifestTable
      Warehouse.userSummaryVersioned(s, dir) // build v1/v2/v3
      val path = Warehouse.tablePath("user_summary_versioned", dir)
      val latestV = ManifestTable.latestVersion(s, path)
      def rollup(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("bucket", pmod(col("user_id"), lit(16L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_users"),
          sum("n_events").as("sum_events"),
          sum("total_cents").as("sum_cents"))
      val feed = ManifestTable.changeFeed(s, path, 1L, latestV,
        Seq("user_id"))
        .withColumn("bucket", pmod(col("user_id"), lit(16L)))
      val maintained = ManifestTable.incrementalAgg(
        rollup(ManifestTable.readVersion(s, path, 1L)), feed,
        Seq("bucket"), "n_users",
        Seq("n_events" -> "sum_events", "total_cents" -> "sum_cents"))
      val direct = rollup(ManifestTable.readVersion(s, path, latestV))
        .select(col("bucket"), col("n_users").as("d_nu"),
          col("sum_events").as("d_se"), col("sum_cents").as("d_sc"))
      maintained.join(direct, Seq("bucket"), "full_outer")
        .select(col("bucket"), col("n_users"), col("sum_events"),
          col("sum_cents"),
          (col("n_users") <=> col("d_nu") &&
            col("sum_events") <=> col("d_se") &&
            col("sum_cents") <=> col("d_sc")).as("match_direct"))
        .orderBy("bucket")
    },

    // ---- c9: manifest data skipping (file-level min/max prune) ----
    // The range-clustered user_summary snapshot read through its
    // per-file stats manifest: only files whose [min, max] user band
    // overlaps [3, 7] are handed to the scan (file-level skipping, the
    // Delta/Iceberg metadata path — decided BEFORE any task is
    // scheduled, unlike parquet row-group pruning which pays a footer
    // read per file). The oracle recomputes the band from raw events,
    // so a manifest that drops a file it shouldn't — or misses rows at
    // the inclusive band edges — breaks the hash. The layout-vs-
    // correctness split (prune only SKIPS when clustered, is correct
    // always) is spec-proven in VersionedTableSpec.
    QueryDef("c9_stats_prune",
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events
        |WHERE user_id BETWEEN 3 AND 7
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import graft.sources.ManifestTable
      Warehouse.userSummaryClustered(s, dir) // commit v1 + stats
      ManifestTable.readVersionPruned(s,
        Warehouse.tablePath("user_summary_clustered", dir), 1L, "user_id", 3L, 7L)
        .select(col("user_id"), col("n_events"), col("total_cents"))
        .orderBy("user_id")
    },

    // ---- c10: 2-d box query over a z-ordered layout, both manifests ----
    // The composition that makes z-ordering pay at the FILE level:
    // events committed Morton-clustered on (user_id, cents) — each file
    // a compact rectangle in both dimensions — read through
    // readVersionPrunedMulti, which intersects the per-column manifest
    // prunes before scheduling the scan. A single-key clustering would
    // satisfy one band's manifest with tight ranges and the other with
    // full-domain files (no second-dimension skip); the Morton layout
    // skips on both (file-count assertions in VersionedTableSpec). The
    // oracle replays the box from raw events.
    QueryDef("c10_zorder_prune",
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM (SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS cents
        |      FROM events) t
        |WHERE user_id BETWEEN 3 AND 7 AND cents BETWEEN 2000 AND 4000
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import graft.sources.ManifestTable
      Warehouse.eventsZClustered(s, dir) // commit v1 + 2-col stats
      ManifestTable.readVersionPrunedMulti(s,
        Warehouse.tablePath("events_zclustered", dir), 1L,
        Seq(("user_id", 3L, 7L), ("cents", 2000L, 4000L)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
        .orderBy("user_id")
    },

    // ---- c11: gzip-compressed payload ingestion (REAL codec) ----
    // The shape a 100 TB crawl corpus arrives in: gzip members (WARC,
    // text dumps), decompressed per payload on executors through the
    // JDK's java.util.zip — a genuine compression codec, run against
    // the sf-SCALED documents corpus (not a fixture: the work grows
    // with the data). Per-doc byte length and md5 fingerprint of the
    // round-tripped bytes must match the oracle's view of the PLAIN
    // text — one corrupted byte anywhere in deflate/inflate breaks
    // the hash. Compress and decompress are separate mapPartitions
    // stages with zero shuffle between them; gzip's non-splittability
    // (parallelism = member count, never intra-file) is documented at
    // the seam (sources/CompressedIngest.scala).
    QueryDef("c11_gzip_ingest",
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.sources.CompressedIngest
      CompressedIngest.gunzipPayloads(
          CompressedIngest.gzipPayloads(Tables.documents(s, dir)))
        .select(col("doc_id"),
          length(col("payload")).cast("bigint").as("n_bytes"),
          md5(col("payload")).as("fp"))
        .orderBy("doc_id")
    },

    // ---- c12: bloom-manifest point lookup on an UNCLUSTERED layout ----
    // The 100 TB key-fetch shape min/max stats cannot serve: "pull
    // these doc ids from a table hash-distributed on the id" — every
    // file spans ~the full id domain, so range stats keep all of them,
    // while the per-file bloom manifest (functions/Bloom.scala sketches,
    // built per file in ONE groupBy(_metadata.file_path) scan) admits
    // only the files that can actually hold the probed keys. File
    // pruning happens BEFORE task scheduling (driver-side manifest
    // probes); the residual IN filter on the surviving files stays
    // exact, so bloom false positives cost bytes, never correctness.
    // VersionedTableSpec quantifies the contrast (min/max keeps 8/8,
    // bloom keeps ≤ probed-id count); the oracle replays the lookup
    // from the raw table.
    QueryDef("c12_bloom_point_lookup",
      """SELECT doc_id, lang, source, n_chars
        |FROM documents WHERE doc_id IN (7, 123, 321)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.sources.ManifestTable
      Warehouse.documentsHashed(s, dir) // commit v1 + stats + blooms
      ManifestTable.readVersionPrunedBloom(s,
        Warehouse.tablePath("documents_hashed", dir), 1L, "doc_id",
        Seq(7L, 123L, 321L))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // ---- c13: full-text keyword search through the token-bloom
    // manifest. "Find every document containing BOTH terms" answered
    // by (a) a driver-side probe of per-file vocabulary sketches that
    // schedules only files that can possibly match — the 100 TB grep
    // that never scans the corpus — and (b) the exact tokenized
    // containment filter on the survivors. False positives cost bytes;
    // false negatives are impossible, so results are exact — which is
    // why the oracle is the plain containment predicate. The skip
    // itself is quantified in VersionedTableSpec on a fixture whose
    // files have disjoint marker vocabularies (this corpus's 31-token
    // synthetic vocabulary appears in every file by construction).
    QueryDef("c13_token_search",
      """SELECT doc_id, source,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens
        |FROM documents
        |WHERE list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'dup')
        |  AND list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'vector')
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.sources.ManifestTable
      Warehouse.documentsText(s, dir) // commit v1 + token blooms
      ManifestTable.readVersionSearch(s,
        Warehouse.tablePath("documents_text", dir), 1L, "text", Seq("dup", "vector"))
        .select(col("doc_id"), col("source"),
          expr("CAST(size(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) AS BIGINT)")
            .as("n_tokens"))
        .orderBy("doc_id")
    },

    // ---- c14: metadata-only aggregation. COUNT(*)/MIN/MAX answered
    // from the per-file stats manifest with ZERO data files read (the
    // spec deletes them first and the answer still comes back) — the
    // catalog-ping-vs-full-scan difference for the dashboard aggregate
    // a 100 TB table serves hourly. The oracle computes the same three
    // values the honest way, from the raw table.
    QueryDef("c14_metadata_agg",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(doc_id) AS min_v, MAX(doc_id) AS max_v
        |FROM documents""".stripMargin) { (s, dir) =>
      import graft.sources.ManifestTable
      Warehouse.documentsHashed(s, dir) // commit v1 + stats + blooms
      ManifestTable.statsAgg(s,
        Warehouse.tablePath("documents_hashed", dir), 1L, "doc_id")
    },

    // ---- c15: shared-file manifest table (O(delta) appends). The
    // table was committed as TWO appends; v2's manifest REFERENCES
    // v1's files (never copies them — the spec audits the sharing),
    // and this query reads the latest version through the manifest.
    // The oracle aggregates the raw table: a lost file, a double-
    // referenced file, or a row duplicated across the append boundary
    // all break the hash.
    QueryDef("c15_append_scan",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
      Warehouse.documentsManifest(s, dir) // latest of two O(delta) appends
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    },

    // ---- c16: predicate-pruned DELETE on the manifest table. The
    // GDPR-erasure / bad-ingestion-window shape: doc_id ∈ [100, 199]
    // is removed as a NEW version that rewrote ONLY the range files
    // whose stats overlap the band (the spec counts them — most files
    // are referenced byte-identical). Reading the post-delete version
    // must agree with the raw table filtered the honest way: a row
    // surviving in a rewritten file, a lost row in an untouched one,
    // or a double-referenced file all break the hash.
    QueryDef("c16_delete_scan",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents WHERE doc_id NOT BETWEEN 100 AND 199
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      Warehouse.documentsManifestDel(s, dir) // post-delete latest version
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    },

    // ---- c17: copy-on-write MERGE INTO on the manifest table. The
    // dimension-upsert shape: doc_id ∈ [120, 179] updated in place
    // (n_chars + 1000) and 30 brand-new rows inserted, as ONE new
    // version that rewrote only the range files actually HOLDING a
    // matched key (two-phase skip: stats band, then exact key probe —
    // the spec counts the untouched references and the candidate file
    // whose band brackets a key it doesn't contain). The oracle
    // replays MERGE semantics relationally (left join for the update
    // arm, NOT EXISTS for the insert arm): a row updated in an
    // unmatched file, a lost or doubled insert, or a stale value
    // surviving a rewrite all break the hash.
    QueryDef("c17_merge_scan",
      """WITH src AS (
        |  SELECT doc_id, source, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id BETWEEN 120 AND 179
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, 'merged' AS source,
        |    doc_id AS n_chars
        |  FROM documents WHERE doc_id < 30
        |), merged AS (
        |  SELECT d.doc_id,
        |    coalesce(s.source, d.source) AS source,
        |    coalesce(s.n_chars, d.n_chars) AS n_chars
        |  FROM documents d LEFT JOIN src s ON d.doc_id = s.doc_id
        |  UNION ALL
        |  SELECT s.doc_id, s.source, s.n_chars FROM src s
        |  WHERE NOT EXISTS
        |    (SELECT 1 FROM documents d WHERE d.doc_id = s.doc_id)
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM merged GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
      Warehouse.documentsManifestMerge(s, dir) // post-merge latest version
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    },

    // ---- c18: incremental tail read — change capture as a manifest
    // diff. The table was committed as THREE appends; the tail since
    // v1 must be EXACTLY the rows of appends 2 and 3, scheduled from
    // the file-list difference with zero data compared (the
    // changeFeed diff-joins two snapshots — O(table);
    // here the delta falls out of the metadata). The oracle is the
    // honest filter over the raw table: a v1 row leaking into the
    // tail, a dropped append-2 row, or a file double-referenced
    // across the version boundary all break the hash. The spec also
    // pins the refusal on a non-append history (a delete between the
    // versions).
    QueryDef("c18_tail_scan",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents WHERE doc_id >= 200
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      Warehouse.documentsManifestTail(s, dir) // rows of appends 2+3 only
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    },

    // ---- c19: metadata-only column rename (Delta/Iceberg column
    // mapping). Half the corpus was appended under `n_chars`, the
    // column was renamed to `char_count` WITHOUT touching a data file
    // (the spec asserts the rename version's file list is
    // byte-identical), and the other half was appended in the new
    // logical schema — pool files stay under the frozen physical
    // name, readers alias on the way out, writers translate on the
    // way in. The oracle reads the raw table with the new name: a
    // half lost across the rename, a mapping misapplied to one side,
    // or a stale name leaking through all break the hash (schema
    // match covers the column NAME itself).
    QueryDef("c19_rename_scan",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_count,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
      Warehouse.documentsManifestRename(s, dir) // (doc_id, source, char_count)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("char_count").as("sum_count"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    },

    // ---- c20: row lineage from metadata. The c18 three-append table
    // read back with `_commit_version` — which append introduced each
    // row — derived ENTIRELY from the manifests (file → first
    // referencing version, a broadcast joined at the scan); no
    // lineage is stored in the rows. The oracle reconstructs the
    // version from the append predicates: a row attributed to the
    // wrong commit breaks the hash.
    QueryDef("c20_lineage_scan",
      """SELECT CAST(CASE WHEN doc_id < 200 THEN 1
        |            WHEN doc_id < 350 THEN 2 ELSE 3 END AS BIGINT) AS commit_v,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Warehouse.documentsManifestLineage(s, dir)
        .groupBy(col("_commit_version").as("commit_v"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("commit_v")
    },

    // ---- c21: CHECK-constrained ingestion. Three producer batches:
    // two valid halves commit; the poisoned middle batch (negated
    // ids) is REFUSED WHOLE — all-or-nothing, O(delta) validation,
    // never a partially-valid version. The read sees exactly the two
    // valid appends; the oracle is the honest union: a poisoned row
    // leaking through, or a valid row lost with its refused batch,
    // breaks the hash.
    QueryDef("c21_checked_scan",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
      Warehouse.documentsManifestChecked(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    },

    // ---- c22: JOIN-TIME dynamic file pruning (Delta's DFP). The dim
    // side (two narrow doc_id bands with a weight) is broadcast-small;
    // its key set prunes the range-laid-out manifest FACT to the
    // files whose stats band admits at least one key BEFORE the scan
    // is scheduled (the spec counts: 2 of 8 files survive) — the
    // data-skipping story extended from single-table predicates
    // (c9–c14) to the join boundary. The exact broadcast join after
    // the prune keeps correctness pruning-independent; the oracle
    // runs the same join unpruned, so a false DROP (the only failure
    // that could corrupt results) breaks the hash.
    QueryDef("c22_dfp_join",
      """WITH dim AS (
        |  SELECT doc_id, doc_id % 7 AS w FROM documents
        |  WHERE doc_id BETWEEN 100 AND 149 OR doc_id BETWEEN 480 AND 499
        |)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(d.n_chars * dim.w) AS BIGINT) AS wsum
        |FROM documents d JOIN dim ON d.doc_id = dim.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      import graft.sources.ManifestTable
      Warehouse.documentsManifestDfp(s, dir) // build fact once
      val path = Warehouse.tablePath("documents_mdfp", dir)
      val dim = Tables.documents(s, dir)
        .where(col("doc_id").between(100, 149)
          || col("doc_id").between(480, 499))
        .select(col("doc_id"), (col("doc_id") % 7).as("w"))
      val keys = dim.select("doc_id").collect().map(_.getLong(0)).toSeq
      ManifestTable.readVersionPrunedByKeys(s, path, 1L, "doc_id", keys)
        .join(broadcast(dim), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars") * col("w")).as("wsum"))
        .orderBy("source")
    },

    // ---- c23: OPTIMIZE ZORDER BY on the manifest table. Documents
    // committed SCATTERED (hash layout — every file's band spans the
    // whole domain on both dims, nothing prunes), then z-order
    // compacted into 8 rectangle files whose per-file stats are tight
    // on BOTH doc_id and n_chars; the 2-d box read intersects the two
    // single-column prunes (the spec quantifies the delta: scattered
    // schedules all 8 files, clustered schedules a strict subset).
    // The oracle is the honest box aggregate over the raw table —
    // layout changes results not at all, which is the point.
    QueryDef("c23_zorder_compact",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id BETWEEN 100 AND 180 AND n_chars BETWEEN 200 AND 900
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      import graft.sources.ManifestTable
      Warehouse.documentsManifestZorder(s, dir) // scattered → z-ordered v2
      ManifestTable.readVersionPrunedMulti(s,
        Warehouse.tablePath("documents_mzord", dir), 2L,
        Seq(("doc_id", 100L, 180L), ("n_chars", 200L, 900L)))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("source")
    },

    // ---- c25: partition-spec evolution (Iceberg-class, no rewrite).
    // The table changed its partitioning mid-life: v1 appended events
    // hash-scattered on event_id (the original spec — every file's
    // user_id band spans the domain), v2 appended the purchase slice
    // RANGE-CLUSTERED on user_id (the evolved spec) touching zero v1
    // bytes. A user_id-band read over the MIXED layout schedules all
    // pre-evolution files (they cannot prune — honest) plus only the
    // matching post-evolution files; the spec counts both layouts'
    // schedules, and the oracle replays the band from raw events —
    // the layout change must not move a single row.
    QueryDef("c25_partition_evolution",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE user_id BETWEEN 3 AND 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      import graft.sources.ManifestTable
      Warehouse.eventsPartEvolved(s, dir) // v1 scattered + v2 clustered
      ManifestTable.readVersionPrunedMulti(s,
        Warehouse.tablePath("events_pevo", dir), 2L,
        Seq(("user_id", 3L, 7L)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
        .orderBy("event_type")
    },

    // ---- c26: corrupt-record-tolerant ingestion (PERMISSIVE JSON) ----
    // Crawl feeds always carry malformed rows; the pipeline contract
    // is ROUTE, never crash and never silently drop. A JSON-lines
    // corpus is materialized with every doc_id % 17 == 0 line
    // TRUNCATED mid-string (real syntactic corruption on disk), read
    // back through Spark's PERMISSIVE parser with an explicit schema +
    // _corrupt_record column, and the report balances: good rows
    // parse to their exact fields, bad rows land intact in the
    // corrupt column, n_good + n_bad == n_rows. The oracle knows the
    // corruption rule analytically (m4's pattern) — a parser that
    // accepted a truncated row, or dropped one, breaks the hash. At
    // 100 TB this is one text scan with per-row failure-safe parsing;
    // the corrupt stream is the quarantine feed.
    QueryDef("c26_bad_records",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN doc_id % 17 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        |  CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |  CAST(SUM(CASE WHEN doc_id % 17 != 0 THEN doc_id END) AS BIGINT) AS sum_id,
        |  CAST(SUM(CASE WHEN doc_id % 17 != 0 THEN n_chars END) AS BIGINT) AS sum_n
        |FROM documents""".stripMargin) { (s, dir) =>
      val path = Warehouse.tablePath("bad_records", dir)
      val line = expr(
        """concat('{"id": ', doc_id, ', "n": ', n_chars,
          |', "source": "', source, '"}')""".stripMargin.replace("\n", ""))
      Tables.documents(s, dir)
        .withColumn("line", line)
        .select(when(col("doc_id") % 17 === 0,
            expr("substring(line, 1, length(line) - 2)"))
          .otherwise(col("line")).as("value"))
        .write.mode("overwrite").text(path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_bad"),
          sum(col("id")).as("sum_id"),
          sum(col("n")).as("sum_n"))
    },

    // ---- incremental maintenance of an enrichment-JOIN view ----
    // c8 maintains an AGGREGATE under a change feed; this is the other
    // standing materialization: a fact-side view enriched by a dim
    // join (user summary ⋈ customer), maintained as
    //   V_new = (V_old ∖ touched pks) ∪ enrich(inserted/postimage rows)
    // so the delta-sized feed — not the base — pays the dim join. The
    // result joins the DIRECT recompute at the latest version and
    // asserts row-for-row equality inside the output (the c8/q46
    // contract pattern: the oracle recomputes everything from raw
    // events ⋈ customer and expects the flag TRUE, so a broken feed,
    // a missed delete, or a double-applied postimage breaks the hash).
    // At 100 TB: the anti-join is pk-keyed (bucket the view by pk);
    // enrich runs over the delta with the dim broadcast.
    QueryDef("c27_ivm_join",
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), v2 AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(cents) AS BIGINT) AS total_cents
        |  FROM ev GROUP BY user_id
        |), j AS (
        |  SELECT v2.*, c_mktsegment,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM v2 JOIN customer ON c_custkey = user_id
        |)
        |SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(n_events) AS BIGINT) AS sum_events,
        |  CAST(SUM(total_cents) AS BIGINT) AS sum_cents,
        |  CAST(SUM(bal_cents) AS BIGINT) AS sum_bal_cents,
        |  TRUE AS match_direct
        |FROM j GROUP BY c_mktsegment ORDER BY segment""".stripMargin) { (s, dir) =>
      import graft.sources.ManifestTable
      Warehouse.userSummaryVersioned(s, dir) // build v1/v2/v3
      val path = Warehouse.tablePath("user_summary_versioned", dir)
      val latestV = ManifestTable.latestVersion(s, path)
      val dim = Tables.customer(s, dir).select(
        col("c_custkey"), col("c_mktsegment"),
        expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
      def enrich(base: org.apache.spark.sql.DataFrame) = base
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("user_id"), col("n_events"), col("total_cents"),
          col("c_mktsegment"), col("bal_cents"))
      val feed = ManifestTable.changeFeed(s, path, 1L, latestV,
        Seq("user_id"))
      val maintained = ManifestTable.incrementalView(
        enrich(ManifestTable.readVersion(s, path, 1L)), feed,
        Seq("user_id"), enrich)
      val direct = enrich(ManifestTable.readVersion(s, path, latestV))
        .select(col("user_id"), col("n_events").as("d_ne"),
          col("total_cents").as("d_tc"), col("c_mktsegment").as("d_seg"),
          col("bal_cents").as("d_bc"))
      maintained.join(direct, Seq("user_id"), "full_outer")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_users"),
          sum("n_events").cast("long").as("sum_events"),
          sum("total_cents").cast("long").as("sum_cents"),
          sum("bal_cents").cast("long").as("sum_bal_cents"),
          min(col("n_events") <=> col("d_ne") &&
            col("total_cents") <=> col("d_tc") &&
            col("c_mktsegment") <=> col("d_seg") &&
            col("bal_cents") <=> col("d_bc")).as("match_direct"))
        .orderBy("segment")
    })
}
