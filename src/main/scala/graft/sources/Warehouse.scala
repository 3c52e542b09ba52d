package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned-parquet warehouse layer: materialize a fact table
  * `partitionBy` a derived date column and read it back so that
  * partition pruning (not just row-group predicate pushdown) serves
  * date-ranged queries.
  *
  * Scale posture (100 TB): date-partitioned facts are the canonical
  * lake layout — a month-ranged query must touch only the matching
  * directories. The plan proof lives in ScaleSpec ("partitioned scan
  * prunes partitions"): `PartitionFilters` on the scan node, pruned
  * file counts. At test scale the write is memoized per (session,
  * sf dir), mirroring how dims are CTAS'd once (HierarchyQueries).
  */
object Warehouse {

  /** Where table `name` built from sf dir `dir` lives:
    * `spark-warehouse/<name><dir with every non-alphanumeric as _>`. */
  def tablePath(name: String, dir: String): String =
    s"spark-warehouse/$name${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** Table `name` built from sf dir `dir` once per session: `build`
    * writes it at [[tablePath]], emptied first (a prior run may have
    * left more versions or files than the build's contract), and
    * returns the frame to memoize.
    */
  private def table(s: SparkSession, name: String, dir: String)(
      build: String => DataFrame): DataFrame =
    SessionCache.getOrElseUpdate(s, s"$name:$dir") {
      val path = tablePath(name, dir)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      build(path)
    }

  /** Orders partitioned by order month (`o_month` = 'yyyy-MM'), written
    * under the session's spark-warehouse dir and read back as a
    * partitioned table. The partition column is a STRING directory key
    * — the layout-stable choice (date-typed partition values get
    * re-inferred and can shift across engines).
    */
  def ordersByMonth(s: SparkSession, dir: String): DataFrame =
    table(s, "orders_by_month", dir) { path =>
      Tables.orders(s, dir)
        .withColumn("o_month",
          date_format(to_date(col("o_orderdate")), "yyyy-MM"))
        .write.partitionBy("o_month").mode("overwrite").parquet(path)
      s.read.parquet(path)
    }

  /** Document metadata exported to headered CSV and read back with an
    * EXPLICIT schema (reference's golden-CSV surface, SURVEY S6).
    * `inferSchema` would add a full extra pass over the files before
    * the real scan — never acceptable at scale; sources declare their
    * schema. The text column stays out of the export: CSV is for
    * rectangular metadata, documents travel in parquet.
    */
  def documentsCsv(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_csv", dir) { path =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.option("header", "true").mode("overwrite").csv(path)
      s.read
        .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .option("header", "true").csv(path)
    }

  /** Absolute path of the simhash signature export — absolute because
    * the DuckDB oracle (a separate process) re-reads the same file,
    * and a cwd-relative path would silently diverge between the two.
    * Deliberately NOT suffixed by the sf dir: the oracle SQL is a
    * static string, so the location must be knowable at declaration
    * time. Each Verify/Bench process touches exactly one sf dir;
    * within a multi-dir JVM the last writer wins (fine for specs,
    * which exercise Dedup.simhashPairsFrom on in-memory frames
    * instead).
    *
    * SINGLE-PROCESS ASSUMPTION: two Verify/Bench processes sharing a
    * cwd would interleave mode("overwrite") writes under each other's
    * read-backs/oracle reads. The driver runs one process at a time,
    * so this is acknowledged rather than defended; if concurrent runs
    * ever appear, suffix the path with the process id and interpolate
    * it into the oracle SQL at declaration time (the d8 oracle already
    * interpolates this path, so the mechanism exists).
    */
  val simhashExportPath: String =
    new java.io.File("spark-warehouse/simhash_export").getAbsolutePath

  /** SimHash signature table (doc_id, simhash, band_0..band_3)
    * persisted to parquet and read back — the input both to Spark's
    * band-blocked pair join (d8) and to the DuckDB oracle's
    * recomputation of the same join, so the pair machinery is
    * hash-checked end to end from identical signatures. The signature
    * *computation* (xxhash64 votes) is Spark-native and covered by
    * ScalaTest ground truth instead.
    */
  def simhashExport(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrElseUpdate(s, s"simhash_export:$dir") {
      graft.operators.Dedup.simhashes(Tables.documents(s, dir))
        .coalesce(1).write.mode("overwrite").parquet(simhashExportPath)
      s.read.parquet(simhashExportPath)
    }

  /** Schema-EVOLVED parquet table: batch 1 writes (doc_id, lang),
    * batch 2 widens to (doc_id, lang, source) — the canonical
    * append-only warehouse evolution — read back through
    * `mergeSchema`, which unions the footers so batch-1 rows surface
    * NULL source. The oracle replays the evolution as a CASE on the
    * batch split, so a reader that dropped or misaligned the evolved
    * column breaks the hash.
    */
  def documentsEvolved(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_evolved", dir) { path =>
      val docs = Tables.documents(s, dir)
      docs.where(col("doc_id") % 2 === 0).select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$path/batch=1")
      docs.where(col("doc_id") % 2 === 1).select("doc_id", "lang", "source")
        .write.mode("overwrite").parquet(s"$path/batch=2")
      s.read.option("mergeSchema", "true").parquet(path)
    }

  /** Orders exported to JSON-lines and read back with an explicit
    * schema (same rationale as [[documentsCsv]]; Spark's JSON writer
    * emits shortest-round-trip doubles, so numeric values survive the
    * text round-trip bit-exact).
    */
  def ordersJson(s: SparkSession, dir: String): DataFrame =
    table(s, "orders_json", dir) { path =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").json(path)
      s.read
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING")
        .json(path)
    }

  /** Lineitem measures exported to ORC and read back (columnar sink
    * breadth next to parquet/CSV/JSON; ORC keeps types natively so no
    * explicit read schema is needed — asserting the round trip is the
    * oracle's job, which aggregates the raw parquet instead).
    */
  def lineitemOrc(s: SparkSession, dir: String): DataFrame =
    table(s, "lineitem_orc", dir) { path =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
    }

  /** c24: XML roundtrip through Spark 4's NATIVE xml source — the
    * format a wiki dump / crawl sitemap arrives in. Documents are
    * written as one `<doc>` row element each (text content carries
    * markup-significant characters, so the writer's escaping is part
    * of what the hash verifies), then read back through the XML
    * parser with an explicit schema (inference would widen types).
    */
  def documentsXml(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_xml", dir) { path =>
      val src = Tables.documents(s, dir)
        .select("doc_id", "lang", "source", "text", "n_chars")
      src.write.mode("overwrite")
        .option("rowTag", "doc").format("xml").save(path)
      s.read.schema(src.schema)
        .option("rowTag", "doc").format("xml").load(path)
    }

  /** Absolute path of the trained-IVF-centroid export — same
    * single-process oracle contract as [[simhashExportPath]]: the
    * DuckDB oracle re-reads the identical trained table, so assignment
    * / probe / ADC replay from the same centroids the Spark side
    * served from.
    */
  val ivfCentroidsPath: String =
    new java.io.File("spark-warehouse/ivf_centroids_export").getAbsolutePath

  /** Trained IVF centroids (ord, cq): bounded Lloyd's k-means over the
    * embeddings table (8 cells, deterministic id-stride seeds, 3
    * iterations), persisted to parquet and read back — the input both
    * to the composed IVF-PQ query (s10) and to its DuckDB oracle.
    */
  def ivfCentroidsExport(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrElseUpdate(s, s"ivf_centroids:$dir") {
      val n = Tables.parquetRowCount(s, s"$dir/embeddings.parquet")
      val seeds = (0 until 8).map(i => (i * (n / 8)).toLong)
      graft.operators.Similarity.kmeansQuantized(
          Tables.embeddings(s, dir), seeds, iters = 3)
        .coalesce(1).write.mode("overwrite").parquet(ivfCentroidsPath)
      s.read.parquet(ivfCentroidsPath)
    }

  /** Versioned per-user summary built from the events table as
    * [[ManifestTable.commit]] snapshots — the c6 time-travel fixture.
    * Three commits:
    * v1 aggregates the `event_id % 3 <> 0` batch, v2 merges in the
    * rest with the q43/streaming full-outer upsert shape, v3 is
    * `compact(v2)` (data-identical, fewer files). Returns the LATEST
    * snapshot (post-compaction), so the c6 diff against
    * `readVersion(1)` proves both time travel and that compaction
    * preserved every value — the oracle recomputes both versions from
    * the raw events and any compaction/versioning corruption breaks
    * the hash. Memoized per (session, sf dir) like every CTAS.
    */
  def userSummaryVersioned(s: SparkSession, dir: String): DataFrame =
    table(s, "user_summary_versioned", dir) { path =>
      val events = Tables.events(s, dir)
        .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
      def agg(df: DataFrame): DataFrame = df.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("total_cents"))
      ManifestTable.commit(
        agg(events.where(col("event_id") % 3 =!= 0)), path, 1L)
      val delta = agg(events.where(col("event_id") % 3 === 0))
        .select(col("user_id").as("d_uid"), col("n_events").as("d_n"),
          col("total_cents").as("d_c"))
      val merged = ManifestTable.readVersion(s, path, 1L)
        .join(delta, col("d_uid") === col("user_id"), "full_outer")
        .select(
          coalesce(col("user_id"), col("d_uid")).as("user_id"),
          (coalesce(col("n_events"), lit(0L))
            + coalesce(col("d_n"), lit(0L))).as("n_events"),
          (coalesce(col("total_cents"), lit(0L))
            + coalesce(col("d_c"), lit(0L))).as("total_cents"))
      ManifestTable.commit(merged, path, 2L)
      ManifestTable.compact(s, path)
      ManifestTable.latest(s, path)
    }

  /** A range-CLUSTERED committed snapshot of the user summary for the
    * data-skipping surface: one version, `repartitionByRange(8)` on
    * user_id so each file covers a disjoint user band, with
    * [[ManifestTable.extendStats]] stats on user_id. The layout is
    * the thing under test — c9 reads it through the manifest prune and
    * must still be value-exact against the raw events.
    */
  def userSummaryClustered(s: SparkSession, dir: String): DataFrame =
    table(s, "user_summary_clustered", dir) { path =>
      val summary = Tables.events(s, dir)
        .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("total_cents"))
        .repartitionByRange(8, col("user_id"))
      ManifestTable.commit(summary, path, 1L)
      ManifestTable.extendStats(s, path, 1L, Seq("user_id"))
      ManifestTable.readVersion(s, path, 1L)
    }

  /** Events z-clustered on (user_id, cents) as a committed version
    * with stats manifests on BOTH columns — the 2-d data-skipping
    * fixture: Morton interleaving makes each file a compact rectangle
    * in both dimensions, so c10's box predicate prunes on both
    * manifests at once (a single-key clustering would give tight
    * stats on one dimension only).
    */
  def eventsZClustered(s: SparkSession, dir: String): DataFrame =
    table(s, "events_zclustered", dir) { path =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val clustered = ev
        .withColumn("__z",
          graft.operators.ZOrder.zkey16(col("user_id"), col("cents")))
        .repartitionByRange(16, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
      ManifestTable.commit(clustered, path, 1L)
      ManifestTable.extendStats(s, path, 1L, Seq("user_id", "cents"))
      ManifestTable.readVersion(s, path, 1L)
    }

  /** Deterministic content-hash shard id in [0, nShards): first hex
    * char of md5(doc_id) → value, mod shards. Engine-portable (the
    * DuckDB oracle replays the same arithmetic from the raw table) and
    * stable across runs/machines — the property a training dataloader
    * needs so that shard N always holds the same documents.
    */
  def shardId(docId: Column, nShards: Int = 8): Column =
    pmod(conv(substring(md5(docId.cast("string")), 1, 1), 16, 10).cast("int"),
      lit(nShards))

  /** Documents written `partitionBy("shard")` and read back — the
    * dataloader-facing layout: each training reader opens exactly its
    * own shard directory (partition pruning, no row-level filtering).
    * At 100 TB nShards scales to reader count; the write shuffles
    * nothing (shard is a row-local expression and the writer splits
    * files per partition value within each task).
    */
  def documentsByShard(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_by_shard", dir) { path =>
      Tables.documents(s, dir)
        .withColumn("shard", shardId(col("doc_id")))
        .write.partitionBy("shard").mode("overwrite").parquet(path)
      s.read.parquet(path)
    }

  /** Document metadata committed HASH-distributed on doc_id (8 files,
    * deliberately unclustered) with BOTH manifests published: min/max
    * stats, which cannot skip on this layout (every file spans ~the
    * full id domain), and per-file blooms, which can — the fixture
    * contrasting the two data-skipping paths (VersionedTableSpec
    * asserts the file counts; c12 reads through the bloom path).
    */
  def documentsHashed(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_hashed", dir) { path =>
      val docs = Tables.documents(s, dir)
        .select("doc_id", "lang", "source", "n_chars")
        .repartition(8, col("doc_id"))
      ManifestTable.commit(docs, path, 1L)
      ManifestTable.extendStats(s, path, 1L, Seq("doc_id"), blooms = Seq("doc_id"))
      ManifestTable.readVersion(s, path, 1L)
    }

  /** Documents as a SHARED-FILE manifest table built by two O(delta)
    * appends (doc_id < 250, then the rest) with per-file stats
    * extended incrementally — c15 reads the latest version through
    * the manifest; the v2 commit wrote only the second half's files.
    */
  def documentsManifest(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_manifest", dir) { path =>
      val docs = Tables.documents(s, dir)
        .select("doc_id", "source", "n_chars")
      ManifestTable.commitAppend(
        docs.where(col("doc_id") < 250).repartition(4, col("doc_id")), path)
      ManifestTable.extendStats(s, path, 1L, Seq("doc_id"))
      val v2 = ManifestTable.commitAppend(
        docs.where(col("doc_id") >= 250).repartition(4, col("doc_id")), path)
      ManifestTable.extendStats(s, path, v2, Seq("doc_id"))
      ManifestTable.readVersion(s, path, v2)
    }

  /** c25's partition-spec evolution table: the Iceberg-class "change
    * the partitioning WITHOUT rewriting history" shape. v1 appends the
    * non-purchase events hash-scattered on event_id (the original,
    * unpartitioned spec — every file's user_id band spans the domain);
    * v2 appends the purchase events RANGE-CLUSTERED on user_id (the
    * evolved spec — tight disjoint bands), touching zero v1 bytes.
    * Stats cover both layouts, so a user_id-band read schedules all
    * pre-evolution files (they cannot prune — honest) plus only the
    * matching post-evolution files; results are layout-independent.
    * Returns the table path (the query does the pruned read).
    */
  def eventsPartEvolved(s: SparkSession, dir: String): DataFrame =
    table(s, "events_pevo", dir) { path =>
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      ManifestTable.commitAppend(
        ev.where(col("event_type") =!= "purchase")
          .repartition(4, col("event_id")), path)
      val v2 = ManifestTable.commitAppend(
        ev.where(col("event_type") === "purchase")
          .repartitionByRange(8, col("user_id")), path)
      ManifestTable.extendStats(s, path, v2, Seq("user_id"))
      ManifestTable.readVersion(s, path, v2)
    }

  /** A second, independent manifest table for c16: range layout on
    * doc_id (so the delete band provably skips most files), then a
    * predicate-pruned DELETE of doc_id ∈ [100, 199] — returns the
    * post-delete latest version.
    */
  def documentsManifestDel(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_mdel", dir) { path =>
      val docs = Tables.documents(s, dir)
        .select("doc_id", "source", "n_chars")
        .repartitionByRange(8, col("doc_id"))
      ManifestTable.commitAppend(docs, path)
      ManifestTable.extendStats(s, path, 1L, Seq("doc_id"))
      val v = ManifestTable.deleteWhere(s, path, "doc_id", 100L, 199L)
      ManifestTable.readVersion(s, path, v)
    }

  /** A third manifest table for c17: range layout on doc_id, then a
    * copy-on-write MERGE — updates confined to doc_id ∈ [120, 179]
    * (n_chars bumped by 1000) plus brand-new rows at doc_id + 10000
    * for doc_id < 30 — returns the post-merge latest version. Only
    * the range files actually holding matched keys are rewritten;
    * the inserts land as one new file; everything else is referenced
    * byte-identical (file accounting spec-audited).
    */
  def documentsManifestMerge(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_mmerge", dir) { path =>
      val docs = Tables.documents(s, dir)
        .select("doc_id", "source", "n_chars")
        .repartitionByRange(8, col("doc_id"))
      ManifestTable.commitAppend(docs, path)
      ManifestTable.extendStats(s, path, 1L, Seq("doc_id"))
      val base = Tables.documents(s, dir).select("doc_id", "source", "n_chars")
      val updates = base.where(col("doc_id").between(120, 179))
        .withColumn("n_chars", col("n_chars") + lit(1000L))
      val inserts = base.where(col("doc_id") < 30)
        .select((col("doc_id") + lit(10000L)).as("doc_id"),
          lit("merged").as("source"), col("doc_id").as("n_chars"))
      val v = ManifestTable.mergeInto(s, path,
        updates.unionByName(inserts), "doc_id")
      ManifestTable.readVersion(s, path, v)
    }

  /** A fourth manifest table for c18: THREE appends (doc_id < 200,
    * [200, 350), ≥ 350), then the incremental tail read since v1 —
    * the rows of appends 2 and 3, scheduled as a manifest diff with
    * zero data compared.
    */
  def documentsManifestTail(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_mtail", dir) { path =>
      val docs = Tables.documents(s, dir)
        .select("doc_id", "source", "n_chars")
      ManifestTable.commitAppend(
        docs.where(col("doc_id") < 200).repartition(4, col("doc_id")), path)
      ManifestTable.commitAppend(
        docs.where(col("doc_id") >= 200 && col("doc_id") < 350)
          .repartition(2, col("doc_id")), path)
      val v3 = ManifestTable.commitAppend(
        docs.where(col("doc_id") >= 350).repartition(2, col("doc_id")), path)
      ManifestTable.tailSince(s, path, 1L, v3)
    }

  /** A fifth manifest table for c19: append half the corpus, RENAME
    * n_chars → char_count (metadata-only — zero files rewritten),
    * then append the other half in the NEW logical schema; the read
    * of the latest version unifies both halves under the new name.
    */
  def documentsManifestRename(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_mren", dir) { path =>
      val docs = Tables.documents(s, dir)
        .select("doc_id", "source", "n_chars")
      ManifestTable.commitAppend(
        docs.where(col("doc_id") < 250).repartition(4, col("doc_id")), path)
      val v2 = ManifestTable.renameColumn(s, path, "n_chars", "char_count")
      val v3 = ManifestTable.commitAppend(
        docs.where(col("doc_id") >= 250)
          .withColumnRenamed("n_chars", "char_count")
          .repartition(4, col("doc_id")), path)
      require(v2 == 2L && v3 == 3L, s"unexpected versions $v2/$v3")
      ManifestTable.readVersion(s, path, v3)
    }

  /** c20: the c18 three-append layout read back WITH row lineage —
    * `_commit_version` names the append that introduced each row,
    * derived purely from manifests (file → first referencing version).
    */
  def documentsManifestLineage(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrElseUpdate(s, s"documents_mlin:$dir") {
      documentsManifestTail(s, dir) // builds the 3-append table
      val path = tablePath("documents_mtail", dir)
      ManifestTable.readVersionLineage(s, path,
        ManifestTable.latestVersion(s, path))
    }

  /** c21: CHECK-constrained ingestion — the valid half commits, a
    * violating batch is REFUSED whole (caught here, table unchanged),
    * then a second valid append lands; reads must see exactly the two
    * valid appends.
    */
  def documentsManifestChecked(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_mchk", dir) { path =>
      val docs = Tables.documents(s, dir)
        .select("doc_id", "source", "n_chars")
      val check = "doc_id >= 0 AND n_chars >= 0"
      ManifestTable.commitAppendChecked(
        docs.where(col("doc_id") < 300).repartition(4, col("doc_id")),
        path, check)
      // a poisoned batch (negated ids) must be refused WHOLE
      val refused =
        try {
          ManifestTable.commitAppendChecked(
            docs.where(col("doc_id").between(300, 320))
              .withColumn("doc_id", -col("doc_id")), path, check)
          false
        } catch { case _: IllegalArgumentException => true }
      require(refused, "c21: violating batch was not refused")
      ManifestTable.commitAppendChecked(
        docs.where(col("doc_id") >= 300).repartition(4, col("doc_id")),
        path, check)
      ManifestTable.latest(s, path)
    }

  /** c22: the range-laid-out manifest fact for join-time dynamic file
    * pruning — built once, read through [[ManifestTable
    * .readVersionPrunedByKeys]] with the dim's key set.
    */
  def documentsManifestDfp(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_mdfp", dir) { path =>
      val docs = Tables.documents(s, dir)
        .select("doc_id", "source", "n_chars")
        .repartitionByRange(8, col("doc_id"))
      ManifestTable.commitAppend(docs, path)
      ManifestTable.extendStats(s, path, 1L, Seq("doc_id"))
      s.emptyDataFrame
    }

  /** c23: documents committed SCATTERED (hash layout — every file's
    * band spans the whole domain), then OPTIMIZE ZORDER BY (doc_id,
    * n_chars) into 8 rectangle files; the returned path serves the
    * 2-d box read. The spec quantifies the prune delta pre/post.
    */
  def documentsManifestZorder(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_mzord", dir) { path =>
      val docs = Tables.documents(s, dir)
        .select("doc_id", "source", "n_chars")
        .repartition(8, col("source")) // scattered on the box dims
      ManifestTable.commitAppend(docs, path)
      val v = ManifestTable.compactZorder(s, path, "doc_id", "n_chars", 8)
      ManifestTable.extendStats(s, path, v, Seq("doc_id", "n_chars"))
      s.emptyDataFrame
    }

  /** Documents WITH the text column as a hash-distributed versioned
    * table carrying a token blooms (c13's full-text skip
    * index). Hash layout on doc_id — the worst case for range stats,
    * the case token blooms are for.
    */
  def documentsText(s: SparkSession, dir: String): DataFrame =
    table(s, "documents_text", dir) { path =>
      val docs = Tables.documents(s, dir)
        .select("doc_id", "source", "text")
        .repartition(8, col("doc_id"))
      ManifestTable.commit(docs, path, 1L)
      ManifestTable.extendStats(s, path, 1L, Nil, tokens = Seq("text"))
      ManifestTable.readVersion(s, path, 1L)
    }
}
