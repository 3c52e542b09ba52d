package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned-snapshot table on a plain filesystem — the read surface
  * of the Delta/Iceberg-class capability a 100 TB warehouse user hits
  * first: time travel (`readVersion`), audit (`history`), and
  * small-file `compact`ion, over the MVCC commit layout [[commit]]
  * writes.
  *
  * Layout: `<path>/v<k>/` immutable parquet snapshot directories. A
  * version EXISTS iff its directory carries the parquet job's
  * `_SUCCESS` marker AND was atomically renamed from `_staging_v<k>`;
  * interrupted writes are either an unlisted staging dir or a
  * marker-less `v<k>` — invisible to every reader. On a plain
  * filesystem the version directory stands in for the table-format
  * manifest; the API is deliberately manifest-shaped so a real
  * manifest (file list + stats) can replace directory listing without
  * touching callers.
  *
  * Scale posture: snapshots are immutable and full — right for
  * key-bounded dims (a merge-upsert target). Fact-scale tables
  * version DELTAS plus periodic compaction instead; [[compact]] is
  * that operation's dim-sized form (rewrite latest into fewer files
  * as a NEW version — never in place, readers of v<k> are undisturbed).
  */
object VersionedTable {

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Versions under `path` whose write COMMITTED (`_SUCCESS`-gated;
    * see the class doc for the crash story).
    */
  def committedVersions(spark: SparkSession, path: String): Seq[Long] = {
    val root = new Path(path)
    val fs = fsFor(spark, path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.matches("v\\d+"))
      .filter(p => fs.exists(new Path(p, "_SUCCESS")))
      .map(_.getName.drop(1).toLong)
  }

  /** Publish `df` as version `version`: write to a staging directory,
    * then one atomic rename. A retry of an ALREADY-COMMITTED version
    * keeps the committed directory and drops the staging copy (commits
    * are deterministic replays, so the bytes are equivalent) — the
    * committed snapshot is never transiently absent, which a
    * delete-then-rename would risk on a crash between the two.
    */
  def commit(df: DataFrame, path: String, version: Long): Unit = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    val staging = new Path(path, s"_staging_v$version")
    val target = new Path(path, s"v$version")
    df.write.mode("overwrite").parquet(staging.toString)
    if (fs.exists(new Path(target, "_SUCCESS"))) {
      fs.delete(staging, true)
    } else {
      fs.delete(target, true) // sweep an uncommitted partial only
      require(fs.rename(staging, target),
        s"VersionedTable.commit: rename failed for $target")
    }
  }

  /** Time travel: the immutable snapshot at `version` (Delta's
    * `versionAsOf`). Fails loudly on an uncommitted/absent version
    * rather than silently reading a partial directory.
    */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame = {
    require(committedVersions(spark, path).contains(version),
      s"version $version is not committed under $path")
    spark.read.parquet(s"$path/v$version")
  }

  def latestVersion(spark: SparkSession, path: String): Long = {
    val vs = committedVersions(spark, path)
    require(vs.nonEmpty, s"no committed version under $path")
    vs.max
  }

  /** The latest committed snapshot. */
  def latest(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path, latestVersion(spark, path))

  /** Commit audit: one row per committed version with its file count
    * and byte size — the manifest-level stats a compaction policy
    * reads. Deterministic columns only (no wall-clock timestamps: the
    * layout records no commit time, and fabricating one from file
    * mtimes would make history() output machine-dependent).
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    val fs = fsFor(spark, path)
    val rows = committedVersions(spark, path).sorted.map { v =>
      val files = fs.listStatus(new Path(s"$path/v$v")).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      (v, files.size.toLong, files.map(_.getLen).sum)
    }
    import spark.implicits._
    rows.toDF("version", "n_files", "n_bytes")
  }

  /** Compaction: rewrite the LATEST snapshot into `targetFiles` files
    * as a NEW version (data-identical, fewer files). Never in place —
    * readers of every existing version are undisturbed, and time
    * travel across the compaction boundary still works. Returns the
    * new version number.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 1): Long = {
    val v = latestVersion(spark, path)
    val compacted = readVersion(spark, path, v).coalesce(targetFiles)
    commit(compacted, path, v + 1)
    carryStats(spark, path, v, v + 1)
    v + 1
  }

  /** Recompute `fromV`'s stats AND bloom manifests (if any) for `toV`'s
    * files, so no compaction path silently strips the data-skipping
    * metadata.
    */
  private def carryStats(spark: SparkSession, path: String,
      fromV: Long, toV: Long): Unit = {
    val fs = fsFor(spark, path)
    if (fs.exists(new Path(s"$path/_stats_v$fromV"))) {
      val cols = readStats(spark, path, fromV)
        .select("column").distinct().collect().map(_.getString(0)).toSeq
      writeStats(spark, path, toV, cols.sorted)
    }
    if (fs.exists(new Path(s"$path/_bloom_v$fromV"))) {
      val spec = readBloom(spark, path, fromV)
        .select("column", "num_bits", "k").distinct().collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq.sorted
      spec.groupBy { case (_, bits, kk) => (bits, kk) }.foreach {
        case ((bits, kk), group) =>
          writeBloom(spark, path, toV, group.map(_._1), bits, kk)
      }
    }
    if (fs.exists(new Path(s"$path/_tokens_v$fromV"))) {
      readTokenBloom(spark, path, fromV)
        .select("column", "num_bits", "k").distinct().collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
        .foreach { case (c, bits, kk) =>
          writeTokenBloom(spark, path, toV, c, bits, kk)
        }
    }
  }

  /** Retention: delete every committed version EXCEPT the newest
    * `keep`, along with their stats manifests — the VACUUM that bounds
    * a 100 TB table's storage at (keep × snapshot) while time travel
    * to the survivors keeps working. Returns the versions removed.
    * Reading a vacuumed version fails loudly through the ordinary
    * committed-version check.
    */
  def vacuum(spark: SparkSession, path: String, keep: Int = 2): Seq[Long] = {
    require(keep >= 1, "vacuum: must keep at least the latest version")
    val fs = fsFor(spark, path)
    val drop = committedVersions(spark, path).sorted.dropRight(keep)
    drop.foreach { v =>
      fs.delete(new Path(s"$path/v$v"), true)
      fs.delete(new Path(s"$path/_stats_v$v"), true)
      fs.delete(new Path(s"$path/_bloom_v$v"), true)
      fs.delete(new Path(s"$path/_tokens_v$v"), true)
    }
    drop
  }

  /** Publish per-file min/max/count statistics for `statsCols` (long-
    * typed columns) of committed version `version`, as a tiny parquet
    * manifest at `path/_stats_v<version>` — the Delta/Iceberg
    * data-skipping metadata. One columnar scan computes them (only the
    * stat columns are read); the manifest is file-count-sized. At
    * 100 TB the point is that [[readVersionPruned]] drops files BEFORE
    * the scan is scheduled — parquet row-group pruning still pays a
    * task + footer read per file, manifest pruning pays neither.
    */
  def writeStats(spark: SparkSession, path: String, version: Long,
      statsCols: Seq[String]): Unit = {
    require(committedVersions(spark, path).contains(version),
      s"writeStats: version $version is not committed under $path")
    val snap = spark.read.parquet(s"$path/v$version")
      .select(col("_metadata.file_path").as("file") +:
        statsCols.map(col): _*)
    val perCol = statsCols.map { c =>
      snap.groupBy("file").agg(
        count(lit(1)).as("n_rows"),
        min(col(c)).cast("long").as("min_v"),
        max(col(c)).cast("long").as("max_v"))
        .select(col("file"), lit(c).as("column"), col("n_rows"),
          col("min_v"), col("max_v"))
    }
    perCol.reduce(_ unionByName _)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_stats_v$version")
  }

  /** The stats manifest written by [[writeStats]]. */
  def readStats(spark: SparkSession, path: String, version: Long): DataFrame =
    spark.read.parquet(s"$path/_stats_v$version")

  /** The files of `version` whose `[min, max]` range on `colName`
    * overlaps `[lo, hi]`, plus the version's total file count.
    * Driver-side and manifest-sized — the file list is exactly what
    * the scheduler would enumerate anyway.
    */
  def prunedFiles(spark: SparkSession, path: String, version: Long,
      colName: String, lo: Long, hi: Long): (Seq[String], Long) = {
    val stats = readStats(spark, path, version)
      .where(col("column") === colName)
    val total = stats.count()
    require(total > 0,
      s"prunedFiles: no stats for column $colName at v$version of $path")
    val kept = stats.where(col("max_v") >= lo && col("min_v") <= hi)
      .select("file").collect().map(_.getString(0)).toSeq
    (kept, total)
  }

  /** Time travel + data skipping: read version `version` keeping only
    * the files whose stats range overlaps `[lo, hi]` on `colName`,
    * with the residual row filter applied on top (file stats are a
    * superset bound, not an exact index). Requires [[writeStats]] to
    * have published stats for the column — failing loudly beats
    * silently scanning everything. Correct for ANY physical layout;
    * it only SKIPS when the layout clusters `colName` (e.g. the
    * version was committed `repartitionByRange`-partitioned on it).
    */
  def readVersionPruned(spark: SparkSession, path: String, version: Long,
      colName: String, lo: Long, hi: Long): DataFrame =
    readVersionPrunedMulti(spark, path, version, Seq((colName, lo, hi)))

  /** Publish per-file BLOOM sketches for `bloomCols` (long-typed
    * columns) of committed version `version` at `path/_bloom_v<k>` —
    * the LAYOUT-INDEPENDENT point-lookup complement to [[writeStats]]'
    * min/max bands. Range stats only skip when the physical layout
    * clusters the column (on a hash-distributed layout every file
    * spans the full domain and min/max keeps everything); a bloom
    * answers "can key K possibly be in this file" on ANY layout at
    * `numBits` bits per file per column. Built in ONE columnar scan:
    * `groupBy(_metadata.file_path)` with the mergeable bloom aggregate
    * (`functions/Bloom.scala`) — per-FILE filters, never a global one,
    * so the manifest stays file-count-sized (Delta's bloom-index /
    * parquet-bloom shape, lifted to the manifest so pruning happens
    * BEFORE task scheduling — row-group blooms still pay a task +
    * footer read per file).
    *
    * NULL keys are not admitted to the sketch; an IN probe can never
    * match NULL, so a file holding only NULLs in the column prunes
    * correctly (it is simply absent from that column's manifest rows).
    */
  def writeBloom(spark: SparkSession, path: String, version: Long,
      bloomCols: Seq[String], numBits: Int = 1 << 17, k: Int = 7): Unit = {
    require(committedVersions(spark, path).contains(version),
      s"writeBloom: version $version is not committed under $path")
    require(bloomCols.nonEmpty, "writeBloom: no columns given")
    val snap = spark.read.parquet(s"$path/v$version")
      .select(col("_metadata.file_path").as("file") +:
        bloomCols.map(col): _*)
    val perCol = bloomCols.map { c =>
      snap.where(col(c).isNotNull)
        .groupBy("file")
        .agg(graft.functions.Bloom
          .bloomAgg(col(c).cast("long"), numBits, k).as("blob"))
        .select(col("file"), lit(c).as("column"),
          lit(numBits).as("num_bits"), lit(k).as("k"), col("blob"))
    }
    perCol.reduce(_ unionByName _)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_bloom_v$version")
  }

  /** The bloom manifest written by [[writeBloom]]. */
  def readBloom(spark: SparkSession, path: String, version: Long): DataFrame =
    spark.read.parquet(s"$path/_bloom_v$version")

  /** The files of `version` that might contain ANY of `values` on
    * `colName` per the bloom manifest, plus the version's total file
    * count. Driver-side: files × values × k probe bits over
    * manifest-sized blobs — control-plane work, like the scheduler's
    * own file enumeration. False positives over-keep (the residual
    * filter stays exact); false negatives are impossible, so a pruned
    * file provably holds none of the keys.
    */
  def prunedFilesBloom(spark: SparkSession, path: String, version: Long,
      colName: String, values: Seq[Long]): (Seq[String], Long) = {
    require(values.nonEmpty, "prunedFilesBloom: empty value list")
    val rows = readBloom(spark, path, version)
      .where(col("column") === colName)
      .select("file", "blob").collect()
    require(rows.nonEmpty,
      s"prunedFilesBloom: no bloom manifest for column $colName at " +
        s"v$version of $path")
    val kept = rows.filter { r =>
      val (bits, k) = graft.functions.Bloom.decode(r.getAs[Array[Byte]](1))
      values.exists(graft.functions.Bloom.mightContain(bits, k, _))
    }.map(_.getString(0)).toSeq.sorted
    (kept, rows.length.toLong)
  }

  /** IN-list point lookup through the bloom manifest: schedule only
    * the files whose sketch admits at least one probe key, then apply
    * the exact residual IN filter. The 100 TB shape this serves:
    * "fetch these 50 document ids from a 10k-file table" on a layout
    * that is NOT clustered by id — min/max keeps every file there,
    * the bloom keeps ~the files that truly hold the keys (+FPR).
    */
  def readVersionPrunedBloom(spark: SparkSession, path: String,
      version: Long, colName: String, values: Seq[Long]): DataFrame = {
    val (files, _) = prunedFilesBloom(spark, path, version, colName, values)
    val full = readVersion(spark, path, version)
    if (files.isEmpty) full.where(lit(false))
    else spark.read.schema(full.schema).parquet(files: _*)
      .where(col(colName).isin(values: _*))
  }

  /** Metadata-only aggregation (the Delta/Iceberg "answer from the
    * manifest" path): COUNT(*) / MIN / MAX on a stats-carrying column
    * computed purely from the per-file manifest — sum of per-file row
    * counts, min of per-file minima, max of per-file maxima. ZERO data
    * files are read (spec-proven by deleting them first): at 100 TB
    * this is the difference between a catalog ping and a full scan for
    * the `SELECT count(*), min(k), max(k)` a dashboard fires hourly.
    *
    * Semantics match SQL aggregates exactly: `n_rows` counts ALL rows
    * (the manifest's per-file count is unconditional); `min_v`/`max_v`
    * ignore NULLs (an all-NULL file publishes NULL stats, which
    * min/max skip). Only sound because snapshots are immutable — a
    * mutable table would need manifest invalidation on write.
    */
  def statsAgg(spark: SparkSession, path: String, version: Long,
      colName: String): DataFrame = {
    val stats = readStats(spark, path, version)
      .where(col("column") === colName)
    require(stats.count() > 0,
      s"statsAgg: no stats for column $colName at v$version of $path")
    stats.agg(
      sum("n_rows").cast("long").as("n_rows"),
      min("min_v").as("min_v"),
      max("max_v").as("max_v"))
  }

  /** The canonical tokenizer shared by the token-bloom build, the
    * residual search filter, and every oracle: lowercase alnum runs.
    * Kept as ONE expression string so build and probe can never drift.
    */
  private def tokensExpr(textCol: String): String =
    s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)"

  /** Publish a per-file TOKEN bloom manifest for text column `textCol`
    * of committed version `version` at `path/_tokens_v<k>` — a
    * full-text-search skip index: "which files can possibly contain
    * the word W?" answered driver-side, before any task is scheduled.
    * This is the capability behind "grep a 100 TB corpus for a rare
    * term without scanning it": token blooms admit ~the files that
    * truly contain the term (+FPR); everything else never leaves the
    * manifest.
    *
    * Built in ONE columnar scan of the text column: tokenize →
    * per-row distinct token hashes → explode → `groupBy(file)` with
    * the mergeable bloom aggregate (map-side partial bitsets, so the
    * shuffle carries file-count × blob, never token rows). Sizing
    * note: unlike key blooms, token blooms hold a file's DISTINCT
    * VOCABULARY — size `numBits` for vocabulary cardinality (2^17
    * bits / k=7 holds ~10k distinct tokens at ~1% FPR), not row count.
    */
  def writeTokenBloom(spark: SparkSession, path: String, version: Long,
      textCol: String, numBits: Int = 1 << 17, k: Int = 7): Unit = {
    require(committedVersions(spark, path).contains(version),
      s"writeTokenBloom: version $version is not committed under $path")
    spark.read.parquet(s"$path/v$version")
      .select(col("_metadata.file_path").as("file"), col(textCol))
      .where(col(textCol).isNotNull)
      .select(col("file"), explode(expr(
        s"array_distinct(transform(${tokensExpr(textCol)}, t -> xxhash64(t)))"))
        .as("th"))
      .groupBy("file")
      .agg(graft.functions.Bloom.bloomAgg(col("th"), numBits, k).as("blob"))
      .select(col("file"), lit(textCol).as("column"),
        lit(numBits).as("num_bits"), lit(k).as("k"), col("blob"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_tokens_v$version")
  }

  /** The token-bloom manifest written by [[writeTokenBloom]]. */
  def readTokenBloom(spark: SparkSession, path: String,
      version: Long): DataFrame =
    spark.read.parquet(s"$path/_tokens_v$version")

  /** Hash search terms EXACTLY as the manifest build hashed tokens —
    * through the engine's own xxhash64 on a 1-row control-plane plan,
    * so a Spark-version hash change can never split build from probe.
    */
  private def termHashes(spark: SparkSession, terms: Seq[String]): Seq[Long] = {
    require(terms.nonEmpty, "token search: empty term list")
    terms.foreach(t => require(t.matches("[a-z0-9]+"),
      s"search term must be a lowercase alnum token, got '$t'"))
    val row = spark.range(1)
      .select(terms.zipWithIndex.map { case (t, i) =>
        xxhash64(lit(t)).as(s"h$i")
      }: _*).head
    terms.indices.map(row.getLong)
  }

  /** The files of `version` that might contain EVERY one of `terms`
    * in `textCol` per the token manifest (AND search semantics at
    * file granularity — a superset of the row-level answer, which the
    * residual filter makes exact), plus the total file count.
    */
  def prunedFilesToken(spark: SparkSession, path: String, version: Long,
      textCol: String, terms: Seq[String]): (Seq[String], Long) = {
    val hashes = termHashes(spark, terms)
    val rows = readTokenBloom(spark, path, version)
      .where(col("column") === textCol)
      .select("file", "blob").collect()
    require(rows.nonEmpty,
      s"prunedFilesToken: no token manifest for column $textCol at " +
        s"v$version of $path")
    val kept = rows.filter { r =>
      val (bits, k) = graft.functions.Bloom.decode(r.getAs[Array[Byte]](1))
      hashes.forall(graft.functions.Bloom.mightContain(bits, k, _))
    }.map(_.getString(0)).toSeq.sorted
    (kept, rows.length.toLong)
  }

  /** Keyword search through the token manifest: schedule only the
    * files whose vocabulary sketch admits every term, then apply the
    * exact row-level containment filter (a row matches iff its
    * tokenized text contains ALL terms). False positives cost bytes;
    * false negatives are impossible (a term a file contains is always
    * in its sketch), so the search NEVER misses a document.
    */
  def readVersionSearch(spark: SparkSession, path: String, version: Long,
      textCol: String, terms: Seq[String]): DataFrame = {
    val (files, _) = prunedFilesToken(spark, path, version, textCol, terms)
    val full = readVersion(spark, path, version)
    val residual = terms.map(t =>
      array_contains(expr(tokensExpr(textCol)), t)).reduce(_ && _)
    if (files.isEmpty) full.where(lit(false))
    else spark.read.schema(full.schema).parquet(files: _*).where(residual)
  }

  /** Multi-dimensional data skipping: keep only files overlapping
    * EVERY band (file sets intersect — a file must be possible in all
    * dimensions to survive). This is where a z-ordered layout pays:
    * range-clustering on one key gives tight file stats on that key
    * only, while Morton interleaving (`operators/ZOrder`) makes each
    * file a compact rectangle in BOTH dimensions, so a 2-d box prunes
    * on both manifests at once.
    */
  def readVersionPrunedMulti(spark: SparkSession, path: String,
      version: Long, bands: Seq[(String, Long, Long)]): DataFrame = {
    require(bands.nonEmpty, "readVersionPrunedMulti: no bands given")
    val keptPerBand = bands.map { case (c, lo, hi) =>
      prunedFiles(spark, path, version, c, lo, hi)._1.toSet
    }
    val files = keptPerBand.reduce(_ intersect _).toSeq.sorted
    val residual = bands
      .map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
      .reduce(_ && _)
    val full = readVersion(spark, path, version)
    if (files.isEmpty) full.where(lit(false))
    else spark.read.schema(full.schema).parquet(files: _*).where(residual)
  }

  /** Row-level change feed between two committed versions (Delta's
    * CHANGE DATA FEED read): one row per changed key with `_change_type`
    * in {insert, delete, update_preimage, update_postimage} — pre/post
    * pairs share the key, so a downstream MERGE can replay the delta
    * without re-reading either snapshot.
    *
    * Derived by DIFF, not log replay: the snapshots are full and
    * immutable, so the feed is a single full-outer hash join on
    * `keyCols` (one shuffle on the key, or none if both snapshots are
    * written bucketed by it) with non-key columns compared via a
    * null-safe struct equality. Output size is delta-sized. A
    * table-format with a commit log would serve the same rows from the
    * log; the API is the thing callers compile against.
    */
  def changeFeed(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long, keyCols: Seq[String]): DataFrame = {
    val from = readVersion(spark, path, fromVersion)
    val to = readVersion(spark, path, toVersion)
    require(from.columns.sameElements(to.columns),
      s"changeFeed: schema drift between v$fromVersion and v$toVersion")
    val valCols = from.columns.filterNot(keyCols.contains).toSeq
    val f = from.select(struct(keyCols.map(col): _*).as("_k"),
      struct(valCols.map(col): _*).as("_fv"))
    val t = to.select(struct(keyCols.map(col): _*).as("_k2"),
      struct(valCols.map(col): _*).as("_tv"))
    val joined = f.join(t, col("_k") <=> col("_k2"), "full_outer")
      .select(coalesce(col("_k"), col("_k2")).as("_key"),
        col("_fv"), col("_tv"),
        col("_k").isNotNull.as("_inFrom"), col("_k2").isNotNull.as("_inTo"))
    val changed = joined.where(
      !col("_inFrom") || !col("_inTo") || !(col("_fv") <=> col("_tv")))
    val tagged = changed.select(col("_key"), col("_fv"), col("_tv"),
      when(!col("_inFrom"), array(lit("insert")))
        .when(!col("_inTo"), array(lit("delete")))
        .otherwise(array(lit("update_preimage"), lit("update_postimage")))
        .as("_ops"))
      .select(col("_key"), col("_fv"), col("_tv"),
        explode(col("_ops")).as("_change_type"))
    val image = when(
      col("_change_type").isin("delete", "update_preimage"), col("_fv"))
      .otherwise(col("_tv"))
    tagged.select(
      keyCols.map(c => col(s"_key.$c").as(c)) ++
        valCols.map(c => image.getField(c).as(c)) :+
        col("_change_type"): _*)
  }

  /** Apply a change feed to a snapshot: drop deleted/pre-image keys,
    * add inserted/post-image rows. `apply(v_from, changeFeed(from, to))`
    * reconstructs `v_to` exactly (round-trip property, spec-proven) —
    * the consumer-side contract that makes the feed a transport: a
    * downstream replica applies delta-sized feeds instead of copying
    * snapshots. One left-anti join on the key + a union — both
    * key-partitioned, no driver data.
    */
  def applyChanges(snapshot: DataFrame, feed: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val removedKeys = feed
      .where(col("_change_type").isin("delete", "update_preimage"))
      .select(keyCols.map(col): _*)
    val added = feed
      .where(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type")
    snapshot.join(removedKeys, keyCols, "left_anti").unionByName(added)
  }

  /** Incremental view maintenance for SUM/COUNT-class aggregates: given
    * the OLD aggregate of a base table and the base's change feed,
    * produce the NEW aggregate without touching the base again. The
    * 100 TB contract: the only full-size work in the whole operation is
    * the delta-sized `feed.groupBy` shuffle — the snapshot aggregate is
    * group-count-sized and the merge join is group-keyed.
    *
    * Algebra (valid for any abelian-group measure — SUM and COUNT here):
    * each feed row carries sign +1 (`insert` / `update_postimage`) or
    * −1 (`delete` / `update_preimage`); an update whose group changed
    * moves its pre-image out of the old group and its post-image into
    * the new one through the same signed sum. MIN/MAX are NOT
    * maintainable this way (deletion of the current extreme needs the
    * base) — callers with extremes re-aggregate or keep a heap.
    *
    * `oldAgg` columns: `groupCols ++ countCol ++ measures.map(_._2)`
    * (all BIGINT). `feed` columns: `groupCols`, each `measures._1`
    * base-measure column, and `_change_type`. Groups whose maintained
    * row count reaches zero are dropped (the group disappeared from the
    * base). An unrecognized `_change_type` raises instead of silently
    * corrupting the aggregate.
    */
  def incrementalAgg(oldAgg: DataFrame, feed: DataFrame,
      groupCols: Seq[String], countCol: String,
      measures: Seq[(String, String)]): DataFrame = {
    val sign = when(
      col("_change_type").isin("insert", "update_postimage"), lit(1L))
      .when(col("_change_type").isin("delete", "update_preimage"), lit(-1L))
      .otherwise(raise_error(concat(
        lit("incrementalAgg: unknown _change_type "),
        col("_change_type"))).cast("long"))
    val signed = feed.withColumn("_sign", sign)
    val deltaAggs =
      sum(col("_sign")).as(s"_d_$countCol") +:
        measures.map { case (feedCol, aggCol) =>
          sum(col("_sign") * col(feedCol)).as(s"_d_$aggCol")
        }
    val deltas = signed.groupBy(groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    val aggCols = countCol +: measures.map(_._2)
    val merged = oldAgg
      .select((groupCols ++ aggCols).map(col): _*)
      .join(deltas, groupCols, "full_outer")
      .select(groupCols.map(col) ++ aggCols.map { c =>
        (coalesce(col(c), lit(0L)) + coalesce(col(s"_d_$c"), lit(0L))).as(c)
      }: _*)
    merged.where(col(countCol) > 0)
  }

  /** Incremental maintenance of a ROW-LOCAL VIEW (the enrichment-join
    * complement to [[incrementalAgg]]): given the view materialized at
    * an old version, a [[changeFeed]] old→new, and the view definition
    * `enrich` (any deterministic per-row transform of the base — a
    * dim join, a projection, a filter; each base row must map to rows
    * derived from that row alone), produce the view at the NEW version
    * without re-running `enrich` over the base:
    *
    *   V_new = (V_old ∖ rows whose base pk was touched) ∪ enrich(inserts + postimages)
    *
    * Deletes need no own branch — a deleted pk lands in the touched
    * set and contributes no re-add; an update whose pk itself changed
    * is a touched pre-image pk plus a re-added post-image. Unknown
    * `_change_type` values raise (the predicate routes every feed row
    * through the validation branch) instead of silently corrupting
    * the view.
    *
    * 100 TB contract: the only full-size stage is the pk anti-join
    * against the old view — pk-keyed, so a view bucketed by pk
    * co-locates it — and `enrich` runs over the DELTA only (with its
    * dims broadcast, delta-sized map work). Direct recompute runs
    * `enrich` over the world.
    */
  def incrementalView(oldView: DataFrame, feed: DataFrame,
      pkCols: Seq[String], enrich: DataFrame => DataFrame): DataFrame = {
    val known = Seq("insert", "update_postimage", "delete", "update_preimage")
    // the touched-pk scan reads EVERY feed row, so it carries the
    // change-type validation: a known type passes, anything else raises
    val guard = when(col("_change_type").isin(known: _*), lit(true))
      .otherwise(raise_error(concat(
        lit("incrementalView: unknown _change_type "),
        col("_change_type"))).cast("boolean"))
    val touched = feed.where(guard)
      .select(pkCols.map(col): _*).distinct()
    val adds = feed
      .where(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type")
    oldView.join(touched, pkCols, "left_anti")
      .unionByName(enrich(adds))
  }
}
