package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-versioned table with SHARED data files — the half of the
  * table-format story [[VersionedTable]]'s full-snapshot layout
  * deliberately defers ("fact-scale tables version DELTAS plus
  * periodic compaction"; its class doc promises the API is
  * manifest-shaped so a real manifest can replace directory listing —
  * this is that manifest).
  *
  * A version is a FILE LIST, not a directory: data files live once in
  * a shared `_pool/` and are immutable; version k's manifest
  * (`_manifest_v<k>.json`, atomically renamed into place) names the
  * pool files it comprises. [[commitAppend]] therefore costs
  * O(delta) — it writes only the new rows' files and a manifest that
  * is parent's list + the new names — where a snapshot commit costs
  * O(table). At 100 TB that is the difference between an append being
  * a few file writes and a full-table copy; it is how Iceberg/Delta
  * commits actually work.
  *
  * The second consequence is that per-FILE metadata outlives
  * versions: files are immutable, so stats computed for a file once
  * are valid in every version that references it. [[extendStats]]
  * sketches ONLY files that have no stats row yet; a version's stats
  * view is the per-file side table filtered to its manifest — the
  * incremental-metadata property that makes data skipping affordable
  * on a table that commits every few minutes.
  *
  * Crash story: a commit is (1) parts moved into `_pool/` under
  * names unique to this version, (2) manifest written to a temp name,
  * (3) one atomic rename. A crash before (3) leaves orphaned pool
  * files invisible to every reader (no manifest names them);
  * [[vacuum]] reclaims them as unreferenced. Concurrent writers race
  * on the rename: the loser's rename fails (target exists) and it
  * retries at the next version — CAS semantics, spec-proven.
  */
object ManifestTable {

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestPath(path: String, v: Long) =
    new Path(path, s"_manifest_v$v.json")

  def committedVersions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsFor(spark, path)
    val root = new Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.matches("_manifest_v\\d+\\.json"))
      .map(_.stripPrefix("_manifest_v").stripSuffix(".json").toLong)
  }

  def latestVersion(spark: SparkSession, path: String): Long = {
    val vs = committedVersions(spark, path)
    require(vs.nonEmpty, s"no committed version under $path")
    vs.max
  }

  /** The pool-relative file names version `v` comprises, in manifest
    * order — driver-side, file-count-sized, like the scheduler's own
    * file enumeration.
    */
  def files(spark: SparkSession, path: String, v: Long): Seq[String] =
    readManifest(spark, path, v)._1

  /** (file names, physical→logical column renames — see
    * [[renameColumn]]).
    */
  def readManifest(spark: SparkSession, path: String,
      v: Long): (Seq[String], Map[String, String]) = {
    val fs = fsFor(spark, path)
    val mp = manifestPath(path, v)
    require(fs.exists(mp), s"version $v is not committed under $path")
    val in = fs.open(mp)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    parseManifest(body)
  }

  // single-purpose JSON (de)serialization — the names are our own
  // (`v<k>_part-*.parquet`, no quotes/escapes) and the rename map's
  // keys/values are column identifiers, so a strict parser beats
  // dragging in a JSON library. Two forms: a bare name array (plain
  // commits) and `{"files":[...],"renames":{"phys":"logical",...}}`
  // (column mapping). Parsing is strict by ROUND-TRIP: the extracted
  // fields must re-render to the exact input byte string, so a
  // manifest carrying any other field is refused, not misread.
  private def renderManifest(names: Seq[String],
      renames: Map[String, String]): String = {
    val arr = names.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    if (renames.isEmpty) arr
    else renames.toSeq.sorted
      .map { case (p, l) => s""""$p":"$l"""" }
      .mkString(s"""{"files":$arr,"renames":{""", ",", "}}")
  }

  private def parseManifest(
      body: String): (Seq[String], Map[String, String]) = {
    val t = body.trim
    if (!t.startsWith("{")) return (parseNameArray(t), Map.empty)
    val files = "\"files\":(\\[[^\\]]*\\])".r.findFirstMatchIn(t)
      .map(m => parseNameArray(m.group(1)))
      .getOrElse(throw new IllegalArgumentException(
        s"malformed manifest object: $t"))
    val kv = "\"([A-Za-z0-9_]+)\":\"([A-Za-z0-9_]+)\"".r
    val renames = "\"renames\":\\{([^}]*)\\}".r.findFirstMatchIn(t)
      .map(_.group(1).trim).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map {
        _.trim match {
          case kv(p, l) => p -> l
          case other => throw new IllegalArgumentException(
            s"malformed rename entry: $other")
        }
      }.toMap).getOrElse(Map.empty[String, String])
    require(renderManifest(files, renames) == t,
      s"malformed manifest object (round-trip mismatch): $t")
    (files, renames)
  }

  private def parseNameArray(body: String): Seq[String] = {
    val t = body.trim
    require(t.startsWith("[") && t.endsWith("]"), s"malformed manifest: $t")
    val inner = t.substring(1, t.length - 1).trim
    if (inner.isEmpty) Seq.empty
    else inner.split(",").toSeq.map { s =>
      val q = s.trim
      require(q.length >= 2 && q.head == '"' && q.last == '"' &&
        q.substring(1, q.length - 1).matches("[A-Za-z0-9._-]+"),
        s"malformed manifest entry: $q")
      q.substring(1, q.length - 1)
    }
  }

  /** Move `df`'s freshly-written part files into the pool under
    * version-unique names; returns the pool-relative names.
    */
  private def writeParts(df: DataFrame, path: String, v: Long): Seq[String] = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    val staging = new Path(path, s"_staging_m$v")
    df.write.mode("overwrite").parquet(staging.toString)
    val pool = new Path(path, "_pool")
    fs.mkdirs(pool)
    val parts = fs.listStatus(staging).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val names = parts.map { p =>
      val name = s"v${v}_${p.getPath.getName}"
      require(fs.rename(p.getPath, new Path(pool, name)),
        s"ManifestTable: pool move failed for $name")
      name
    }
    fs.delete(staging, true)
    names
  }

  /** Atomically publish `names` as version `v`. Returns false if `v`
    * was committed by a concurrent writer first (CAS loser — retry at
    * the next version); the loser's pool files stay orphaned until
    * [[vacuum]].
    */
  private def publish(spark: SparkSession, path: String, v: Long,
      names: Seq[String], renames: Map[String, String]): Boolean = {
    val fs = fsFor(spark, path)
    val tmp = new Path(path, s"_manifest_tmp_v${v}_${names.hashCode.abs}")
    val out = fs.create(tmp, false)
    try out.write(renderManifest(names, renames).getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(manifestPath(path, v))) { fs.delete(tmp, false); false }
    else {
      val won = fs.rename(tmp, manifestPath(path, v))
      if (!won) fs.delete(tmp, false) // lost the CAS race mid-flight
      won
    }
  }

  // ---- column mapping (Delta/Iceberg-style): pool files are written
  // ONCE under the table's original — PHYSICAL — column names and are
  // immutable; a rename is pure metadata, a physical→logical map in
  // the manifest. Readers alias physical to logical on the way out;
  // writers (appends, merge sources) translate logical back to
  // physical on the way in, so the pool stays uniform forever and a
  // rename never rewrites a byte of a 100 TB table.

  /** Version `v`'s physical→logical column map (empty = no renames). */
  def renamesOf(spark: SparkSession, path: String, v: Long)
      : Map[String, String] = readManifest(spark, path, v)._2

  private def toLogical(df: DataFrame, renames: Map[String, String])
      : DataFrame =
    if (renames.isEmpty) df
    else df.select(df.columns.toSeq
      .map(c => col(c).as(renames.getOrElse(c, c))): _*)

  private def toPhysical(df: DataFrame, renames: Map[String, String])
      : DataFrame = {
    val inv = renames.map(_.swap)
    if (inv.isEmpty) df
    else df.select(df.columns.toSeq
      .map(c => col(c).as(inv.getOrElse(c, c))): _*)
  }

  /** The physical column behind logical name `logical` under `renames`. */
  private def physicalFor(renames: Map[String, String],
      logical: String): String =
    renames.collectFirst { case (p, l) if l == logical => p }
      .getOrElse(logical)

  /** Metadata-only column rename: commits a NEW version with the SAME
    * file list and an updated physical→logical map — zero data files
    * read or written (the spec asserts byte-identical file
    * references). Renames compose (a→b then b→c maps the original
    * physical a to c); a mapping back to the physical name erases the
    * entry. Refuses a target name already in use. Old versions keep
    * their old names — time travel shows the schema as it was.
    */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Long = {
    require(to.matches("[A-Za-z0-9_]+"), s"renameColumn: bad name '$to'")
    val v = latestVersion(spark, path)
    val renames = renamesOf(spark, path, v)
    val physCols = readVersionPhysical(spark, path, v).columns.toSeq
    val logicalCols = physCols.map(c => renames.getOrElse(c, c))
    require(logicalCols.contains(from),
      s"renameColumn: no column '$from' (have ${logicalCols.mkString(", ")})")
    require(!logicalCols.filterNot(_ == from).contains(to),
      s"renameColumn: '$to' already names a column")
    val phys = physicalFor(renames, from)
    val next =
      if (phys == to) renames - phys else renames + (phys -> to)
    val nv = v + 1
    require(publish(spark, path, nv, files(spark, path, v), next),
      s"ManifestTable.renameColumn: version $nv raced a concurrent commit")
    nv
  }

  /** Append `df` as a new version: O(delta) — only the new rows are
    * written; every parent file is REFERENCED, never copied. The first
    * call creates v1. Returns the committed version number (retrying
    * past concurrent winners). `df` arrives in the CURRENT logical
    * schema; rows are stored under the physical names so the pool
    * stays uniform across renames.
    */
  def commitAppend(df: DataFrame, path: String): Long = {
    val spark = df.sparkSession
    var v = committedVersions(spark, path).sorted.lastOption.getOrElse(0L) + 1
    var renames =
      if (v == 1) Map.empty[String, String]
      else renamesOf(spark, path, v - 1)
    val names = writeParts(toPhysical(df, renames), path, v)
    while (!publish(spark, path, v,
        (if (v == 1) Seq.empty
         else files(spark, path, v - 1)) ++ names,
        renames)) {
      v += 1 // a concurrent writer took this version; re-point at the
      // new parent's list (our pool files are version-named but names
      // only need uniqueness, not version agreement)
      renames = renamesOf(spark, path, v - 1)
    }
    v
  }

  /** CHECK-constrained append (Delta's table CHECK constraints as an
    * ingestion gate): commits `df` only if every row satisfies
    * `constraint` (a boolean SQL expression over the LOGICAL schema).
    * SQL CHECK semantics — only FALSE violates; NULL (unknown)
    * passes. The check costs O(delta) — it scans the incoming rows
    * once, never the table — and REFUSES the whole commit on any
    * violation (all-or-nothing, reporting the violation count), so a
    * bad producer can never leave a partially-valid version behind.
    */
  def commitAppendChecked(df: DataFrame, path: String,
      constraint: String): Long = {
    val bad = df.where(!coalesce(expr(constraint), lit(true))).count()
    require(bad == 0L,
      s"commitAppendChecked: $bad rows violate CHECK ($constraint) — " +
        "commit refused")
    commitAppend(df, path)
  }

  /** Read version `v`: schedule exactly its manifest's pool files,
    * aliased to `v`'s LOGICAL column names (see [[renameColumn]]).
    */
  def readVersion(spark: SparkSession, path: String, v: Long): DataFrame =
    toLogical(readVersionPhysical(spark, path, v),
      renamesOf(spark, path, v))

  private def readVersionPhysical(spark: SparkSession, path: String,
      v: Long): DataFrame = {
    val names = files(spark, path, v)
    require(names.nonEmpty, s"version $v of $path has no files")
    spark.read.parquet(names.map(n => s"$path/_pool/$n"): _*)
  }

  def latest(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path, latestVersion(spark, path))

  /** Timestamp time travel (Delta's `TIMESTAMP AS OF`): the newest
    * version whose manifest was committed at or before `tsMillis` —
    * the manifest file's own modification time IS the commit time,
    * exactly one atomic rename, so no separate commit-time record can
    * disagree with it. Refuses a timestamp older than the first
    * commit (nothing existed to read).
    */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val fs = fsFor(spark, path)
    val at = committedVersions(spark, path)
      .map(v => v -> fs.getFileStatus(manifestPath(path, v))
        .getModificationTime)
      .filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"versionAsOf: no version committed at or before $tsMillis under $path")
    at.maxBy(_._1)._1
  }

  /** Read version `v` with ROW LINEAGE: an extra `_commit_version`
    * column naming the version whose commit INTRODUCED each row's
    * file — pure metadata (file → first manifest that references it),
    * joined at the scan via `_metadata.file_path`, no data rewritten
    * or compared. The incremental-debugging read ("which append
    * brought these rows in?") a 100 TB table serves without storing
    * lineage in the rows. Rewritten files (delete/merge survivors,
    * compaction output) carry the REWRITE's version — lineage names
    * the commit that produced the bytes, not the original insert.
    */
  def readVersionLineage(spark: SparkSession, path: String,
      v: Long): DataFrame = {
    import spark.implicits._
    val vs = committedVersions(spark, path).sorted.filter(_ <= v)
    val firstRef = vs.flatMap(w => files(spark, path, w).map(_ -> w))
      .groupBy(_._1).map { case (f, refs) => f -> refs.map(_._2).min }
    val names = files(spark, path, v)
    val lineage = broadcast(names.map(n => n -> firstRef(n))
      .toDF("_file", "_commit_version"))
    toLogical(
      readVersionPhysical(spark, path, v)
        .withColumn("_file",
          element_at(split(col("_metadata.file_path"), "/"), -1))
        .join(lineage, Seq("_file"))
        .drop("_file"),
      renamesOf(spark, path, v))
  }

  /** One row per version: file count, bytes, and how many files are
    * SHARED with the previous version — the audit trail that makes the
    * O(delta) claim checkable (an append's sharing is its parent's
    * whole list).
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    val fs = fsFor(spark, path)
    val vs = committedVersions(spark, path).sorted
    val lists = vs.map(v => v -> files(spark, path, v)).toMap
    val rows = vs.map { v =>
      val fl = lists(v)
      val bytes = fl.map(n =>
        fs.getFileStatus(new Path(s"$path/_pool/$n")).getLen).sum
      val shared = if (v == vs.head) 0L
        else fl.toSet.intersect(lists(vs(vs.indexOf(v) - 1)).toSet).size.toLong
      (v, fl.size.toLong, bytes, shared)
    }
    import spark.implicits._
    rows.toDF("version", "n_files", "n_bytes", "n_shared_with_prev")
  }

  /** Compaction: rewrite the LATEST version's rows into `targetFiles`
    * fresh pool files and publish them as a new version that shares
    * NOTHING — older versions still read their original files until
    * vacuumed. Stats for the new files extend incrementally like any
    * other commit.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 1): Long = {
    val v = latestVersion(spark, path)
    val nv = v + 1
    val names = writeParts(
      readVersionPhysical(spark, path, v).coalesce(targetFiles), path, nv)
    require(publish(spark, path, nv, names, renamesOf(spark, path, v)),
      s"ManifestTable.compact: version $nv raced a concurrent commit")
    nv
  }

  /** OPTIMIZE … ZORDER BY on the shared-file layout: rewrite the
    * latest version's rows into `targetFiles` Morton-clustered pool
    * files — each file a compact (x, y) RECTANGLE, so per-file stats
    * are tight on BOTH columns and a 2-d box read prunes on both
    * manifests at once ([[readVersionPrunedMulti]]), where plain
    * range clustering is tight on one key only. Published as a new
    * version sharing nothing; older versions read their original
    * layout until vacuumed; stats for the new files extend
    * incrementally like any commit. zkey16 interleaves the LOW 16
    * bits of each dimension — domains beyond 65535 wrap, degrading
    * cluster quality, never correctness (pruning reads the real
    * column stats and every read carries the exact residual filter).
    */
  def compactZorder(spark: SparkSession, path: String, xCol: String,
      yCol: String, targetFiles: Int): Long = {
    val v = latestVersion(spark, path)
    val renames = renamesOf(spark, path, v)
    val nv = v + 1
    val clustered = readVersionPhysical(spark, path, v)
      .withColumn("__z", graft.operators.ZOrder.zkey16(
        col(physicalFor(renames, xCol)), col(physicalFor(renames, yCol))))
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    val names = writeParts(clustered, path, nv)
    require(publish(spark, path, nv, names, renames),
      s"ManifestTable.compactZorder: version $nv raced a concurrent commit")
    nv
  }

  /** Multi-dimensional data skipping: keep only files overlapping
    * EVERY band — per-column prunes intersect, which is where the
    * z-ordered layout pays ([[compactZorder]]). Exact residual filter
    * on all bands; stats required for every file on every band
    * column, as ever.
    */
  /** The files of version `v` whose per-column stats bands intersect
    * EVERY probe band — the scan schedule [[readVersionPrunedMulti]]
    * reads. Public so specs can audit layout effects (z-order, the
    * c25 partition evolution) at the file level.
    */
  def prunedFilesMulti(spark: SparkSession, path: String, v: Long,
      bands: Seq[(String, Long, Long)]): Seq[String] = {
    require(bands.nonEmpty, "prunedFilesMulti: no bands given")
    val renames = renamesOf(spark, path, v)
    val names = files(spark, path, v)
    val keptPerBand = bands.map { case (c, lo, hi) =>
      val phys = physicalFor(renames, c)
      val stats = statsFor(spark, path, v).where(col("column") === phys)
        .select("file", "min_v", "max_v").collect()
      val statFiles = stats.map(_.getString(0)).toSet
      require(names.forall(statFiles.contains),
        s"prunedFilesMulti: files of v$v lack stats for $c: " +
          names.filterNot(statFiles.contains).mkString(", "))
      stats.filter(r => !r.isNullAt(1) && r.getLong(2) >= lo
        && r.getLong(1) <= hi).map(_.getString(0)).toSet
    }
    keptPerBand.reduce(_ intersect _).toSeq.sorted
  }

  def readVersionPrunedMulti(spark: SparkSession, path: String, v: Long,
      bands: Seq[(String, Long, Long)]): DataFrame = {
    val renames = renamesOf(spark, path, v)
    val kept = prunedFilesMulti(spark, path, v, bands)
    val residual = bands.map { case (c, lo, hi) =>
      col(physicalFor(renames, c)) >= lo &&
        col(physicalFor(renames, c)) <= hi
    }.reduce(_ && _)
    if (kept.isEmpty) readVersion(spark, path, v).where(lit(false))
    else toLogical(
      spark.read.schema(readVersionPhysical(spark, path, v).schema)
        .parquet(kept.map(n => s"$path/_pool/$n"): _*)
        .where(residual),
      renames)
  }

  /** Retention with REFCOUNTING: drop every version except the newest
    * `keep`, then delete pool files no SURVIVING manifest references —
    * shared files live exactly as long as a reader can reach them.
    * Orphans from crashed/lost commits are reclaimed here too.
    * Returns (versions dropped, pool files deleted).
    */
  def vacuum(spark: SparkSession, path: String,
      keep: Int = 2): (Seq[Long], Seq[String]) = {
    require(keep >= 1, "vacuum: must keep at least the latest version")
    val fs = fsFor(spark, path)
    val vs = committedVersions(spark, path).sorted
    val drop = vs.dropRight(keep)
    drop.foreach(v => fs.delete(manifestPath(path, v), false))
    val live = vs.drop(drop.size)
      .flatMap(v => files(spark, path, v)).toSet
    val pool = new Path(path, "_pool")
    val dead = if (!fs.exists(pool)) Seq.empty[String]
      else fs.listStatus(pool).toSeq.map(_.getPath.getName)
        .filterNot(live.contains).sorted
    dead.foreach(n => fs.delete(new Path(pool, n), false))
    // per-file stats rows for deleted files are dropped with them
    if (fs.exists(new Path(s"$path/_filestats")) && dead.nonEmpty) {
      val kept = readFileStats(spark, path)
        .where(!col("file").isin(dead: _*))
      val tmp = s"$path/_filestats_new"
      kept.coalesce(1).write.mode("overwrite").parquet(tmp)
      fs.delete(new Path(s"$path/_filestats"), true)
      require(fs.rename(new Path(tmp), new Path(s"$path/_filestats")),
        "vacuum: stats rewrite rename failed")
    }
    (drop, dead)
  }

  /** Predicate-pruned DELETE (Delta's DELETE with file skipping): drop
    * rows with `colName` ∈ [lo, hi] as a NEW version that REWRITES
    * ONLY the files whose per-file stats overlap the band — every
    * other file is referenced unchanged, byte-identical, stats intact.
    * On a 100 TB table a targeted delete (GDPR erasure, a bad
    * ingestion window) touches the few files that can possibly hold
    * the rows; the rest of the table is never read, never written.
    * Old versions still read the pre-delete data (time travel is the
    * audit trail). Requires stats on `colName` for every file — a
    * stats-less file cannot be safely skipped, and rewriting it
    * unconditionally would hide the metadata gap; fail loudly.
    * Returns the new version, or the CURRENT version unchanged if no
    * file overlaps the band (a provable no-op commits nothing).
    */
  def deleteWhere(spark: SparkSession, path: String, colName: String,
      lo: Long, hi: Long): Long = {
    val v = latestVersion(spark, path)
    val renames = renamesOf(spark, path, v)
    val phys = physicalFor(renames, colName) // stats are keyed physical
    val names = files(spark, path, v)
    val stats = statsFor(spark, path, v).where(col("column") === phys)
      .select("file", "min_v", "max_v").collect()
    val statFiles = stats.map(_.getString(0)).toSet
    require(names.forall(statFiles.contains),
      s"deleteWhere: files of v$v lack stats for $colName: " +
        names.filterNot(statFiles.contains).mkString(", "))
    val touched = stats
      .filter(r => !r.isNullAt(1) && r.getLong(2) >= lo && r.getLong(1) <= hi)
      .map(_.getString(0)).toSet
    if (touched.isEmpty) return v // provable no-op
    val untouched = names.filterNot(touched.contains)
    val nv = v + 1
    val survivors = spark.read
      .parquet(touched.toSeq.sorted.map(n => s"$path/_pool/$n"): _*)
      .where(!(col(phys) >= lo && col(phys) <= hi))
      .coalesce(touched.size)
    val newNames = writeParts(survivors, path, nv)
    require(publish(spark, path, nv, untouched ++ newNames, renames),
      s"ManifestTable.deleteWhere: version $nv raced a concurrent commit")
    nv
  }

  /** Incremental read between versions — the manifest layout's payoff
    * on the READ side: the rows added after `fromV` (exclusive) up to
    * `toV` (inclusive) are exactly the rows of the files the two
    * manifests DIFFER by, so change capture costs O(delta-files) with
    * ZERO data compared ([[VersionedTable.changeFeed]] diff-joins two
    * full snapshots — O(table); here the delta falls out of the
    * metadata). This is how a downstream consumer tails a 100 TB
    * table that commits every minute: each poll schedules only the
    * new files.
    *
    * Sound only for APPEND-ONLY histories: a version that REMOVED a
    * file (delete, merge rewrite, compaction) breaks
    * rows-added-equals-file-diff — a rewritten file's surviving rows
    * would re-appear as "new". Every step in (fromV, toV] is checked
    * (not just the endpoints: a mid-range rewrite can slip past an
    * endpoint-only subset test) and refused loudly — Delta's
    * streaming-source contract, without the ignoreChanges opt-out.
    */
  def tailSince(spark: SparkSession, path: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV <= toV, s"tailSince: fromV $fromV > toV $toV")
    // fromV = 0 means "before the first commit": the whole of toV is
    // the delta (a fresh consumer's initial batch)
    val base =
      if (fromV == 0) Seq.empty[String] else files(spark, path, fromV)
    var prev = base
    ((fromV + 1) to toV).foreach { v =>
      val cur = files(spark, path, v)
      val removed = prev.filterNot(cur.toSet)
      require(removed.isEmpty,
        s"tailSince: v$v is not an append (removed ${removed.mkString(", ")}) " +
          "— rows-added-equals-file-diff does not hold past a rewrite")
      prev = cur
    }
    val delta = prev.filterNot(base.toSet)
    if (delta.isEmpty) readVersion(spark, path, toV).where(lit(false))
    else toLogical(
      spark.read.parquet(delta.sorted.map(n => s"$path/_pool/$n"): _*),
      renamesOf(spark, path, toV))
  }

  /** Copy-on-write MERGE (Delta's `MERGE INTO … WHEN MATCHED THEN
    * UPDATE SET * WHEN NOT MATCHED THEN INSERT *`): upsert `source`
    * (same schema as the table; `keyCol` unique WITHIN source —
    * checked, because two source rows matching one target row makes
    * the update ambiguous, the error Delta raises too) into the
    * latest version. Two-phase file skipping finds the touched set:
    *
    *   1. '''stats prune''' — a file is a CANDIDATE only if some
    *      source key falls inside its per-file [min,max] band on
    *      `keyCol`. The bands are manifest-sized, so they broadcast
    *      to the source side; the table itself is never read here.
    *   2. '''exact probe''' — candidates are scanned ONCE, key column
    *      only, inner-joined to the source keys via
    *      `_metadata.file_path`: a candidate whose band overlaps but
    *      which holds no actually-matched key stays UNTOUCHED (the
    *      payoff over band-only pruning — spec-proven on a file whose
    *      band brackets a key it doesn't contain).
    *
    * Touched files are rewritten with matched rows' non-key columns
    * replaced by the source row's (row multiplicity preserved — N
    * target rows with the same key all update, as in Delta); source
    * rows that matched nothing anywhere are appended as new file(s).
    * Every other file is referenced byte-identical, stats intact. On
    * a 100 TB table the cost is O(files-actually-hit + delta), not
    * O(table). Old versions still serve the pre-merge rows. Requires
    * stats on `keyCol` for every file (a stats-less file cannot be
    * safely skipped; rewriting it unconditionally would hide the
    * metadata gap — fail loudly). Returns the new version, or the
    * current version unchanged for an empty source.
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      keyCol: String): Long = {
    val v = latestVersion(spark, path)
    val renames = renamesOf(spark, path, v)
    val physKey = physicalFor(renames, keyCol) // pool + stats: physical
    val names = files(spark, path, v)
    val stats = statsFor(spark, path, v).where(col("column") === physKey)
      .select("file", "min_v", "max_v").collect()
    val statFiles = stats.map(_.getString(0)).toSet
    require(names.forall(statFiles.contains),
      s"mergeInto: files of v$v lack stats for $keyCol: " +
        names.filterNot(statFiles.contains).mkString(", "))
    val src = toPhysical(source, renames).cache()
    try {
      val dup = src.groupBy(physKey).count().where(col("count") > 1).count()
      require(dup == 0,
        s"mergeInto: $dup duplicate $keyCol values in source — " +
          "a target row would match more than one update")
      if (src.isEmpty) return v
      // phase 1: band prune. Bands are manifest-sized → broadcast them
      // against the source keys; candidates = files whose band admits
      // at least one source key.
      import spark.implicits._
      val bands = stats.toSeq
        .collect { case r if !r.isNullAt(1) =>
          (r.getString(0), r.getLong(1), r.getLong(2)) }
        .toDF("file", "min_v", "max_v")
      val srcKeys = src.select(col(physKey).cast("long").as("_mk"))
      val candidates = srcKeys
        .join(broadcast(bands),
          col("_mk") >= col("min_v") && col("_mk") <= col("max_v"))
        .select("file").distinct().collect().map(_.getString(0)).toSeq
      // phase 2: exact probe — key column only, candidates only.
      val touched: Seq[String] =
        if (candidates.isEmpty) Seq.empty
        else spark.read
          .parquet(candidates.sorted.map(n => s"$path/_pool/$n"): _*)
          .select(col(physKey),
            element_at(split(col("_metadata.file_path"), "/"), -1)
              .as("_file"))
          .join(src.select(col(physKey)), Seq(physKey), "left_semi")
          .select("_file").distinct().collect().map(_.getString(0)).toSeq
      val untouched = names.filterNot(touched.toSet)
      val tableSchema = readVersionPhysical(spark, path, v).schema
      val others = tableSchema.fieldNames.filterNot(_ == physKey).toSeq
      val srcAliased = src.select(
        col(physKey) +: others.map(c => col(c).as(s"_src_$c")): _*)
      val nv = v + 1
      // rewrite: matched rows take the source row's non-key columns;
      // multiplicity and target column order preserved.
      val rewrittenNames =
        if (touched.isEmpty) Seq.empty
        else {
          val rows = spark.read.schema(tableSchema)
            .parquet(touched.sorted.map(n => s"$path/_pool/$n"): _*)
          val marked = src.select(col(physKey), lit(true).as("_hit"))
          val rewritten = rows
            .join(srcAliased.join(marked, Seq(physKey)), Seq(physKey), "left")
            .select(tableSchema.fieldNames.toSeq.map {
              case k if k == physKey => col(k)
              case c => when(col("_hit"), col(s"_src_$c"))
                .otherwise(col(c)).as(c)
            }: _*)
            .coalesce(touched.size)
          writeParts(rewritten, path, nv)
        }
      // insert: source rows whose key matched nothing anywhere. Keys
      // outside every band cannot match; keys inside a band matched
      // only if the probe's scan found them — so anti-join against
      // the touched files' key set is exact.
      val matchedKeys =
        if (touched.isEmpty) src.select(col(physKey)).where(lit(false))
        else spark.read
          .parquet(touched.sorted.map(n => s"$path/_pool/$n"): _*)
          .select(col(physKey))
      val inserts = src
        .join(matchedKeys.distinct(), Seq(physKey), "left_anti")
        .select(tableSchema.fieldNames.toSeq.map(col): _*)
      val insertNames =
        if (inserts.isEmpty) Seq.empty
        else writeParts(inserts.coalesce(1), path, nv)
      require(publish(spark, path, nv,
          untouched ++ rewrittenNames ++ insertNames, renames),
        s"ManifestTable.mergeInto: version $nv raced a concurrent commit")
      nv
    } finally src.unpersist()
  }

  /** Incrementally extend the per-FILE stats side table for `statsCols`
    * (long-typed): files are immutable, so stats are computed ONCE per
    * file and reused by every version that references it — only files
    * of `version` that carry no stats row yet are scanned. The 100 TB
    * consequence: a minutely append commits metadata for its delta
    * only, never re-reads the table.
    */
  def extendStats(spark: SparkSession, path: String, version: Long,
      statsCols0: Seq[String]): Unit = {
    val fs = fsFor(spark, path)
    // stats rows are keyed by PHYSICAL column names (they describe
    // immutable files); callers pass the current logical names
    val renames = renamesOf(spark, path, version)
    val statsCols = statsCols0.map(physicalFor(renames, _))
    val have: Set[String] =
      if (!fs.exists(new Path(s"$path/_filestats"))) Set.empty
      else readFileStats(spark, path)
        .select("file").distinct().collect().map(_.getString(0)).toSet
    val need = files(spark, path, version).filterNot(have.contains)
    if (need.isEmpty) return
    val snap = spark.read
      .parquet(need.map(n => s"$path/_pool/$n"): _*)
      .select(element_at(split(col("_metadata.file_path"), "/"), -1)
        .as("file") +: statsCols.map(col): _*)
    val perCol = statsCols.map { c =>
      snap.groupBy("file").agg(
        count(lit(1)).as("n_rows"),
        min(col(c)).cast("long").as("min_v"),
        max(col(c)).cast("long").as("max_v"))
        .select(col("file"), lit(c).as("column"), col("n_rows"),
          col("min_v"), col("max_v"))
    }
    val fromData = perCol.reduce(_ unionByName _)
    // a ZERO-ROW file (e.g. a delete that emptied it) produces no
    // aggregate group — it still needs a stats row (n_rows=0, NULL
    // band) or every stats consumer would refuse the file as
    // metadata-less. NULL bands never overlap a probe, so empty files
    // always prune.
    val covered = fromData.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    val emptyFiles = need.filterNot(covered.contains)
    val all = if (emptyFiles.isEmpty) fromData else {
      import spark.implicits._
      val zeroRows = emptyFiles.flatMap(f => statsCols.map(c =>
        (f, c, 0L, Option.empty[Long], Option.empty[Long])))
        .toDF("file", "column", "n_rows", "min_v", "max_v")
      fromData.unionByName(zeroRows)
    }
    all.coalesce(1)
      .write.mode("append").parquet(s"$path/_filestats")
  }

  /** The per-file stats side table (all files ever sketched). */
  def readFileStats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/_filestats")

  /** Version `v`'s stats view: the side table filtered to its
    * manifest — per-file metadata outlives versions.
    */
  def statsFor(spark: SparkSession, path: String, v: Long): DataFrame = {
    val names = files(spark, path, v)
    readFileStats(spark, path).where(col("file").isin(names: _*))
  }

  /** Band-pruned read of version `v` on `colName` ∈ [lo, hi] through
    * the per-file stats — [[VersionedTable.readVersionPruned]]'s
    * contract on the shared-file layout, with the residual filter
    * exact as ever. Requires stats for every file of `v` (a file
    * without stats cannot be safely skipped, and silently scanning it
    * would hide a metadata gap — fail loudly instead).
    */
  /** JOIN-TIME dynamic file pruning (Delta's DFP): schedule only the
    * files whose [min,max] band on `colName` admits at least one of
    * the dim side's join keys — the data-skipping story extended from
    * single-table predicates (c9–c14) to the join boundary, where a
    * dim-filtered fact scan otherwise reads the whole fact table and
    * lets the join discard 99% of it. `keys` is collected
    * driver-side, the same dim-sized contract as a broadcast join's
    * build side (DFP only ever applies when the dim IS
    * broadcast-small); per-file admission is a sorted-array binary
    * search, O(files · log keys). The exact join afterwards keeps
    * correctness independent of pruning (a false admit costs bytes,
    * a false drop is impossible: every key inside a file lies inside
    * its band). Requires stats for every file — fail loudly, as ever.
    */
  def readVersionPrunedByKeys(spark: SparkSession, path: String, v: Long,
      colName: String, keys: Seq[Long]): DataFrame = {
    val renames = renamesOf(spark, path, v)
    val phys = physicalFor(renames, colName)
    val names = files(spark, path, v)
    val stats = statsFor(spark, path, v).where(col("column") === phys)
      .select("file", "min_v", "max_v").collect()
    val statFiles = stats.map(_.getString(0)).toSet
    require(names.forall(statFiles.contains),
      s"readVersionPrunedByKeys: files of v$v lack stats for $colName: " +
        names.filterNot(statFiles.contains).mkString(", "))
    val sorted = keys.distinct.sorted.toArray
    def bandHasKey(lo: Long, hi: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(sorted, lo)
      val at = if (i >= 0) i else -i - 1 // first key >= lo
      at < sorted.length && sorted(at) <= hi
    }
    val kept = stats.toSeq
      .filter(r => !r.isNullAt(1) && bandHasKey(r.getLong(1), r.getLong(2)))
      .map(_.getString(0)).sorted
    val full = readVersionPhysical(spark, path, v)
    if (kept.isEmpty) readVersion(spark, path, v).where(lit(false))
    else toLogical(
      spark.read.schema(full.schema)
        .parquet(kept.map(n => s"$path/_pool/$n"): _*),
      renames)
  }

  def readVersionPruned(spark: SparkSession, path: String, v: Long,
      colName: String, lo: Long, hi: Long): DataFrame = {
    val renames = renamesOf(spark, path, v)
    val phys = physicalFor(renames, colName) // stats are keyed physical
    val names = files(spark, path, v)
    val stats = statsFor(spark, path, v).where(col("column") === phys)
    val statFiles = stats.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    require(names.forall(statFiles.contains),
      s"readVersionPruned: files of v$v lack stats for $colName: " +
        names.filterNot(statFiles.contains).mkString(", "))
    val kept = stats.where(col("max_v") >= lo && col("min_v") <= hi)
      .select("file").collect().map(_.getString(0)).toSeq.sorted
    val full = readVersionPhysical(spark, path, v)
    if (kept.isEmpty) readVersion(spark, path, v).where(lit(false))
    else toLogical(
      spark.read.schema(full.schema)
        .parquet(kept.map(n => s"$path/_pool/$n"): _*)
        .where(col(phys) >= lo && col(phys) <= hi),
      renames)
  }
}
