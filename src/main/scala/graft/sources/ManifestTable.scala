package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JacksonException, JsonParser}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import graft.functions.Bloom

/** The engine's one table format: a version is a FILE LIST over a
  * shared pool of immutable data files (the Iceberg/Delta manifest
  * design), read and pruned on the driver.
  *
  * Layout under the table path:
  *  - `_pool/`: every data file, written once under a version-unique
  *    name and never modified;
  *  - `_manifest_v<k>.json`: version k's pool file names, its
  *    physical→logical column renames ([[renameColumn]]) and the pool
  *    files' physical schema, so reads need no schema-inference job;
  *  - `_meta_v<k>.json` (optional): per-file sketches of version k's
  *    files ([[extendStats]]): row count and min/max per column, key
  *    blooms and token blooms. Every pruner reads it on the driver and
  *    runs no Spark job.
  *
  * Commits: [[commit]] publishes a full snapshot at an explicit version
  * (a manifest naming only its own files); [[commitAppend]] costs
  * O(delta): the new rows' files plus a manifest that is the parent's
  * list with the new names. Deletes, merges and compactions rewrite
  * only the files they must and reference the rest byte-identical.
  * Files are immutable, so a sketch computed for a file is valid in
  * every version that references it and is computed once.
  *
  * Crash story: a commit is (1) parts moved into `_pool/` under names
  * unique to this attempt, (2) the manifest written to a temp name,
  * (3) one atomic rename. A crash before (3) leaves pool files no
  * manifest names, invisible to every reader; [[vacuum]] reclaims them.
  * Concurrent writers race on the rename: the loser's rename fails
  * (target exists) and an append retries at the next version (CAS). A
  * published version is never replaced: a retried [[commit]] of it
  * leaves it as it was and its parts to vacuum.
  */
object ManifestTable {

  private val Json =
    new ObjectMapper().enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)

  /** What version k's manifest records. */
  private final case class Commit(files: Seq[String], renames: Map[String, String],
      schema: StructType)

  /** One column's stats over one file: its row count (NULLs included)
    * and the [min, max] band of its non-NULL values (None if it has
    * none). */
  final case class Stat(rows: Long, band: Option[(Long, Long)])

  /** One data file's sketches, keyed by PHYSICAL column name (they
    * describe immutable files): stats, key blooms and token blooms as
    * [[graft.functions.Bloom]] blobs. */
  final case class FileMeta(stats: Map[String, Stat] = Map.empty,
      blooms: Map[String, Array[Byte]] = Map.empty,
      tokens: Map[String, Array[Byte]] = Map.empty) {
    def ++(o: FileMeta): FileMeta =
      FileMeta(stats ++ o.stats, blooms ++ o.blooms, tokens ++ o.tokens)
  }

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestPath(path: String, v: Long) =
    new Path(path, s"_manifest_v$v.json")

  private def metaPath(path: String, v: Long) = new Path(path, s"_meta_v$v.json")

  // ---- the two JSON files. Parsing is strict: a field the layout does
  // not write is refused, not ignored, and pool names must be plain.

  private def readJson(spark: SparkSession, p: Path): JsonNode = {
    val in = fsFor(spark, p.toString).open(p)
    try Json.readTree(in)
    catch {
      case e: JacksonException =>
        throw new IllegalArgumentException(s"malformed $p: ${e.getMessage}", e)
    } finally in.close()
  }

  /** A JSON object's entries (a map keyed by names or columns). */
  private def entries(n: JsonNode, what: String): Map[String, JsonNode] = {
    require(n != null && n.isObject, s"malformed $what: expected an object, got $n")
    n.properties.asScala.map(e => e.getKey -> e.getValue).toMap
  }

  /** A JSON record's fields, all of them among `allowed`. */
  private def fields(n: JsonNode, what: String,
      allowed: String*): Map[String, JsonNode] = {
    val fs = entries(n, what)
    val unknown = fs.keySet -- allowed
    require(unknown.isEmpty, s"malformed $what: unknown field ${unknown.mkString(", ")}")
    fs
  }

  private def poolName(n: JsonNode): String = {
    require(n.isTextual && n.asText.matches("[A-Za-z0-9._-]+"),
      s"malformed pool file name: $n")
    n.asText
  }

  private def longOf(n: JsonNode, what: String): Long = {
    require(n.isIntegralNumber && n.canConvertToLong, s"malformed $what: $n")
    n.asLong
  }

  private def renderCommit(c: Commit): Array[Byte] = {
    val root = Json.createObjectNode()
    val files = root.putArray("files")
    c.files.foreach(files.add)
    val renames = root.putObject("renames")
    c.renames.toSeq.sorted.foreach { case (p, l) => renames.put(p, l) }
    root.set[JsonNode]("schema", Json.readTree(c.schema.json))
    Json.writeValueAsBytes(root)
  }

  private def parseCommit(n: JsonNode, what: String): Commit = {
    val f = fields(n, what, "files", "renames", "schema")
    require(f.size == 3, s"malformed $what: needs files, renames and schema")
    require(f("files").isArray, s"malformed $what: files is not an array")
    val renames = entries(f("renames"), s"$what renames").map { case (p, l) =>
      require(p.matches("[A-Za-z0-9_]+") && l.isTextual && l.asText.matches("[A-Za-z0-9_]+"),
        s"malformed rename entry in $what: $p -> $l")
      p -> l.asText
    }
    val schema = DataType.fromJson(f("schema").toString) match {
      case s: StructType => s
      case other => throw new IllegalArgumentException(s"malformed $what schema: $other")
    }
    Commit(f("files").asScala.map(poolName).toSeq, renames, schema)
  }

  private def renderMeta(meta: Map[String, FileMeta]): Array[Byte] = {
    val root = Json.createObjectNode()
    val files = root.putObject("files")
    meta.toSeq.sortBy(_._1).foreach { case (name, m) =>
      val e = files.putObject(name)
      val stats = e.putObject("stats")
      m.stats.toSeq.sortBy(_._1).foreach { case (c, Stat(rows, band)) =>
        val a = stats.putArray(c).add(rows)
        band match {
          case Some((lo, hi)) => a.add(lo).add(hi)
          case None => a.addNull().addNull()
        }
      }
      val blooms = e.putObject("blooms")
      m.blooms.toSeq.sortBy(_._1).foreach { case (c, b) => blooms.put(c, b) }
      val tokens = e.putObject("tokens")
      m.tokens.toSeq.sortBy(_._1).foreach { case (c, b) => tokens.put(c, b) }
    }
    Json.writeValueAsBytes(root)
  }

  private def parseMeta(n: JsonNode, what: String): Map[String, FileMeta] =
    entries(fields(n, what, "files").getOrElse("files",
        throw new IllegalArgumentException(s"malformed $what: no files")), s"$what files").map {
      case (name, e) =>
        require(name.matches("[A-Za-z0-9._-]+"), s"malformed pool file name in $what: $name")
        val f = fields(e, s"$what entry $name", "stats", "blooms", "tokens")
        def blobs(k: String) = f.get(k).fold(Map.empty[String, Array[Byte]])(
          entries(_, s"$what $k").map { case (c, b) => c -> b.binaryValue })
        val stats = f.get("stats").fold(Map.empty[String, Stat])(
          entries(_, s"$what stats").map { case (c, a) =>
            require(a.isArray && a.size == 3, s"malformed stat in $what: $c -> $a")
            val band =
              if (a.get(1).isNull && a.get(2).isNull) None
              else Some((longOf(a.get(1), what), longOf(a.get(2), what)))
            c -> Stat(longOf(a.get(0), what), band)
          })
        name -> FileMeta(stats, blobs("blooms"), blobs("tokens"))
    }

  /** Write `bytes` to `target` through a temp file and one rename, so a
    * reader sees the whole old file or the whole new one. Without
    * `overwrite` the rename fails if `target` exists; returns whether
    * `target` now holds `bytes`.
    */
  private def writeAtomically(spark: SparkSession, target: Path,
      bytes: Array[Byte], overwrite: Boolean): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = target.getFileSystem(conf)
    val tmp = new Path(target.getParent,
      s"_tmp_${java.util.UUID.randomUUID}_${target.getName}")
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    if (overwrite) {
      FileContext.getFileContext(tmp.toUri, conf)
        .rename(tmp, target, Options.Rename.OVERWRITE)
      true
    } else {
      val won = !fs.exists(target) && fs.rename(tmp, target)
      if (!won) fs.delete(tmp, false) // lost the CAS race
      won
    }
  }

  // ---- versions and their manifests

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

  /** Version `v`'s manifest. Fails loudly on a version that is not
    * committed rather than reading a partial one. */
  private def manifest(spark: SparkSession, path: String, v: Long): Commit = {
    val mp = manifestPath(path, v)
    require(fsFor(spark, path).exists(mp), s"version $v is not committed under $path")
    parseCommit(readJson(spark, mp), mp.toString)
  }

  /** The pool file names version `v` comprises, in manifest order. */
  def files(spark: SparkSession, path: String, v: Long): Seq[String] =
    manifest(spark, path, v).files

  /** Version `v`'s per-file sketches (empty if none were written). */
  def fileMeta(spark: SparkSession, path: String, v: Long): Map[String, FileMeta] = {
    val mp = metaPath(path, v)
    if (!fsFor(spark, path).exists(mp)) Map.empty
    else parseMeta(readJson(spark, mp), mp.toString)
  }

  /** Move `df`'s freshly written part files into the pool under
    * attempt-unique names; returns the pool names.
    */
  private def writeParts(df: DataFrame, path: String, v: Long): Seq[String] = {
    val fs = fsFor(df.sparkSession, path)
    val staging = new Path(path, s"_staging_${java.util.UUID.randomUUID}")
    df.write.parquet(staging.toString)
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

  /** Atomically publish `c` as version `v`. Returns false if `v` is
    * already published (a CAS loser or a retry); its pool files stay
    * unreferenced until [[vacuum]].
    */
  private def publish(spark: SparkSession, path: String, v: Long,
      c: Commit): Boolean =
    writeAtomically(spark, manifestPath(path, v), renderCommit(c), overwrite = false)

  /** Publish `c` as the version after `v`, which must still be free. */
  private def publishNext(spark: SparkSession, path: String, v: Long,
      c: Commit, op: String): Long = {
    require(publish(spark, path, v + 1, c),
      s"ManifestTable.$op: version ${v + 1} raced a concurrent commit")
    v + 1
  }

  /** Publish `df` as the full snapshot `version` (0 is legal): its
    * manifest names only its own pool files. A retry of a published
    * version leaves that version unchanged; the retry's parts stay in
    * the pool, unreferenced, until [[vacuum]].
    */
  def commit(df: DataFrame, path: String, version: Long): Unit =
    publish(df.sparkSession, path, version,
      Commit(writeParts(df, path, version), Map.empty, df.schema))

  // ---- column mapping (Delta/Iceberg-style): pool files keep the
  // table's original, PHYSICAL column names forever; a rename is a
  // physical→logical map in the manifest. Readers alias physical to
  // logical on the way out; writers translate back on the way in.

  /** Version `v`'s physical→logical column map (empty = no renames). */
  def renamesOf(spark: SparkSession, path: String, v: Long): Map[String, String] =
    manifest(spark, path, v).renames

  private def toLogical(df: DataFrame, renames: Map[String, String]): DataFrame =
    if (renames.isEmpty) df
    else df.select(df.columns.toSeq.map(c => col(c).as(renames.getOrElse(c, c))): _*)

  private def toPhysical(df: DataFrame, renames: Map[String, String]): DataFrame =
    toLogical(df, renames.map(_.swap))

  /** The physical column behind logical name `logical` under `renames`. */
  private def physicalFor(renames: Map[String, String], logical: String): String =
    renames.collectFirst { case (p, l) if l == logical => p }.getOrElse(logical)

  /** Metadata-only column rename: a NEW version with the SAME file list
    * and an updated physical→logical map; zero data files read or
    * written. Renames compose (a→b then b→c maps physical a to c); a
    * mapping back to the physical name erases the entry. Refuses a
    * target name already in use. Old versions keep their old names.
    */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Long = {
    require(to.matches("[A-Za-z0-9_]+"), s"renameColumn: bad name '$to'")
    val v = latestVersion(spark, path)
    val m = manifest(spark, path, v)
    val logicalCols = m.schema.fieldNames.toSeq.map(c => m.renames.getOrElse(c, c))
    require(logicalCols.contains(from),
      s"renameColumn: no column '$from' (have ${logicalCols.mkString(", ")})")
    require(!logicalCols.filterNot(_ == from).contains(to),
      s"renameColumn: '$to' already names a column")
    val phys = physicalFor(m.renames, from)
    val next = if (phys == to) m.renames - phys else m.renames + (phys -> to)
    publishNext(spark, path, v, m.copy(renames = next), "renameColumn")
  }

  /** Append `df` as a new version: O(delta). Only the new rows are
    * written; every parent file is REFERENCED, never copied. The first
    * commit of a table is v1. Returns the committed version, retrying
    * past concurrent winners. `df` arrives in the CURRENT logical
    * schema and is stored under the physical names.
    */
  def commitAppend(df: DataFrame, path: String): Long = {
    val spark = df.sparkSession
    val latestV = committedVersions(spark, path).maxOption
    var v = latestV.fold(1L)(_ + 1)
    var parent = latestV.map(manifest(spark, path, _))
    val phys = toPhysical(df, parent.fold(Map.empty[String, String])(_.renames))
    val names = writeParts(phys, path, v)
    while (!publish(spark, path, v, parent match {
        case Some(p) => p.copy(files = p.files ++ names)
        case None => Commit(names, Map.empty, phys.schema)
      })) {
      v += 1 // a concurrent writer took this version: re-point at it
      parent = Some(manifest(spark, path, v - 1))
    }
    v
  }

  /** CHECK-constrained append (Delta's table CHECK constraints): commits
    * `df` only if every row satisfies `constraint`, a boolean SQL
    * expression over the LOGICAL schema. SQL CHECK semantics: only
    * FALSE violates, NULL passes. The check scans the incoming rows
    * once, never the table, and REFUSES the whole commit on any
    * violation, so a bad producer never leaves a partial version.
    */
  def commitAppendChecked(df: DataFrame, path: String,
      constraint: String): Long = {
    val bad = df.where(!coalesce(expr(constraint), lit(true))).count()
    require(bad == 0L,
      s"commitAppendChecked: $bad rows violate CHECK ($constraint) — commit refused")
    commitAppend(df, path)
  }

  // ---- reads

  /** The named pool files under schema `schema`; no files → an empty
    * relation with that schema. No schema-inference job either way. */
  private def scan(spark: SparkSession, path: String, schema: StructType,
      names: Seq[String]): DataFrame =
    if (names.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).parquet(names.map(n => s"$path/_pool/$n"): _*)

  /** `names` of the version whose manifest is `m`, under its LOGICAL
    * column names. */
  private def readFiles(spark: SparkSession, path: String, m: Commit,
      names: Seq[String]): DataFrame =
    toLogical(scan(spark, path, m.schema, names), m.renames)

  /** Time travel: version `v`, exactly its manifest's files. */
  def readVersion(spark: SparkSession, path: String, v: Long): DataFrame =
    readPruned(spark, path, v)(_.m.files)

  def latest(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path, latestVersion(spark, path))

  /** Timestamp time travel (Delta's `TIMESTAMP AS OF`): the newest
    * version whose manifest was committed at or before `tsMillis`; the
    * manifest's own modification time IS the commit time (one atomic
    * rename). Refuses a timestamp older than the first commit.
    */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val fs = fsFor(spark, path)
    val at = committedVersions(spark, path)
      .map(v => v -> fs.getFileStatus(manifestPath(path, v)).getModificationTime)
      .filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"versionAsOf: no version committed at or before $tsMillis under $path")
    at.maxBy(_._1)._1
  }

  /** Version `v` with ROW LINEAGE: `_commit_version` names the version
    * whose commit introduced each row's file (file → first manifest
    * that references it), joined at the scan; no data rewritten or
    * compared. Rewritten files (delete/merge survivors, compaction
    * output) carry the REWRITE's version.
    */
  def readVersionLineage(spark: SparkSession, path: String, v: Long): DataFrame = {
    import spark.implicits._
    val firstRef = committedVersions(spark, path).sorted.filter(_ <= v)
      .flatMap(w => files(spark, path, w).map(_ -> w))
      .groupMapReduce(_._1)(_._2)(math.min)
    val m = manifest(spark, path, v)
    val lineage = broadcast(m.files.map(n => n -> firstRef(n))
      .toDF("_file", "_commit_version"))
    toLogical(
      scan(spark, path, m.schema, m.files)
        .withColumn("_file", col("_metadata.file_name"))
        .join(lineage, Seq("_file"))
        .drop("_file"),
      m.renames)
  }

  /** One row per version: file count, bytes, and how many files are
    * SHARED with the previous version (an append shares its parent's
    * whole list; a snapshot or a compaction shares nothing).
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    val fs = fsFor(spark, path)
    val vs = committedVersions(spark, path).sorted
    val lists = vs.map(files(spark, path, _))
    val rows = vs.indices.map { i =>
      val fl = lists(i)
      val bytes = fl.map(n => fs.getFileStatus(new Path(s"$path/_pool/$n")).getLen).sum
      val shared = if (i == 0) 0L else fl.toSet.intersect(lists(i - 1).toSet).size.toLong
      (vs(i), fl.size.toLong, bytes, shared)
    }
    import spark.implicits._
    rows.toDF("version", "n_files", "n_bytes", "n_shared_with_prev")
  }

  /** Incremental read: the rows added after `fromV` (exclusive) up to
    * `toV` (inclusive) are exactly the rows of the files the manifests
    * differ by, so change capture costs O(delta files) with zero data
    * compared ([[changeFeed]] diff-joins two snapshots instead). Sound
    * only for APPEND-ONLY histories: every step in (fromV, toV] is
    * checked and a version that removed a file is refused. `fromV` = 0
    * means before the first commit (a fresh consumer's first batch).
    */
  def tailSince(spark: SparkSession, path: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV <= toV, s"tailSince: fromV $fromV > toV $toV")
    val base = if (fromV == 0) Seq.empty[String] else files(spark, path, fromV)
    var prev = base
    ((fromV + 1) to toV).foreach { v =>
      val cur = files(spark, path, v)
      val removed = prev.filterNot(cur.toSet)
      require(removed.isEmpty,
        s"tailSince: v$v is not an append (removed ${removed.mkString(", ")}) " +
          "— rows-added-equals-file-diff does not hold past a rewrite")
      prev = cur
    }
    readFiles(spark, path, manifest(spark, path, toV), prev.filterNot(base.toSet).sorted)
  }

  // ---- rewrites and retention

  /** Compaction: rewrite the LATEST version's rows into `targetFiles`
    * fresh pool files, published as a new version that shares nothing
    * and carries the parent's sketches. Never in place: every older
    * version still reads its own files until vacuumed.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 1): Long =
    rewriteLatest(spark, path, "compact")(_.coalesce(targetFiles))

  /** OPTIMIZE … ZORDER BY: rewrite the latest version's rows into
    * `targetFiles` Morton-clustered files, each a compact (x, y)
    * RECTANGLE, so per-file stats are tight on BOTH columns and a 2-d
    * box prunes on both ([[readVersionPrunedMulti]]). zkey16 interleaves
    * the LOW 16 bits of each dimension: wider domains wrap, which costs
    * cluster quality, never correctness.
    */
  def compactZorder(spark: SparkSession, path: String, xCol: String,
      yCol: String, targetFiles: Int): Long = {
    val renames = renamesOf(spark, path, latestVersion(spark, path))
    rewriteLatest(spark, path, "compactZorder")(_
      .withColumn("__z", graft.operators.ZOrder.zkey16(
        col(physicalFor(renames, xCol)), col(physicalFor(renames, yCol))))
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z"))
  }

  private def rewriteLatest(spark: SparkSession, path: String, op: String)(
      layout: DataFrame => DataFrame): Long = {
    val v = latestVersion(spark, path)
    val m = manifest(spark, path, v)
    val names = writeParts(layout(scan(spark, path, m.schema, m.files)), path, v + 1)
    val nv = publishNext(spark, path, v, m.copy(files = names), op)
    val parent = fileMeta(spark, path, v).values
    def sizes(of: FileMeta => Map[String, Array[Byte]]) =
      parent.flatMap(of).map { case (c, b) =>
        val (bits, k) = Bloom.decode(b)
        c -> (bits.length * 64, k)
      }.toMap
    if (parent.nonEmpty)
      sketch(spark, path, nv, m.copy(files = names), parent.flatMap(_.stats.keys).toSet,
        sizes(_.blooms), sizes(_.tokens))
    nv
  }

  /** Retention with REFCOUNTING: drop every version except the newest
    * `keep` (manifest and sketches), then delete the pool files no
    * SURVIVING manifest references, so a shared file lives exactly as
    * long as a reader can reach it. Orphans of crashed or lost commits
    * are reclaimed here too. Returns (versions dropped, files deleted).
    */
  def vacuum(spark: SparkSession, path: String,
      keep: Int = 2): (Seq[Long], Seq[String]) = {
    require(keep >= 1, "vacuum: must keep at least the latest version")
    val fs = fsFor(spark, path)
    val vs = committedVersions(spark, path).sorted
    val drop = vs.dropRight(keep)
    drop.foreach { v =>
      fs.delete(manifestPath(path, v), false)
      fs.delete(metaPath(path, v), false)
    }
    val live = vs.drop(drop.size).flatMap(files(spark, path, _)).toSet
    val pool = new Path(path, "_pool")
    val dead = if (!fs.exists(pool)) Seq.empty[String]
      else fs.listStatus(pool).toSeq.map(_.getPath.getName).filterNot(live).sorted
    dead.foreach(n => fs.delete(new Path(pool, n), false))
    (drop, dead)
  }

  // ---- per-file sketches

  /** The canonical tokenizer shared by the token-bloom build, the
    * residual search filter and every oracle: lowercase alnum runs. */
  private def tokensExpr(textCol: String): String =
    s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)"

  /** Sketch version `v`'s files on the driver-read metadata file:
    * min/max/count on the long-typed `stats` columns, per-file key
    * blooms on `blooms` and token blooms (each file's distinct
    * vocabulary of [[tokensExpr]] tokens) on the text columns `tokens`,
    * at `numBits` bits and `k` probes. Names are logical. A file that
    * already carries a sketch, in this version's metadata or any
    * earlier version's, keeps it: only the files that lack one are
    * scanned, one columnar pass per sketch kind. Blooms admit no NULL,
    * so an all-NULL file prunes for every probe.
    *
    * Sizing: key blooms hold a file's distinct keys; token blooms its
    * distinct vocabulary (2^17 bits / k=7 hold ~10k tokens at ~1% FPR).
    */
  def extendStats(spark: SparkSession, path: String, v: Long,
      stats: Seq[String], blooms: Seq[String] = Nil, tokens: Seq[String] = Nil,
      numBits: Int = 1 << 17, k: Int = 7): Unit = {
    val m = manifest(spark, path, v)
    def phys(cs: Seq[String]) = cs.map(physicalFor(m.renames, _))
    sketch(spark, path, v, m, phys(stats).toSet,
      phys(blooms).map(_ -> (numBits, k)).toMap,
      phys(tokens).map(_ -> (numBits, k)).toMap)
  }

  private def sketch(spark: SparkSession, path: String, v: Long, m: Commit,
      stats: Set[String], blooms: Map[String, (Int, Int)],
      tokens: Map[String, (Int, Int)]): Unit = {
    // Only the newest metadata file at or before `v` is read: every
    // sketch rewrites the entries of all its version's files, so it
    // already carries the earlier files' sketches, and a file of `v`
    // missing from it was written after it.
    val fs = fsFor(spark, path)
    val known = committedVersions(spark, path).filter(_ <= v).sorted.reverseIterator
      .map(metaPath(path, _)).find(fs.exists)
      .fold(Map.empty[String, FileMeta])(mp => parseMeta(readJson(spark, mp), mp.toString))
    val have = m.files.map(f => f -> known.getOrElse(f, FileMeta())).toMap
    def lacking(cs: Iterable[String], of: FileMeta => Map[String, _]) =
      m.files.filterNot(f => cs.forall(of(have(f)).contains))
    def rows(names: Seq[String]) = scan(spark, path, m.schema, names)
      .withColumn("_file", col("_metadata.file_name"))

    val newStats: Map[String, Map[String, Stat]] = lacking(stats, _.stats) match {
      case Seq() => Map.empty
      case need =>
        val cs = stats.toSeq.sorted
        val aggs = count(lit(1)) +: cs.flatMap(c =>
          Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
        val got = rows(need).groupBy("_file").agg(aggs.head, aggs.tail: _*)
          .collect().map { r =>
            r.getString(0) -> cs.indices.map { i =>
              val at = 2 + 2 * i
              cs(i) -> Stat(r.getLong(1),
                if (r.isNullAt(at)) None else Some((r.getLong(at), r.getLong(at + 1))))
            }.toMap
          }.toMap
        // a zero-row file has no group: count 0 and no band, never admitted
        need.map(f => f -> got.getOrElse(f, cs.map(_ -> Stat(0L, None)).toMap)).toMap
    }

    /** Per-file blooms of the 64-bit keys `keys(c)` yields per column. */
    def bloomsOf(spec: Map[String, (Int, Int)], of: FileMeta => Map[String, _],
        keys: String => Column) =
      lacking(spec.keys, of) match {
        case Seq() => Map.empty[String, Map[String, Array[Byte]]]
        case need =>
          val cs = spec.toSeq.sortBy(_._1)
          val src = rows(need)
          val got = cs.map { case (c, (bits, k)) =>
            src.where(col(c).isNotNull).select(col("_file"), keys(c).as("_h"))
              .groupBy("_file").agg(Bloom.bloomAgg(col("_h"), bits, k).as("blob"))
              .select(col("_file"), lit(c).as("column"), col("blob"))
          }.reduce(_ unionByName _).collect()
            .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Array[Byte]](2)).toMap
          need.map(f => f -> cs.map { case (c, (bits, k)) =>
            c -> got.getOrElse((f, c), Bloom.buildLocal(Iterator.empty, bits, k))
          }.toMap).toMap
      }
    val newBlooms = bloomsOf(blooms, _.blooms, c => col(c).cast("long"))
    val newTokens = bloomsOf(tokens, _.tokens, c => explode(expr(
      s"array_distinct(transform(${tokensExpr(c)}, t -> xxhash64(t)))")))

    val meta = m.files.map(f => f -> (have(f) ++ FileMeta(
      newStats.getOrElse(f, Map.empty), newBlooms.getOrElse(f, Map.empty),
      newTokens.getOrElse(f, Map.empty)))).toMap
    writeAtomically(spark, metaPath(path, v), renderMeta(meta), overwrite = true)
  }

  // ---- driver-side pruning: every pruner reads the manifest and the
  // metadata file once per public call and runs no Spark job. A pruned
  // file provably holds no matching row; every pruned read still
  // applies the exact filter.

  /** Version `v`'s manifest, and its metadata file on first use: each
    * parsed at most once per public call. */
  private final class Parsed(spark: SparkSession, val path: String, val v: Long) {
    val m: Commit = manifest(spark, path, v)
    lazy val meta: Map[String, FileMeta] = fileMeta(spark, path, v)
  }

  /** Every file of `p` with its `kind` sketch of logical column `c`. A
    * file without one fails loudly: it could not be skipped safely,
    * and scanning it anyway would hide the metadata gap.
    */
  private def sketched[A](p: Parsed, c: String, kind: String)(
      of: FileMeta => Map[String, A]): Seq[(String, A)] = {
    val phys = physicalFor(p.m.renames, c)
    val got = p.m.files.map(f => f -> p.meta.get(f).flatMap(of(_).get(phys)))
    val lacking = got.collect { case (f, None) => f }
    require(lacking.isEmpty,
      s"files of v${p.v} under ${p.path} lack $kind for $c: ${lacking.mkString(", ")}")
    got.map { case (f, a) => f -> a.get }
  }

  /** The files of `v` whose [min, max] band on `c` overlaps [lo, hi],
    * plus the version's file count. */
  def prunedFiles(spark: SparkSession, path: String, v: Long,
      c: String, lo: Long, hi: Long): (Seq[String], Long) =
    inBand(new Parsed(spark, path, v), c, lo, hi)

  private def inBand(p: Parsed, c: String, lo: Long, hi: Long): (Seq[String], Long) = {
    val st = sketched(p, c, "stats")(_.stats)
    (st.collect { case (f, Stat(_, Some((mn, mx)))) if mx >= lo && mn <= hi => f }.sorted,
      st.size.toLong)
  }

  /** Multi-dimensional skipping: the files overlapping EVERY band (a
    * file must be possible in all dimensions). This is where a
    * z-ordered layout pays ([[compactZorder]]).
    */
  def prunedFilesMulti(spark: SparkSession, path: String, v: Long,
      bands: Seq[(String, Long, Long)]): Seq[String] =
    inAllBands(new Parsed(spark, path, v), bands)

  private def inAllBands(p: Parsed, bands: Seq[(String, Long, Long)]): Seq[String] = {
    require(bands.nonEmpty, "prunedFilesMulti: no bands given")
    bands.map { case (c, lo, hi) => inBand(p, c, lo, hi)._1.toSet }
      .reduce(_ intersect _).toSeq.sorted
  }

  /** The files whose `kind` bloom on `c` admits `keep`, plus the file
    * count. False positives over-keep; false negatives are impossible. */
  private def admitted(p: Parsed, c: String, kind: String,
      of: FileMeta => Map[String, Array[Byte]])(
      keep: (Array[Long], Int) => Boolean): (Seq[String], Long) = {
    val blobs = sketched(p, c, kind)(of)
    (blobs.filter { case (_, b) => val (bits, k) = Bloom.decode(b); keep(bits, k) }
      .map(_._1).sorted, blobs.size.toLong)
  }

  /** The files of `v` whose key bloom on `c` admits ANY of `values`:
    * the layout-independent point lookup (on a hash layout every file
    * spans the key domain and min/max keeps all of them). */
  def prunedFilesBloom(spark: SparkSession, path: String, v: Long,
      c: String, values: Seq[Long]): (Seq[String], Long) =
    bloomAdmits(new Parsed(spark, path, v), c, values)

  private def bloomAdmits(p: Parsed, c: String, values: Seq[Long]): (Seq[String], Long) = {
    require(values.nonEmpty, "prunedFilesBloom: empty value list")
    admitted(p, c, "key blooms", _.blooms)((bits, k) =>
      values.exists(Bloom.mightContain(bits, k, _)))
  }

  /** The files of `v` whose token bloom on `textCol` admits EVERY one
    * of `terms` (AND search at file granularity). Terms hash through
    * the engine's own xxhash64, evaluated on the driver, so build and
    * probe cannot drift. */
  def prunedFilesToken(spark: SparkSession, path: String, v: Long,
      textCol: String, terms: Seq[String]): (Seq[String], Long) =
    tokensAdmit(new Parsed(spark, path, v), textCol, terms)

  private def tokensAdmit(p: Parsed, textCol: String,
      terms: Seq[String]): (Seq[String], Long) = {
    require(terms.nonEmpty, "token search: empty term list")
    terms.foreach(t => require(t.matches("[a-z0-9]+"),
      s"search term must be a lowercase alnum token, got '$t'"))
    val hashes = terms.map(t => new XxHash64(Seq(Literal(t))).eval().asInstanceOf[Long])
    admitted(p, textCol, "token blooms", _.tokens)((bits, k) =>
      hashes.forall(Bloom.mightContain(bits, k, _)))
  }

  /** The files of `v` whose [min, max] band on `c` admits at least one
    * of `keys`: a sorted-array binary search per file, O(files · log
    * keys). */
  def prunedFilesByKeys(spark: SparkSession, path: String, v: Long,
      c: String, keys: Seq[Long]): Seq[String] =
    holdingKeys(new Parsed(spark, path, v), c, keys)

  private def holdingKeys(p: Parsed, c: String, keys: Seq[Long]): Seq[String] = {
    val sorted = keys.distinct.sorted.toArray
    def hasKey(lo: Long, hi: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(sorted, lo)
      val at = if (i >= 0) i else -i - 1 // first key >= lo
      at < sorted.length && sorted(at) <= hi
    }
    sketched(p, c, "stats")(_.stats)
      .collect { case (f, Stat(_, Some((lo, hi)))) if hasKey(lo, hi) => f }.sorted
  }

  /** Band-pruned read: only the files overlapping [lo, hi] on `c` are
    * scheduled, with the exact row filter on top. Correct on ANY
    * layout; it only SKIPS where the layout clusters `c`. */
  def readVersionPruned(spark: SparkSession, path: String, v: Long,
      c: String, lo: Long, hi: Long): DataFrame =
    readVersionPrunedMulti(spark, path, v, Seq((c, lo, hi)))

  def readVersionPrunedMulti(spark: SparkSession, path: String, v: Long,
      bands: Seq[(String, Long, Long)]): DataFrame =
    readPruned(spark, path, v)(inAllBands(_, bands))
      .where(bands.map { case (c, lo, hi) => col(c).between(lo, hi) }.reduce(_ && _))

  /** The files `pick` selects from version `v`, parsed once. */
  private def readPruned(spark: SparkSession, path: String, v: Long)(
      pick: Parsed => Seq[String]): DataFrame = {
    val p = new Parsed(spark, path, v)
    readFiles(spark, path, p.m, pick(p))
  }

  /** IN-list point lookup through the key blooms, then the exact IN. */
  def readVersionPrunedBloom(spark: SparkSession, path: String, v: Long,
      c: String, values: Seq[Long]): DataFrame =
    readPruned(spark, path, v)(bloomAdmits(_, c, values)._1)
      .where(col(c).isin(values: _*))

  /** Keyword search through the token blooms, then the exact row-level
    * containment filter (a row matches iff its tokens hold ALL terms):
    * the search never misses a document. */
  def readVersionSearch(spark: SparkSession, path: String, v: Long,
      textCol: String, terms: Seq[String]): DataFrame =
    readPruned(spark, path, v)(tokensAdmit(_, textCol, terms)._1)
      .where(terms.map(t => array_contains(expr(tokensExpr(textCol)), t)).reduce(_ && _))

  /** JOIN-TIME dynamic file pruning (Delta's DFP): only the files whose
    * band on `c` admits one of the dim side's join `keys` (collected on
    * the driver, the contract of a broadcast join's build side). The
    * exact join afterwards keeps correctness independent of pruning. */
  def readVersionPrunedByKeys(spark: SparkSession, path: String, v: Long,
      c: String, keys: Seq[Long]): DataFrame =
    readPruned(spark, path, v)(holdingKeys(_, c, keys))

  /** Metadata-only aggregation: COUNT(*), MIN and MAX of `c` from the
    * per-file stats alone, with ZERO data files read, as a one-row local
    * relation. SQL semantics: `n_rows` counts every row, `min_v` and
    * `max_v` ignore NULLs. Sound because files are immutable.
    */
  def statsAgg(spark: SparkSession, path: String, v: Long, c: String): DataFrame = {
    val st = sketched(new Parsed(spark, path, v), c, "stats")(_.stats).map(_._2)
    val bands = st.flatMap(_.band)
    def boxed(x: Option[Long]) = x.map(Long.box).orNull
    spark.createDataFrame(
      java.util.List.of(Row(st.map(_.rows).sum, boxed(bands.map(_._1).minOption),
        boxed(bands.map(_._2).maxOption))),
      StructType(Seq("n_rows", "min_v", "max_v").map(StructField(_, LongType))))
  }

  // ---- DML over the latest version

  /** Predicate-pruned DELETE of the rows with `c` in [lo, hi], as a NEW
    * version that rewrites ONLY the files whose band overlaps; every
    * other file is referenced byte-identical. Old versions still read
    * the pre-delete rows. Requires stats on `c` for every file. Returns
    * the new version, or the current one if no file overlaps (a
    * provable no-op commits nothing).
    */
  def deleteWhere(spark: SparkSession, path: String, c: String,
      lo: Long, hi: Long): Long = {
    val v = latestVersion(spark, path)
    val p = new Parsed(spark, path, v)
    val m = p.m
    val (touched, _) = inBand(p, c, lo, hi)
    if (touched.isEmpty) return v
    val phys = col(physicalFor(m.renames, c))
    val survivors = scan(spark, path, m.schema, touched)
      .where(phys.isNull || !phys.between(lo, hi))
      .coalesce(touched.size)
    publishNext(spark, path, v, m.copy(files =
      m.files.filterNot(touched.toSet) ++ writeParts(survivors, path, v + 1)),
      "deleteWhere")
  }

  /** Copy-on-write MERGE (`WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *`): upsert `source` (the table's logical
    * schema; `keyCol` unique within it, checked, as Delta does) into the
    * latest version. The touched set is found in two phases:
    *
    *   1. '''band prune''' on the driver: the source keys are collected
    *      (delta-sized) and a file is a candidate only if its band on
    *      `keyCol` admits one of them;
    *   2. '''exact probe''': the candidates' key column is scanned once
    *      and semi-joined to the source keys, so a candidate whose band
    *      brackets a key it does not hold stays untouched. The probe
    *      collects the matched keys with their files, so whether any
    *      source row inserts is decided on the driver (a NULL key never
    *      matches), and the insert anti-join runs only when it writes.
    *
    * Touched files are rewritten with matched rows taking the source
    * row's non-key columns (N target rows with one key all update);
    * unmatched source rows land as new files; every other file is
    * referenced byte-identical. Requires stats on `keyCol` for every
    * file. Returns the new version, or the current one for an empty
    * source.
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      keyCol: String): Long = {
    val v = latestVersion(spark, path)
    val p = new Parsed(spark, path, v)
    val m = p.m
    val physKey = physicalFor(m.renames, keyCol)
    val src = toPhysical(source, m.renames).cache()
    try {
      val srcKeys = src.select(col(physKey), col(physKey).cast("long")).collect()
      val keys = srcKeys.map(r => if (r.isNullAt(1)) None else Some(r.getLong(1)))
      val dup = keys.groupBy(identity).count(_._2.length > 1)
      require(dup == 0, s"mergeInto: $dup duplicate $keyCol values in source — " +
        "a target row would match more than one update")
      val candidates = holdingKeys(p, keyCol, keys.flatten.toSeq)
      if (keys.isEmpty) return v
      // (matched key, file holding it) pairs: delta-sized, like the keys
      val probed: Seq[(Any, String)] =
        if (candidates.isEmpty) Seq.empty
        else scan(spark, path, m.schema, candidates)
          .select(col(physKey), col("_metadata.file_name").as("_file"))
          .join(src.select(col(physKey)), Seq(physKey), "left_semi")
          .distinct().collect().map(r => r.get(0) -> r.getString(1)).toSeq
      val touched = probed.map(_._2).distinct.sorted
      val matched = probed.map(_._1).toSet
      val fields = m.schema.fieldNames.toSeq
      val nv = v + 1
      // rewrite: matched rows take the source row's non-key columns
      val rewritten =
        if (touched.isEmpty) Seq.empty
        else {
          val hits = src.select(col(physKey) +: fields.filterNot(_ == physKey)
            .map(c => col(c).as(s"_src_$c")) :+ lit(true).as("_hit"): _*)
          writeParts(scan(spark, path, m.schema, touched)
            .join(hits, Seq(physKey), "left")
            .select(fields.map {
              case k if k == physKey => col(k)
              case c => when(col("_hit"), col(s"_src_$c")).otherwise(col(c)).as(c)
            }: _*)
            .coalesce(touched.size), path, nv)
        }
      // insert: source rows whose key matched nothing. Keys outside
      // every band cannot match, keys inside one matched only if the
      // probe found them, so the anti-join against the touched files'
      // keys is exact.
      val inserted =
        if (srcKeys.forall(r => !r.isNullAt(0) && matched(r.get(0)))) Seq.empty
        else writeParts(src
          .join(scan(spark, path, m.schema, touched).select(col(physKey)).distinct(),
            Seq(physKey), "left_anti")
          .select(fields.map(col): _*)
          .coalesce(1), path, nv)
      publishNext(spark, path, v, m.copy(files =
        m.files.filterNot(touched.toSet) ++ rewritten ++ inserted), "mergeInto")
    } finally src.unpersist()
  }

  // ---- change feed and incremental maintenance over versions

  /** Row-level change feed between two committed versions (Delta's
    * CHANGE DATA FEED read): one row per changed key with `_change_type`
    * in {insert, delete, update_preimage, update_postimage} — pre/post
    * pairs share the key, so a downstream MERGE can replay the delta
    * without re-reading either snapshot.
    *
    * Derived by DIFF, not log replay: the feed is a single full-outer
    * hash join on `keyCols` (one shuffle on the key) with non-key
    * columns compared via a null-safe struct equality. Output size is
    * delta-sized. A table-format with a commit log would serve the same
    * rows from the log; the API is the thing callers compile against.
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
