package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** Full-snapshot versions on the manifest layout ([[ManifestTable.commit]]
  * at explicit versions): time travel, history, compaction, the change
  * feed algebra, per-file sketches and the pruned reads over them, and
  * the commit protocol's crash edges (uncommitted partials invisible
  * and swept, committed retries never replace the snapshot).
  */
class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshPath(): String =
    Files.createTempDirectory("vtab").resolve("t").toString

  private def df(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  /** What a commit of `v` that crashed before its manifest rename
    * leaves behind: an unreferenced pool file and a temp manifest. */
  private def plantPartial(p: String, v: Long): Unit = {
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    for (f <- Seq(s"_pool/v${v}_part-torn.parquet", s"_tmp_torn__manifest_v$v.json")) {
      val out = fs.create(new Path(p, f), true)
      try out.write("torn".getBytes("UTF-8")) finally out.close()
    }
  }

  test("time travel reads each immutable version; latest tracks max") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L, 2L -> 20L), p, 1L)
    ManifestTable.commit(df(1L -> 11L, 2L -> 20L, 3L -> 30L), p, 2L)
    assert(ManifestTable.committedVersions(spark, p).sorted == Seq(1L, 2L))
    assert(ManifestTable.readVersion(spark, p, 1L).count() == 2)
    assert(ManifestTable.latestVersion(spark, p) == 2L)
    val latest = ManifestTable.latest(spark, p)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(latest.toSeq == Seq(1L -> 11L, 2L -> 20L, 3L -> 30L))
    // v1 is undisturbed by v2's commit (immutability)
    val v1 = ManifestTable.readVersion(spark, p, 1L)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(v1.toSeq == Seq(1L -> 10L, 2L -> 20L))
  }

  test("reading an uncommitted or absent version fails loudly") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L), p, 1L)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersion(spark, p, 7L)
    }
    // a partial write of v5 (its parts in the pool and an unrenamed
    // manifest) is invisible to listing and unreadable through the API
    plantPartial(p, 5L)
    assert(ManifestTable.committedVersions(spark, p) == Seq(1L))
    intercept[IllegalArgumentException] {
      ManifestTable.readVersion(spark, p, 5L)
    }
  }

  test("compaction produces a data-identical new version with fewer files") {
    val p = freshPath()
    ManifestTable.commit(df((1L to 100L).map(i => i -> i * 2): _*)
      .repartition(8), p, 1L)
    val before = ManifestTable.history(spark, p)
      .where(col("version") === 1).select("n_files").head().getLong(0)
    assert(before > 1, s"fixture should start multi-file, got $before files")
    val nv = ManifestTable.compact(spark, p, targetFiles = 1)
    assert(nv == 2L)
    val after = ManifestTable.history(spark, p)
      .where(col("version") === 2).select("n_files").head().getLong(0)
    assert(after == 1L)
    // data-identical both ways
    val v1 = ManifestTable.readVersion(spark, p, 1L)
    val v2 = ManifestTable.readVersion(spark, p, 2L)
    assert(v1.exceptAll(v2).isEmpty && v2.exceptAll(v1).isEmpty)
    // and v1 files untouched (readers of the old version undisturbed)
    assert(ManifestTable.history(spark, p)
      .where(col("version") === 1).select("n_files").head().getLong(0) == before)
  }

  test("history lists versions in order with file and byte stats") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 1L), p, 1L)
    ManifestTable.commit(df(1L -> 1L, 2L -> 2L), p, 2L)
    val h = ManifestTable.history(spark, p).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(h.forall(r => r.getLong(1) >= 1 && r.getLong(2) > 0))
  }

  test("committed retry keeps the snapshot; uncommitted partial is swept") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L), p, 1L)
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val m1 = new Path(p, "_manifest_v1.json")
    val v1ModTime = fs.getFileStatus(m1).getModificationTime
    val v1Files = ManifestTable.files(spark, p, 1L)
    // retry of the committed version: the published manifest is never
    // replaced, even by a retry carrying other rows; no staging is left
    ManifestTable.commit(df(1L -> 99L), p, 1L)
    assert(fs.getFileStatus(m1).getModificationTime == v1ModTime)
    assert(ManifestTable.files(spark, p, 1L) == v1Files)
    assert(!fs.listStatus(new Path(p)).exists(_.getPath.getName.startsWith("_staging")))
    assert(ManifestTable.latest(spark, p).head().getLong(1) == 10L)
    // an UNCOMMITTED partial of v2 does not block committing v2
    plantPartial(p, 2L)
    ManifestTable.commit(df(1L -> 11L), p, 2L)
    assert(ManifestTable.readVersion(spark, p, 2L).head().getLong(1) == 11L)
    // vacuum sweeps the retry's parts and the partial's orphan; both
    // versions stay readable
    val (dropped, dead) = ManifestTable.vacuum(spark, p, keep = 2)
    assert(dropped.isEmpty && dead.size == 2 && dead.contains("v2_part-torn.parquet"),
      s"expected the retry's part and the torn part, got $dead")
    assert(ManifestTable.readVersion(spark, p, 1L).head().getLong(1) == 10L)
  }

  test("change feed classifies insert/delete/update and skips unchanged keys") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L, 2L -> 20L, 3L -> 30L), p, 1L)
    ManifestTable.commit(df(2L -> 20L, 3L -> 31L, 4L -> 40L), p, 2L)
    val feed = ManifestTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
      .orderBy("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(feed.toSeq == Seq(
      (1L, 10L, "delete"),
      (3L, 31L, "update_postimage"), // lexical: post < pre
      (3L, 30L, "update_preimage"),
      (4L, 40L, "insert")))
    // key 2 is untouched and must NOT appear: the feed is delta-sized
  }

  test("change feed across a compaction boundary has zero spurious changes") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L, 2L -> 20L).repartition(4), p, 1L)
    val nv = ManifestTable.compact(spark, p) // v2: same rows, fewer files
    assert(ManifestTable.changeFeed(spark, p, 1L, nv, Seq("k")).isEmpty)
  }

  test("applying a change feed to the old snapshot reconstructs the new one") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L, 2L -> 20L, 3L -> 30L), p, 1L)
    ManifestTable.commit(df(2L -> 21L, 3L -> 30L, 4L -> 40L, 5L -> 50L), p, 2L)
    val feed = ManifestTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
    val rebuilt = ManifestTable.applyChanges(
      ManifestTable.readVersion(spark, p, 1L), feed, Seq("k"))
    val v2 = ManifestTable.readVersion(spark, p, 2L)
    assert(rebuilt.exceptAll(v2).isEmpty && v2.exceptAll(rebuilt).isEmpty)
  }

  test("change feed rejects schema drift between versions") {
    import spark.implicits._
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L), p, 1L)
    ManifestTable.commit(Seq((1L, 10L)).toDF("k", "renamed"), p, 2L)
    intercept[IllegalArgumentException] {
      ManifestTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
    }
  }

  // group key = k % 2, measure = v; the maintained rollup must equal a
  // direct re-aggregation of the new snapshot for every feed shape
  private def rollup(d: org.apache.spark.sql.DataFrame) = d
    .withColumn("g", pmod(col("k"), lit(2L)))
    .groupBy("g")
    .agg(count(lit(1)).as("n"), sum("v").as("sv"))

  private def maintainedEqualsDirect(p: String): Unit = {
    val feed = ManifestTable
      .changeFeed(spark, p, 1L, 2L, Seq("k"))
      .withColumn("g", pmod(col("k"), lit(2L)))
    val maintained = ManifestTable.incrementalAgg(
      rollup(ManifestTable.readVersion(spark, p, 1L)), feed,
      Seq("g"), "n", Seq("v" -> "sv"))
    val direct = rollup(ManifestTable.readVersion(spark, p, 2L))
    assert(maintained.exceptAll(direct).isEmpty
      && direct.exceptAll(maintained).isEmpty)
  }

  test("incrementalAgg maintains the rollup through insert/update/delete") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L, 2L -> 20L, 3L -> 30L), p, 1L)
    // 2 updated, 3 deleted, 4+5 inserted, 1 unchanged
    ManifestTable.commit(df(1L -> 10L, 2L -> 25L, 4L -> 40L, 5L -> 50L),
      p, 2L)
    maintainedEqualsDirect(p)
  }

  test("incrementalAgg drops a group whose last keys are deleted") {
    val p = freshPath()
    // odd group = {1, 3}; v2 deletes both, so group 1 must VANISH from
    // the maintained rollup (not linger as a zero row)
    ManifestTable.commit(df(1L -> 10L, 2L -> 20L, 3L -> 30L), p, 1L)
    ManifestTable.commit(df(2L -> 20L, 6L -> 60L), p, 2L)
    maintainedEqualsDirect(p)
    val feed = ManifestTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
      .withColumn("g", pmod(col("k"), lit(2L)))
    val m = ManifestTable.incrementalAgg(
      rollup(ManifestTable.readVersion(spark, p, 1L)), feed,
      Seq("g"), "n", Seq("v" -> "sv"))
    assert(m.where(col("g") === 1L).isEmpty)
  }

  test("incrementalAgg with an empty feed is the identity") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L, 2L -> 20L), p, 1L)
    ManifestTable.commit(df(1L -> 10L, 2L -> 20L), p, 2L)
    maintainedEqualsDirect(p)
  }

  // view definition for the incrementalView tests: dim-join + derive
  private def viewOf(base: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val dim = Seq(0L -> "even", 1L -> "odd").toDF("par", "tag")
    base.withColumn("par", pmod(col("k"), lit(2L)))
      .join(broadcast(dim), Seq("par"))
      .select(col("k"), col("v"), (col("v") * 10L).as("v10"), col("tag"))
  }

  private def viewMaintainedEqualsDirect(p: String): Unit = {
    val feed = ManifestTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
    val m = ManifestTable.incrementalView(
      viewOf(ManifestTable.readVersion(spark, p, 1L)), feed,
      Seq("k"), viewOf)
    val d = viewOf(ManifestTable.readVersion(spark, p, 2L))
    assert(m.collect().map(_.toSeq).toSet === d.collect().map(_.toSeq).toSet)
  }

  test("incrementalView maintains the join view through insert/update/delete") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L, 2L -> 20L, 3L -> 30L), p, 1L)
    // 2 updated, 3 deleted, 4+5 inserted, 1 unchanged
    ManifestTable.commit(df(1L -> 10L, 2L -> 25L, 4L -> 40L, 5L -> 50L),
      p, 2L)
    viewMaintainedEqualsDirect(p)
  }

  test("incrementalView: empty feed is the identity; all-deleted empties the view") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L, 2L -> 20L), p, 1L)
    ManifestTable.commit(df(1L -> 10L, 2L -> 20L), p, 2L)
    viewMaintainedEqualsDirect(p)
    val p2 = freshPath()
    ManifestTable.commit(df(1L -> 10L, 2L -> 20L), p2, 1L)
    ManifestTable.commit(df(), p2, 2L)
    viewMaintainedEqualsDirect(p2)
  }

  test("incrementalView chains: applying successive feeds equals direct at the head") {
    // the production life of a maintained view is a CHAIN of deltas,
    // not one hop — randomized three-version history, maintained
    // v1→v2→v3 through two incremental applications
    val rnd = new scala.util.Random(5151)
    val p = freshPath()
    def randSnap(keys: Seq[Long]) = df(keys.map(k => k -> rnd.nextLong(100L)): _*)
    val k1 = (1L to 40L).filter(_ => rnd.nextBoolean())
    val k2 = (1L to 40L).filter(_ => rnd.nextBoolean())
    val k3 = (1L to 40L).filter(_ => rnd.nextBoolean())
    ManifestTable.commit(randSnap(k1), p, 1L)
    ManifestTable.commit(randSnap(k2), p, 2L)
    ManifestTable.commit(randSnap(k3), p, 3L)
    val v1view = viewOf(ManifestTable.readVersion(spark, p, 1L))
    val m2 = ManifestTable.incrementalView(v1view,
      ManifestTable.changeFeed(spark, p, 1L, 2L, Seq("k")), Seq("k"), viewOf)
    val m3 = ManifestTable.incrementalView(m2,
      ManifestTable.changeFeed(spark, p, 2L, 3L, Seq("k")), Seq("k"), viewOf)
    val direct = viewOf(ManifestTable.readVersion(spark, p, 3L))
    assert(m3.collect().map(_.toSeq).toSet ===
      direct.collect().map(_.toSeq).toSet)
  }

  test("incrementalView raises on an unknown _change_type") {
    import spark.implicits._
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L), p, 1L)
    val badFeed = Seq((2L, 20L, "upsert")).toDF("k", "v", "_change_type")
    val m = ManifestTable.incrementalView(
      viewOf(ManifestTable.readVersion(spark, p, 1L)), badFeed,
      Seq("k"), viewOf)
    val e = intercept[Exception] { m.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("unknown _change_type")), e.toString)
  }

  test("stats prune skips files on a clustered layout and stays exact") {
    val p = freshPath()
    val data = df((1L to 400L).map(i => i -> i * 3): _*)
      .repartitionByRange(8, col("k"))
    ManifestTable.commit(data, p, 1L)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val (kept, total) = ManifestTable.prunedFiles(spark, p, 1L,
      "k", 101L, 150L)
    assert(total == 8L && kept.nonEmpty && kept.size < 8,
      s"expected a real skip on the clustered layout: $kept of $total")
    val pruned = ManifestTable.readVersionPruned(spark, p, 1L,
      "k", 101L, 150L)
    val full = ManifestTable.readVersion(spark, p, 1L)
      .where(col("k") >= 101L && col("k") <= 150L)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // inclusive edges: the boundary keys themselves survive the prune
    assert(pruned.where(col("k").isin(101L, 150L)).count() == 2)
  }

  test("stats prune is correct (if skip-free) on an UNclustered layout") {
    val p = freshPath()
    // hash-partitioned: every file spans most of the key domain, so
    // pruning may keep everything — but must never lose a row
    val data = df((1L to 400L).map(i => i -> i * 3): _*).repartition(8)
    ManifestTable.commit(data, p, 1L)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val pruned = ManifestTable.readVersionPruned(spark, p, 1L,
      "k", 101L, 150L)
    assert(pruned.count() == 50L)
  }

  test("stats prune outside the key domain reads zero files") {
    val p = freshPath()
    ManifestTable.commit(
      df((1L to 100L).map(i => i -> i): _*).repartitionByRange(4, col("k")),
      p, 1L)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val (kept, _) = ManifestTable.prunedFiles(spark, p, 1L,
      "k", 1000L, 2000L)
    assert(kept.isEmpty)
    assert(ManifestTable.readVersionPruned(spark, p, 1L,
      "k", 1000L, 2000L).isEmpty)
  }

  test("2-d box over a z-ordered layout prunes on BOTH manifests; " +
      "single-key clustering cannot skip the second dimension") {
    import spark.implicits._
    // 64×64 grid; the 8×8 box is 1/64 of the domain
    val grid = (0L until 4096L).map(i => (i % 64L, i / 64L))
      .toDF("x", "y")
    val bands = Seq(("x", 24L, 31L), ("y", 24L, 31L))

    def committed(layout: org.apache.spark.sql.DataFrame): String = {
      val p = freshPath()
      ManifestTable.commit(layout, p, 1L)
      ManifestTable.extendStats(spark, p, 1L, Seq("x", "y"))
      p
    }
    val zp = committed(grid
      .withColumn("__z", graft.operators.ZOrder.zkey16(col("x"), col("y")))
      .repartitionByRange(16, col("__z"))
      .sortWithinPartitions("__z").drop("__z"))
    val xp = committed(grid.repartitionByRange(16, col("x"))
      .sortWithinPartitions("x"))

    def keptCount(p: String): Int = {
      val perBand = bands.map { case (c, lo, hi) =>
        ManifestTable.prunedFiles(spark, p, 1L, c, lo, hi)._1.toSet
      }
      perBand.reduce(_ intersect _).size
    }
    // x-clustered: the x band keeps few files, but EVERY kept file
    // spans the full y domain, so the y manifest removes nothing more.
    // z-clustered: each file is a compact rectangle; the intersection
    // keeps only files near the box.
    val zKept = keptCount(zp)
    val xKept = keptCount(xp)
    assert(zKept < 16 && zKept <= xKept,
      s"z-order kept $zKept files, x-clustering kept $xKept")
    // correctness: the pruned read equals the brute filter on both
    for (p <- Seq(zp, xp)) {
      val pruned = ManifestTable.readVersionPrunedMulti(spark, p, 1L, bands)
      val full = ManifestTable.readVersion(spark, p, 1L)
        .where(col("x").between(24L, 31L) && col("y").between(24L, 31L))
      assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
      assert(pruned.count() == 64L)
    }
  }

  test("pruned read without a stats manifest fails loudly") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 1L), p, 1L)
    intercept[Exception] {
      ManifestTable.readVersionPruned(spark, p, 1L, "k", 0L, 10L).collect()
    }
  }

  test("vacuum keeps the newest versions; survivors stay readable") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L), p, 1L)
    ManifestTable.commit(df(1L -> 11L), p, 2L)
    ManifestTable.extendStats(spark, p, 2L, Seq("k"))
    ManifestTable.commit(df(1L -> 12L), p, 3L)
    val (dropped, _) = ManifestTable.vacuum(spark, p, keep = 2)
    assert(dropped == Seq(1L))
    assert(ManifestTable.committedVersions(spark, p).sorted == Seq(2L, 3L))
    // survivor time travel intact, including its stats manifest
    assert(ManifestTable.readVersion(spark, p, 2L).head().getLong(1) == 11L)
    assert(ManifestTable.fileMeta(spark, p, 2L).values.count(_.stats.contains("k")) == 1)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersion(spark, p, 1L)
    }
    // keep >= versions present: a no-op, never deletes the latest
    assert(ManifestTable.vacuum(spark, p, keep = 5)._1.isEmpty)
  }

  test("compact carries the stats manifest across the compaction boundary") {
    val p = freshPath()
    val data = df((1L to 4000L).map(i => i -> i * 7): _*)
      .repartitionByRange(16, col("k"))
    ManifestTable.commit(data, p, 1L)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val v2 = ManifestTable.compact(spark, p, targetFiles = 2)
    assert(v2 == 2L)
    val v1d = ManifestTable.readVersion(spark, p, 1L)
    val v2d = ManifestTable.readVersion(spark, p, 2L)
    assert(v2d.exceptAll(v1d).isEmpty && v1d.exceptAll(v2d).isEmpty)
    // stats recomputed for the new layout: entries cover v2's files
    val s2 = ManifestTable.fileMeta(spark, p, 2L).values.map(_.stats("k").band.get)
    assert(s2.size == 2 && s2.map(_._1).min == 1L && s2.map(_._2).max == 4000L)
    // the pruned read keeps working across the compaction boundary
    assert(ManifestTable.readVersionPruned(spark, p, 2L, "k", 1L, 10L)
      .count() == 10L)
  }

  test("incrementalAgg raises on an unknown change type") {
    import spark.implicits._
    val old = Seq((0L, 1L, 10L)).toDF("g", "n", "sv")
    val feed = Seq((0L, 7L, "upsert")).toDF("g", "v", "_change_type")
    val e = intercept[Exception] {
      ManifestTable.incrementalAgg(old, feed, Seq("g"), "n",
        Seq("v" -> "sv")).collect()
    }
    assert(e.getMessage.contains("unknown _change_type")
      || e.getCause != null
      && e.getCause.getMessage.contains("unknown _change_type"))
  }

  // ---- per-file bloom manifests: layout-independent point skipping ----

  test("bloom prune skips on a HASH layout where min/max keeps every file") {
    val p = freshPath()
    // hash-distributed on k: every file spans ~the full [1, 400] domain
    ManifestTable.commit(
      df((1L to 400L).map(i => i -> i): _*).repartition(8, col("k")),
      p, 1L)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    ManifestTable.extendStats(spark, p, 1L, Nil, blooms = Seq("k"))
    val probes = Seq(7L, 203L, 399L)
    // the range stats are useless here: every file's [min, max]
    // admits one of the probes
    assert(probes.flatMap(v => ManifestTable.prunedFiles(spark, p, 1L, "k", v, v)._1)
      .distinct.size == 8,
      "fixture broke: hash layout should defeat min/max pruning")
    // the bloom manifest keeps at most one file per probed key
    val (kept, total) = ManifestTable.prunedFilesBloom(
      spark, p, 1L, "k", probes)
    assert(total == 8L)
    assert(kept.size <= probes.size && kept.nonEmpty,
      s"bloom kept ${kept.size} of $total files")
    // and the pruned read is exact
    val got = ManifestTable.readVersionPrunedBloom(spark, p, 1L, "k", probes)
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got == probes)
  }

  test("bloom prune for absent keys reads zero rows; " +
      "pruned files provably hold none of the probes") {
    val p = freshPath()
    ManifestTable.commit(
      df((1L to 400L).map(i => i -> i): _*).repartition(8, col("k")),
      p, 1L)
    ManifestTable.extendStats(spark, p, 1L, Nil, blooms = Seq("k"))
    val got = ManifestTable.readVersionPrunedBloom(spark, p, 1L,
      "k", Seq(100000L, 200000L))
    assert(got.count() == 0L)
    // no-false-negative direction: every PRESENT key keeps >= 1 file
    (1L to 400L by 37L).foreach { v =>
      assert(ManifestTable.prunedFilesBloom(spark, p, 1L, "k", Seq(v))
        ._1.nonEmpty, s"present key $v was falsely pruned")
    }
  }

  test("compaction carries the bloom manifest; vacuum deletes it") {
    val p = freshPath()
    ManifestTable.commit(
      df((1L to 400L).map(i => i -> i): _*).repartition(8, col("k")),
      p, 1L)
    ManifestTable.extendStats(spark, p, 1L, Nil, blooms = Seq("k"),
      numBits = 1 << 12, k = 5)
    val v2 = ManifestTable.compact(spark, p, targetFiles = 2)
    // the carried manifest re-sketches the NEW files with the SAME
    // sizing, and stays exact
    val carried = ManifestTable.fileMeta(spark, p, v2).values
      .map(m => graft.functions.Bloom.decode(m.blooms("k"))).toSeq
    assert(carried.size == 2 && carried.forall { case (bits, k) => bits.length * 64 == (1 << 12) && k == 5 })
    val got = ManifestTable.readVersionPrunedBloom(spark, p, v2,
      "k", Seq(7L, 203L))
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(7L, 203L))
    ManifestTable.vacuum(spark, p, keep = 1)
    assert(ManifestTable.fileMeta(spark, p, 1L).isEmpty)
    intercept[IllegalArgumentException] {
      ManifestTable.prunedFilesBloom(spark, p, 1L, "k", Seq(7L))
    }
  }

  test("bloom prune without a manifest for the column fails loudly") {
    val p = freshPath()
    ManifestTable.commit(df(1L -> 10L), p, 1L)
    ManifestTable.extendStats(spark, p, 1L, Nil, blooms = Seq("v"))
    intercept[IllegalArgumentException] {
      ManifestTable.prunedFilesBloom(spark, p, 1L, "k", Seq(1L))
    }
  }

  // ---- per-file token blooms: full-text-search file skipping ----

  /** 800 docs in 8 range-partitioned files; every doc carries the
    * corpus-wide token "common" plus its block's exclusive marker
    * "markerN" (N = doc_id / 100 = the file it lands in), so each
    * marker's vocabulary entry exists in exactly one file.
    */
  private def tokenFixture(): String = {
    import spark.implicits._
    val p = freshPath()
    val docs = (0L until 800L).map(i =>
      (i, s"common text with marker${i / 100} inside")).toDF("doc_id", "text")
    ManifestTable.commit(
      docs.repartitionByRange(8, col("doc_id")), p, 1L)
    ManifestTable.extendStats(spark, p, 1L, Nil, tokens = Seq("text"))
    p
  }

  test("token search schedules only the files whose vocabulary admits the term") {
    val p = tokenFixture()
    // a marker term lives in one block = one range file
    val (kept, total) = ManifestTable.prunedFilesToken(
      spark, p, 1L, "text", Seq("marker3"))
    assert(total == 8L)
    assert(kept.size == 1, s"marker3 should admit 1 of 8 files, got $kept")
    // the corpus-wide term admits everything (no false prune)
    assert(ManifestTable.prunedFilesToken(
      spark, p, 1L, "text", Seq("common"))._1.size == 8)
    // AND semantics intersect at file level: common AND marker3 -> 1 file
    assert(ManifestTable.prunedFilesToken(
      spark, p, 1L, "text", Seq("common", "marker3"))._1.size == 1)
    // and the search is row-exact on the survivors
    val got = ManifestTable.readVersionSearch(
      spark, p, 1L, "text", Seq("marker3", "common"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (300L until 400L))
  }

  test("token search: absent term reads zero rows; present terms never miss") {
    val p = tokenFixture()
    assert(ManifestTable.readVersionSearch(
      spark, p, 1L, "text", Seq("zzzabsent")).count() == 0L)
    // no-false-negative sweep: every marker finds its full block
    (0 until 8).foreach { b =>
      assert(ManifestTable.readVersionSearch(
        spark, p, 1L, "text", Seq(s"marker$b")).count() == 100L,
        s"marker$b block was falsely pruned")
    }
    // terms must be canonical lowercase tokens — anything else would
    // silently hash to a vocabulary entry that cannot exist
    intercept[IllegalArgumentException] {
      ManifestTable.readVersionSearch(spark, p, 1L, "text", Seq("Marker3"))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.readVersionSearch(spark, p, 1L, "text", Seq())
    }
  }

  // ---- metadata-only aggregation ----

  test("statsAgg answers COUNT/MIN/MAX from the manifest with the data files DELETED") {
    val p = freshPath()
    ManifestTable.commit(
      df((1L to 400L).map(i => i -> (i * 3)): _*).repartition(8, col("k")),
      p, 1L)
    ManifestTable.extendStats(spark, p, 1L, Seq("k", "v"))
    // agree with the honest scan first
    val viaScan = ManifestTable.readVersion(spark, p, 1L)
      .agg(count(lit(1)), min("k"), max("k")).head()
    val viaStats = ManifestTable.statsAgg(spark, p, 1L, "k").head()
    assert(viaStats.getLong(0) == viaScan.getLong(0))
    assert(viaStats.getLong(1) == viaScan.getLong(1))
    assert(viaStats.getLong(2) == viaScan.getLong(2))
    // now destroy every data file; the manifest keeps answering
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    ManifestTable.files(spark, p, 1L)
      .foreach(n => assert(fs.delete(new Path(s"$p/_pool/$n"), false)))
    val after = ManifestTable.statsAgg(spark, p, 1L, "v").head()
    assert(after.getLong(0) == 400L)
    assert(after.getLong(1) == 3L && after.getLong(2) == 1200L)
    // a column without stats still fails loudly
    intercept[IllegalArgumentException] {
      ManifestTable.statsAgg(spark, p, 1L, "nope")
    }
  }

  test("statsAgg NULL semantics: all rows counted, NULLs invisible to min/max") {
    import spark.implicits._
    val p = freshPath()
    val rows = Seq[(Long, Option[Long])](
      1L -> Some(10L), 2L -> None, 3L -> Some(30L), 4L -> None)
      .toDF("k", "v")
    // force one all-NULL file: partition by nullness
    ManifestTable.commit(
      rows.repartition(2, col("v").isNull), p, 1L)
    ManifestTable.extendStats(spark, p, 1L, Seq("v"))
    val got = ManifestTable.statsAgg(spark, p, 1L, "v").head()
    assert(got.getLong(0) == 4L, "COUNT must include NULL rows")
    assert(got.getLong(1) == 10L && got.getLong(2) == 30L)
  }

  test("compaction re-sketches the token manifest; vacuum deletes it") {
    val p = tokenFixture()
    val v2 = ManifestTable.compact(spark, p, targetFiles = 2)
    val carried = ManifestTable.fileMeta(spark, p, v2).values.count(_.tokens.contains("text"))
    assert(carried == 2, "token blooms not re-sketched on compact")
    // search still exact across the compaction boundary
    assert(ManifestTable.readVersionSearch(
      spark, p, v2, "text", Seq("marker5")).count() == 100L)
    ManifestTable.vacuum(spark, p, keep = 1)
    assert(ManifestTable.fileMeta(spark, p, 1L).isEmpty)
    intercept[IllegalArgumentException] {
      ManifestTable.prunedFilesToken(spark, p, 1L, "text", Seq("marker5"))
    }
  }
}
