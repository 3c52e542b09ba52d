package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

/** The table-format read surface: time travel, history, compaction,
  * and the commit protocol's crash edges (uncommitted partials swept,
  * committed retries never transiently lose the snapshot).
  */
class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshPath(): String =
    Files.createTempDirectory("vtab").resolve("t").toString

  private def df(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  test("time travel reads each immutable version; latest tracks max") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L, 2L -> 20L), p, 1L)
    VersionedTable.commit(df(1L -> 11L, 2L -> 20L, 3L -> 30L), p, 2L)
    assert(VersionedTable.committedVersions(spark, p).sorted == Seq(1L, 2L))
    assert(VersionedTable.readVersion(spark, p, 1L).count() == 2)
    assert(VersionedTable.latestVersion(spark, p) == 2L)
    val latest = VersionedTable.latest(spark, p)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(latest.toSeq == Seq(1L -> 11L, 2L -> 20L, 3L -> 30L))
    // v1 is undisturbed by v2's commit (immutability)
    val v1 = VersionedTable.readVersion(spark, p, 1L)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(v1.toSeq == Seq(1L -> 10L, 2L -> 20L))
  }

  test("reading an uncommitted or absent version fails loudly") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L), p, 1L)
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, p, 7L)
    }
    // a version directory WITHOUT _SUCCESS (simulated partial write)
    // is invisible to listing and unreadable through the API
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(p, "v5"))
    assert(VersionedTable.committedVersions(spark, p) == Seq(1L))
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, p, 5L)
    }
  }

  test("compaction produces a data-identical new version with fewer files") {
    val p = freshPath()
    VersionedTable.commit(df((1L to 100L).map(i => i -> i * 2): _*)
      .repartition(8), p, 1L)
    val before = VersionedTable.history(spark, p)
      .where(col("version") === 1).select("n_files").head().getLong(0)
    assert(before > 1, s"fixture should start multi-file, got $before files")
    val nv = VersionedTable.compact(spark, p, targetFiles = 1)
    assert(nv == 2L)
    val after = VersionedTable.history(spark, p)
      .where(col("version") === 2).select("n_files").head().getLong(0)
    assert(after == 1L)
    // data-identical both ways
    val v1 = VersionedTable.readVersion(spark, p, 1L)
    val v2 = VersionedTable.readVersion(spark, p, 2L)
    assert(v1.exceptAll(v2).isEmpty && v2.exceptAll(v1).isEmpty)
    // and v1 files untouched (readers of the old version undisturbed)
    assert(VersionedTable.history(spark, p)
      .where(col("version") === 1).select("n_files").head().getLong(0) == before)
  }

  test("history lists versions in order with file and byte stats") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 1L), p, 1L)
    VersionedTable.commit(df(1L -> 1L, 2L -> 2L), p, 2L)
    val h = VersionedTable.history(spark, p).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(h.forall(r => r.getLong(1) >= 1 && r.getLong(2) > 0))
  }

  test("committed retry keeps the snapshot; uncommitted partial is swept") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L), p, 1L)
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val v1ModTime = fs.getFileStatus(new Path(p, "v1")).getModificationTime
    // retry of the committed version: a no-op for the target (the
    // committed directory is never deleted), staging is cleaned up
    VersionedTable.commit(df(1L -> 10L), p, 1L)
    assert(fs.getFileStatus(new Path(p, "v1")).getModificationTime == v1ModTime)
    assert(!fs.exists(new Path(p, "_staging_v1")))
    assert(VersionedTable.latest(spark, p).head().getLong(1) == 10L)
    // an UNCOMMITTED partial target (no _SUCCESS) is replaced
    fs.mkdirs(new Path(p, "v2"))
    VersionedTable.commit(df(1L -> 11L), p, 2L)
    assert(VersionedTable.readVersion(spark, p, 2L).head().getLong(1) == 11L)
  }

  test("change feed classifies insert/delete/update and skips unchanged keys") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L, 2L -> 20L, 3L -> 30L), p, 1L)
    VersionedTable.commit(df(2L -> 20L, 3L -> 31L, 4L -> 40L), p, 2L)
    val feed = VersionedTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
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
    VersionedTable.commit(df(1L -> 10L, 2L -> 20L).repartition(4), p, 1L)
    val nv = VersionedTable.compact(spark, p) // v2: same rows, fewer files
    assert(VersionedTable.changeFeed(spark, p, 1L, nv, Seq("k")).isEmpty)
  }

  test("applying a change feed to the old snapshot reconstructs the new one") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L, 2L -> 20L, 3L -> 30L), p, 1L)
    VersionedTable.commit(df(2L -> 21L, 3L -> 30L, 4L -> 40L, 5L -> 50L), p, 2L)
    val feed = VersionedTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
    val rebuilt = VersionedTable.applyChanges(
      VersionedTable.readVersion(spark, p, 1L), feed, Seq("k"))
    val v2 = VersionedTable.readVersion(spark, p, 2L)
    assert(rebuilt.exceptAll(v2).isEmpty && v2.exceptAll(rebuilt).isEmpty)
  }

  test("change feed rejects schema drift between versions") {
    import spark.implicits._
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L), p, 1L)
    VersionedTable.commit(Seq((1L, 10L)).toDF("k", "renamed"), p, 2L)
    intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
    }
  }

  // group key = k % 2, measure = v; the maintained rollup must equal a
  // direct re-aggregation of the new snapshot for every feed shape
  private def rollup(d: org.apache.spark.sql.DataFrame) = d
    .withColumn("g", pmod(col("k"), lit(2L)))
    .groupBy("g")
    .agg(count(lit(1)).as("n"), sum("v").as("sv"))

  private def maintainedEqualsDirect(p: String): Unit = {
    val feed = VersionedTable
      .changeFeed(spark, p, 1L, 2L, Seq("k"))
      .withColumn("g", pmod(col("k"), lit(2L)))
    val maintained = VersionedTable.incrementalAgg(
      rollup(VersionedTable.readVersion(spark, p, 1L)), feed,
      Seq("g"), "n", Seq("v" -> "sv"))
    val direct = rollup(VersionedTable.readVersion(spark, p, 2L))
    assert(maintained.exceptAll(direct).isEmpty
      && direct.exceptAll(maintained).isEmpty)
  }

  test("incrementalAgg maintains the rollup through insert/update/delete") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L, 2L -> 20L, 3L -> 30L), p, 1L)
    // 2 updated, 3 deleted, 4+5 inserted, 1 unchanged
    VersionedTable.commit(df(1L -> 10L, 2L -> 25L, 4L -> 40L, 5L -> 50L),
      p, 2L)
    maintainedEqualsDirect(p)
  }

  test("incrementalAgg drops a group whose last keys are deleted") {
    val p = freshPath()
    // odd group = {1, 3}; v2 deletes both, so group 1 must VANISH from
    // the maintained rollup (not linger as a zero row)
    VersionedTable.commit(df(1L -> 10L, 2L -> 20L, 3L -> 30L), p, 1L)
    VersionedTable.commit(df(2L -> 20L, 6L -> 60L), p, 2L)
    maintainedEqualsDirect(p)
    val feed = VersionedTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
      .withColumn("g", pmod(col("k"), lit(2L)))
    val m = VersionedTable.incrementalAgg(
      rollup(VersionedTable.readVersion(spark, p, 1L)), feed,
      Seq("g"), "n", Seq("v" -> "sv"))
    assert(m.where(col("g") === 1L).isEmpty)
  }

  test("incrementalAgg with an empty feed is the identity") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L, 2L -> 20L), p, 1L)
    VersionedTable.commit(df(1L -> 10L, 2L -> 20L), p, 2L)
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
    val feed = VersionedTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
    val m = VersionedTable.incrementalView(
      viewOf(VersionedTable.readVersion(spark, p, 1L)), feed,
      Seq("k"), viewOf)
    val d = viewOf(VersionedTable.readVersion(spark, p, 2L))
    assert(m.collect().map(_.toSeq).toSet === d.collect().map(_.toSeq).toSet)
  }

  test("incrementalView maintains the join view through insert/update/delete") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L, 2L -> 20L, 3L -> 30L), p, 1L)
    // 2 updated, 3 deleted, 4+5 inserted, 1 unchanged
    VersionedTable.commit(df(1L -> 10L, 2L -> 25L, 4L -> 40L, 5L -> 50L),
      p, 2L)
    viewMaintainedEqualsDirect(p)
  }

  test("incrementalView: empty feed is the identity; all-deleted empties the view") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L, 2L -> 20L), p, 1L)
    VersionedTable.commit(df(1L -> 10L, 2L -> 20L), p, 2L)
    viewMaintainedEqualsDirect(p)
    val p2 = freshPath()
    VersionedTable.commit(df(1L -> 10L, 2L -> 20L), p2, 1L)
    VersionedTable.commit(df(), p2, 2L)
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
    VersionedTable.commit(randSnap(k1), p, 1L)
    VersionedTable.commit(randSnap(k2), p, 2L)
    VersionedTable.commit(randSnap(k3), p, 3L)
    val v1view = viewOf(VersionedTable.readVersion(spark, p, 1L))
    val m2 = VersionedTable.incrementalView(v1view,
      VersionedTable.changeFeed(spark, p, 1L, 2L, Seq("k")), Seq("k"), viewOf)
    val m3 = VersionedTable.incrementalView(m2,
      VersionedTable.changeFeed(spark, p, 2L, 3L, Seq("k")), Seq("k"), viewOf)
    val direct = viewOf(VersionedTable.readVersion(spark, p, 3L))
    assert(m3.collect().map(_.toSeq).toSet ===
      direct.collect().map(_.toSeq).toSet)
  }

  test("incrementalView raises on an unknown _change_type") {
    import spark.implicits._
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L), p, 1L)
    val badFeed = Seq((2L, 20L, "upsert")).toDF("k", "v", "_change_type")
    val m = VersionedTable.incrementalView(
      viewOf(VersionedTable.readVersion(spark, p, 1L)), badFeed,
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
    VersionedTable.commit(data, p, 1L)
    VersionedTable.writeStats(spark, p, 1L, Seq("k"))
    val (kept, total) = VersionedTable.prunedFiles(spark, p, 1L,
      "k", 101L, 150L)
    assert(total == 8L && kept.nonEmpty && kept.size < 8,
      s"expected a real skip on the clustered layout: $kept of $total")
    val pruned = VersionedTable.readVersionPruned(spark, p, 1L,
      "k", 101L, 150L)
    val full = VersionedTable.readVersion(spark, p, 1L)
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
    VersionedTable.commit(data, p, 1L)
    VersionedTable.writeStats(spark, p, 1L, Seq("k"))
    val pruned = VersionedTable.readVersionPruned(spark, p, 1L,
      "k", 101L, 150L)
    assert(pruned.count() == 50L)
  }

  test("stats prune outside the key domain reads zero files") {
    val p = freshPath()
    VersionedTable.commit(
      df((1L to 100L).map(i => i -> i): _*).repartitionByRange(4, col("k")),
      p, 1L)
    VersionedTable.writeStats(spark, p, 1L, Seq("k"))
    val (kept, _) = VersionedTable.prunedFiles(spark, p, 1L,
      "k", 1000L, 2000L)
    assert(kept.isEmpty)
    assert(VersionedTable.readVersionPruned(spark, p, 1L,
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
      VersionedTable.commit(layout, p, 1L)
      VersionedTable.writeStats(spark, p, 1L, Seq("x", "y"))
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
        VersionedTable.prunedFiles(spark, p, 1L, c, lo, hi)._1.toSet
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
      val pruned = VersionedTable.readVersionPrunedMulti(spark, p, 1L, bands)
      val full = VersionedTable.readVersion(spark, p, 1L)
        .where(col("x").between(24L, 31L) && col("y").between(24L, 31L))
      assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
      assert(pruned.count() == 64L)
    }
  }

  test("pruned read without a stats manifest fails loudly") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 1L), p, 1L)
    intercept[Exception] {
      VersionedTable.readVersionPruned(spark, p, 1L, "k", 0L, 10L).collect()
    }
  }

  test("vacuum keeps the newest versions; survivors stay readable") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L), p, 1L)
    VersionedTable.commit(df(1L -> 11L), p, 2L)
    VersionedTable.writeStats(spark, p, 2L, Seq("k"))
    VersionedTable.commit(df(1L -> 12L), p, 3L)
    val dropped = VersionedTable.vacuum(spark, p, keep = 2)
    assert(dropped == Seq(1L))
    assert(VersionedTable.committedVersions(spark, p).sorted == Seq(2L, 3L))
    // survivor time travel intact, including its stats manifest
    assert(VersionedTable.readVersion(spark, p, 2L).head().getLong(1) == 11L)
    assert(VersionedTable.readStats(spark, p, 2L).count() == 1L)
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, p, 1L)
    }
    // keep >= versions present: a no-op, never deletes the latest
    assert(VersionedTable.vacuum(spark, p, keep = 5).isEmpty)
  }

  test("compact carries the stats manifest across the compaction boundary") {
    val p = freshPath()
    val data = df((1L to 4000L).map(i => i -> i * 7): _*)
      .repartitionByRange(16, col("k"))
    VersionedTable.commit(data, p, 1L)
    VersionedTable.writeStats(spark, p, 1L, Seq("k"))
    val v2 = VersionedTable.compact(spark, p, targetFiles = 2)
    assert(v2 == 2L)
    val v1d = VersionedTable.readVersion(spark, p, 1L)
    val v2d = VersionedTable.readVersion(spark, p, 2L)
    assert(v2d.exceptAll(v1d).isEmpty && v1d.exceptAll(v2d).isEmpty)
    // stats recomputed for the new layout: rows cover v2's files
    val s2 = VersionedTable.readStats(spark, p, 2L)
    assert(s2.count() == 2L &&
      s2.agg(min("min_v"), max("max_v")).head() ==
        org.apache.spark.sql.Row(1L, 4000L))
    // the pruned read keeps working across the compaction boundary
    assert(VersionedTable.readVersionPruned(spark, p, 2L, "k", 1L, 10L)
      .count() == 10L)
  }

  test("incrementalAgg raises on an unknown change type") {
    import spark.implicits._
    val old = Seq((0L, 1L, 10L)).toDF("g", "n", "sv")
    val feed = Seq((0L, 7L, "upsert")).toDF("g", "v", "_change_type")
    val e = intercept[Exception] {
      VersionedTable.incrementalAgg(old, feed, Seq("g"), "n",
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
    VersionedTable.commit(
      df((1L to 400L).map(i => i -> i): _*).repartition(8, col("k")),
      p, 1L)
    VersionedTable.writeStats(spark, p, 1L, Seq("k"))
    VersionedTable.writeBloom(spark, p, 1L, Seq("k"))
    val probes = Seq(7L, 203L, 399L)
    // the range manifest is useless here: every file's [min, max]
    // admits every probe
    val stats = VersionedTable.readStats(spark, p, 1L)
    val rangeSurvivors = stats.where(
      probes.map(v => col("min_v") <= v && col("max_v") >= v)
        .reduce(_ || _)).count()
    assert(rangeSurvivors == stats.count(),
      "fixture broke: hash layout should defeat min/max pruning")
    // the bloom manifest keeps at most one file per probed key
    val (kept, total) = VersionedTable.prunedFilesBloom(
      spark, p, 1L, "k", probes)
    assert(total == 8L)
    assert(kept.size <= probes.size && kept.nonEmpty,
      s"bloom kept ${kept.size} of $total files")
    // and the pruned read is exact
    val got = VersionedTable.readVersionPrunedBloom(spark, p, 1L, "k", probes)
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got == probes)
  }

  test("bloom prune for absent keys reads zero rows; " +
      "pruned files provably hold none of the probes") {
    val p = freshPath()
    VersionedTable.commit(
      df((1L to 400L).map(i => i -> i): _*).repartition(8, col("k")),
      p, 1L)
    VersionedTable.writeBloom(spark, p, 1L, Seq("k"))
    val got = VersionedTable.readVersionPrunedBloom(spark, p, 1L,
      "k", Seq(100000L, 200000L))
    assert(got.count() == 0L)
    // no-false-negative direction: every PRESENT key keeps >= 1 file
    (1L to 400L by 37L).foreach { v =>
      assert(VersionedTable.prunedFilesBloom(spark, p, 1L, "k", Seq(v))
        ._1.nonEmpty, s"present key $v was falsely pruned")
    }
  }

  test("compaction carries the bloom manifest; vacuum deletes it") {
    val p = freshPath()
    VersionedTable.commit(
      df((1L to 400L).map(i => i -> i): _*).repartition(8, col("k")),
      p, 1L)
    VersionedTable.writeBloom(spark, p, 1L, Seq("k"), numBits = 1 << 12,
      k = 5)
    val v2 = VersionedTable.compact(spark, p, targetFiles = 2)
    // the carried manifest re-sketches the NEW files with the SAME
    // sizing, and stays exact
    val carried = VersionedTable.readBloom(spark, p, v2)
    assert(carried.select("num_bits").distinct().head().getInt(0) == (1 << 12))
    val got = VersionedTable.readVersionPrunedBloom(spark, p, v2,
      "k", Seq(7L, 203L))
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(7L, 203L))
    VersionedTable.vacuum(spark, p, keep = 1)
    intercept[Exception] {
      VersionedTable.readBloom(spark, p, 1L).collect()
    }
  }

  test("bloom prune without a manifest for the column fails loudly") {
    val p = freshPath()
    VersionedTable.commit(df(1L -> 10L), p, 1L)
    VersionedTable.writeBloom(spark, p, 1L, Seq("v"))
    intercept[IllegalArgumentException] {
      VersionedTable.prunedFilesBloom(spark, p, 1L, "k", Seq(1L))
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
    VersionedTable.commit(
      docs.repartitionByRange(8, col("doc_id")), p, 1L)
    VersionedTable.writeTokenBloom(spark, p, 1L, "text")
    p
  }

  test("token search schedules only the files whose vocabulary admits the term") {
    val p = tokenFixture()
    // a marker term lives in one block = one range file
    val (kept, total) = VersionedTable.prunedFilesToken(
      spark, p, 1L, "text", Seq("marker3"))
    assert(total == 8L)
    assert(kept.size == 1, s"marker3 should admit 1 of 8 files, got $kept")
    // the corpus-wide term admits everything (no false prune)
    assert(VersionedTable.prunedFilesToken(
      spark, p, 1L, "text", Seq("common"))._1.size == 8)
    // AND semantics intersect at file level: common AND marker3 -> 1 file
    assert(VersionedTable.prunedFilesToken(
      spark, p, 1L, "text", Seq("common", "marker3"))._1.size == 1)
    // and the search is row-exact on the survivors
    val got = VersionedTable.readVersionSearch(
      spark, p, 1L, "text", Seq("marker3", "common"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (300L until 400L))
  }

  test("token search: absent term reads zero rows; present terms never miss") {
    val p = tokenFixture()
    assert(VersionedTable.readVersionSearch(
      spark, p, 1L, "text", Seq("zzzabsent")).count() == 0L)
    // no-false-negative sweep: every marker finds its full block
    (0 until 8).foreach { b =>
      assert(VersionedTable.readVersionSearch(
        spark, p, 1L, "text", Seq(s"marker$b")).count() == 100L,
        s"marker$b block was falsely pruned")
    }
    // terms must be canonical lowercase tokens — anything else would
    // silently hash to a vocabulary entry that cannot exist
    intercept[IllegalArgumentException] {
      VersionedTable.readVersionSearch(spark, p, 1L, "text", Seq("Marker3"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.readVersionSearch(spark, p, 1L, "text", Seq())
    }
  }

  // ---- metadata-only aggregation ----

  test("statsAgg answers COUNT/MIN/MAX from the manifest with the data files DELETED") {
    val p = freshPath()
    VersionedTable.commit(
      df((1L to 400L).map(i => i -> (i * 3)): _*).repartition(8, col("k")),
      p, 1L)
    VersionedTable.writeStats(spark, p, 1L, Seq("k", "v"))
    // agree with the honest scan first
    val viaScan = VersionedTable.readVersion(spark, p, 1L)
      .agg(count(lit(1)), min("k"), max("k")).head()
    val viaStats = VersionedTable.statsAgg(spark, p, 1L, "k").head()
    assert(viaStats.getLong(0) == viaScan.getLong(0))
    assert(viaStats.getLong(1) == viaScan.getLong(1))
    assert(viaStats.getLong(2) == viaScan.getLong(2))
    // now destroy every data file; the manifest keeps answering
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new Path(s"$p/v1")).filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(f => fs.delete(f.getPath, false))
    val after = VersionedTable.statsAgg(spark, p, 1L, "v").head()
    assert(after.getLong(0) == 400L)
    assert(after.getLong(1) == 3L && after.getLong(2) == 1200L)
    // a column without stats still fails loudly
    intercept[IllegalArgumentException] {
      VersionedTable.statsAgg(spark, p, 1L, "nope")
    }
  }

  test("statsAgg NULL semantics: all rows counted, NULLs invisible to min/max") {
    import spark.implicits._
    val p = freshPath()
    val rows = Seq[(Long, Option[Long])](
      1L -> Some(10L), 2L -> None, 3L -> Some(30L), 4L -> None)
      .toDF("k", "v")
    // force one all-NULL file: partition by nullness
    VersionedTable.commit(
      rows.repartition(2, col("v").isNull), p, 1L)
    VersionedTable.writeStats(spark, p, 1L, Seq("v"))
    val got = VersionedTable.statsAgg(spark, p, 1L, "v").head()
    assert(got.getLong(0) == 4L, "COUNT must include NULL rows")
    assert(got.getLong(1) == 10L && got.getLong(2) == 30L)
  }

  test("compaction re-sketches the token manifest; vacuum deletes it") {
    val p = tokenFixture()
    val v2 = VersionedTable.compact(spark, p, targetFiles = 2)
    val carried = VersionedTable.readTokenBloom(spark, p, v2)
    assert(carried.count() == 2L, "token manifest not re-sketched on compact")
    // search still exact across the compaction boundary
    assert(VersionedTable.readVersionSearch(
      spark, p, v2, "text", Seq("marker5")).count() == 100L)
    VersionedTable.vacuum(spark, p, keep = 1)
    intercept[Exception] {
      VersionedTable.readTokenBloom(spark, p, 1L).collect()
    }
  }
}
