package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** The shared-file manifest layout: O(delta) appends, per-file
  * metadata outliving versions and read on the driver, refcounting
  * vacuum, CAS commits.
  */
class ManifestTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshPath(): String =
    Files.createTempDirectory("mtab").resolve("t").toString

  private def df(lo: Long, hi: Long, parts: Int = 2) = {
    import spark.implicits._
    (lo until hi).map(i => (i, i * 3)).toDF("k", "v")
      .repartition(parts, col("k"))
  }

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  test("append commits are O(delta): parent files shared, only new rows written") {
    val p = freshPath()
    assert(ManifestTable.commitAppend(df(0, 100), p) == 1L)
    val v1Files = ManifestTable.files(spark, p, 1L)
    assert(ManifestTable.commitAppend(df(100, 150), p) == 2L)
    val v2Files = ManifestTable.files(spark, p, 2L)
    // v2 REFERENCES every v1 file (no copy) plus its own delta
    assert(v2Files.startsWith(v1Files))
    assert(v2Files.size > v1Files.size)
    // both versions read correctly and independently
    assert(ManifestTable.readVersion(spark, p, 1L).count() == 100L)
    assert(ManifestTable.readVersion(spark, p, 2L).count() == 150L)
    assert(ManifestTable.latest(spark, p)
      .agg(sum("k")).head.getLong(0) == (0L until 150L).sum)
    // history audits the sharing
    val h = ManifestTable.history(spark, p).orderBy("version").collect()
    assert(h(0).getLong(3) == 0L)
    assert(h(1).getLong(3) == v1Files.size.toLong)
  }

  test("concurrent version publish is CAS: loser retries to the next version") {
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 10), p)
    // simulate a racing writer that already took v2 (with v1's list)
    org.apache.hadoop.fs.FileUtil.copy(fs(p), new Path(p, "_manifest_v1.json"),
      fs(p), new Path(p, "_manifest_v2.json"), false, fs(p).getConf)
    // our append must land at v3, on top of the winner's list
    val got = ManifestTable.commitAppend(df(10, 20), p)
    assert(got == 3L)
    assert(ManifestTable.readVersion(spark, p, 3L).count() == 20L)
  }

  test("per-file stats outlive versions: extendStats scans only the delta") {
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 100), p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val m1 = ManifestTable.fileMeta(spark, p, 1L)
    val v1Names = ManifestTable.files(spark, p, 1L)
    ManifestTable.commitAppend(df(100, 150), p)
    // v1's files are moved out of the pool while v2 is sketched: the
    // sketch can only succeed if it never scans them
    val pool = new Path(p, "_pool")
    val aside = new Path(p, "_aside")
    fs(p).mkdirs(aside)
    v1Names.foreach(n => assert(fs(p).rename(new Path(pool, n), new Path(aside, n))))
    ManifestTable.extendStats(spark, p, 2L, Seq("k"))
    v1Names.foreach(n => assert(fs(p).rename(new Path(aside, n), new Path(pool, n))))
    // v1's entries were reused unchanged; the delta files gained theirs
    val m2 = ManifestTable.fileMeta(spark, p, 2L)
    assert(m2.keySet == ManifestTable.files(spark, p, 2L).toSet && m2.size > m1.size)
    assert(v1Names.forall(n => m2(n) == m1(n)))
    // extendStats on an already-covered version runs no job
    val (_, again) = scala.util.Using.resource(new MetricsLedger(spark.sparkContext))(
      _.measure(ManifestTable.extendStats(spark, p, 2L, Seq("k"))))
    assert(again.jobs == 0 && ManifestTable.fileMeta(spark, p, 2L) == m2)
    // and each version's sketches cover exactly its own files
    assert(ManifestTable.fileMeta(spark, p, 1L).keySet == v1Names.toSet)
  }

  test("pruned read through per-file stats; missing stats fail loudly") {
    val p = freshPath()
    // range layout so the band prunes
    import spark.implicits._
    val data = (0L until 400L).map(i => (i, i)).toDF("k", "v")
      .repartitionByRange(8, col("k"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val got = ManifestTable.readVersionPruned(spark, p, 1L, "k", 10L, 40L)
    assert(got.count() == 31L)
    // append WITHOUT extending stats -> pruned read of v2 must refuse
    ManifestTable.commitAppend(df(400, 420), p)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersionPruned(spark, p, 2L, "k", 10L, 40L)
    }
  }

  test("vacuum refcounts: shared files survive while any reader can reach them") {
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 100), p)    // v1
    ManifestTable.commitAppend(df(100, 150), p)  // v2 (shares v1's files)
    ManifestTable.extendStats(spark, p, 2L, Seq("k"))
    val v3 = ManifestTable.compact(spark, p, targetFiles = 1) // shares nothing
    assert(v3 == 3L)
    // keep v2+v3: dropping v1 deletes NO pool files (v2 references them all)
    val (d1, dead1) = ManifestTable.vacuum(spark, p, keep = 2)
    assert(d1 == Seq(1L) && dead1.isEmpty)
    assert(ManifestTable.readVersion(spark, p, 2L).count() == 150L)
    // keep only v3: every v1/v2 file is now unreachable and reclaimed,
    // and their sketches go with them
    val (d2, dead2) = ManifestTable.vacuum(spark, p, keep = 1)
    assert(d2 == Seq(2L) && dead2.nonEmpty)
    assert(ManifestTable.readVersion(spark, p, 3L).count() == 150L)
    val statFiles = ManifestTable.committedVersions(spark, p)
      .flatMap(ManifestTable.fileMeta(spark, p, _).keys).toSet
    assert(statFiles.nonEmpty && statFiles.intersect(dead2.toSet).isEmpty,
      "vacuum left sketches of deleted files")
    // compaction's fresh files still read the full data
    assert(ManifestTable.latest(spark, p)
      .agg(sum("k")).head.getLong(0) == (0L until 150L).sum)
  }

  test("deleteWhere rewrites ONLY stat-overlapping files; the rest are " +
      "referenced byte-identical") {
    import spark.implicits._
    val p = freshPath()
    val data = (0L until 400L).map(i => (i, i)).toDF("k", "v")
      .repartitionByRange(8, col("k"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val v1Files = ManifestTable.files(spark, p, 1L)
    val v2 = ManifestTable.deleteWhere(spark, p, "k", 100L, 149L)
    assert(v2 == 2L)
    val v2Files = ManifestTable.files(spark, p, 2L)
    // most range files cannot hold [100,149] and are SHARED, not rewritten
    val shared = v2Files.toSet.intersect(v1Files.toSet)
    assert(shared.size >= 5,
      s"expected most files untouched, shared only $shared")
    assert(v2Files.toSet != v1Files.toSet, "no file was rewritten")
    // rows are exactly the survivors; the old version still has everything
    assert(ManifestTable.readVersion(spark, p, 2L).count() == 350L)
    assert(ManifestTable.readVersion(spark, p, 2L)
      .where(col("k").between(100, 149)).count() == 0L)
    assert(ManifestTable.readVersion(spark, p, 1L).count() == 400L)
    // extendStats covers only the rewritten files; pruned reads work on v2
    ManifestTable.extendStats(spark, p, 2L, Seq("k"))
    assert(ManifestTable.readVersionPruned(spark, p, 2L, "k", 90L, 160L)
      .count() == 21L) // 90..99 (10) + 150..160 (11)
    // a band no file can hold is a provable no-op: no new version
    assert(ManifestTable.deleteWhere(spark, p, "k", 5000L, 6000L) == 2L)
    assert(ManifestTable.committedVersions(spark, p).sorted == Seq(1L, 2L))
    // a stats-less file refuses to delete-skip
    ManifestTable.commitAppend(df(400, 420), p)
    intercept[IllegalArgumentException] {
      ManifestTable.deleteWhere(spark, p, "k", 0L, 10L)
    }
    // a NULL key is outside every band: its row survives the rewrite
    val q = freshPath()
    ManifestTable.commitAppend(Seq((Option(120L), 1L), (None, 2L), (Option(5L), 3L))
      .toDF("k", "v").coalesce(1), q)
    ManifestTable.extendStats(spark, q, 1L, Seq("k"))
    val vq = ManifestTable.deleteWhere(spark, q, "k", 100L, 200L)
    assert(ManifestTable.readVersion(spark, q, vq).select("v").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("mergeInto rewrites ONLY files actually holding matched keys; " +
      "inserts land as new files; the rest are referenced byte-identical") {
    import spark.implicits._
    val p = freshPath()
    val data = (0L until 400L).map(i => (i, i)).toDF("k", "v")
      .repartitionByRange(8, col("k"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val v1Files = ManifestTable.files(spark, p, 1L)
    // update k ∈ {110, 130} (one range file) + insert k ∈ {900, 901}
    val src = Seq((110L, -1L), (130L, -2L), (900L, 9L), (901L, 9L))
      .toDF("k", "v")
    val v2 = ManifestTable.mergeInto(spark, p, src, "k")
    assert(v2 == 2L)
    val v2Files = ManifestTable.files(spark, p, 2L)
    val shared = v2Files.toSet.intersect(v1Files.toSet)
    assert(shared.size == v1Files.size - 1,
      s"expected exactly one file rewritten; shared = ${shared.size}/${v1Files.size}")
    // values: updates applied, inserts present, everything else intact
    val after = ManifestTable.readVersion(spark, p, 2L)
    assert(after.count() == 402L)
    assert(after.where(col("k") === 110L).head.getLong(1) == -1L)
    assert(after.where(col("k") === 130L).head.getLong(1) == -2L)
    assert(after.where(col("k") >= 900L).count() == 2L)
    assert(after.where(col("k") === 111L).head.getLong(1) == 111L)
    // the pre-merge version still serves the old values (time travel)
    assert(ManifestTable.readVersion(spark, p, 1L)
      .where(col("k") === 110L).head.getLong(1) == 110L)
    // duplicate source keys are ambiguous updates — refused
    intercept[IllegalArgumentException] {
      ManifestTable.mergeInto(spark, p,
        Seq((5L, 1L), (5L, 2L)).toDF("k", "v"), "k")
    }
  }

  test("an all-matched mergeInto decides on the driver and runs no insert job") {
    import spark.implicits._
    def table() = {
      val p = freshPath()
      ManifestTable.commitAppend((0L until 400L).map(i => (i, i)).toDF("k", "v")
        .repartitionByRange(8, col("k")), p)
      ManifestTable.extendStats(spark, p, 1L, Seq("k"))
      p
    }
    def merge(rows: Seq[(java.lang.Long, Long)]) = {
      val p = table()
      val (v, counts) = scala.util.Using.resource(new MetricsLedger(spark.sparkContext))(
        _.measure(ManifestTable.mergeInto(spark, p, rows.toDF("k", "v"), "k")))
      (ManifestTable.readVersion(spark, p, v).collect().toSet, counts.jobs)
    }
    val (allMatched, jobs) = merge(Seq((110L, -1L), (130L, -2L)))
    // the source collect, the probe and the rewrite of the one touched
    // file, with their adaptive stage jobs; an insert anti-join run only
    // to find no rows would add 3 more (9)
    assert(jobs == 6, s"all-matched merge ran $jobs jobs")
    assert(allMatched == (0L until 400L).map(i =>
      org.apache.spark.sql.Row(i, if (i == 110L) -1L else if (i == 130L) -2L else i)).toSet)
    // a NULL source key never matches: it inserts, next to the updates
    val (withNull, _) = merge(Seq((110L, -1L), (null, 7L)))
    assert(withNull.size == 401 && withNull.contains(org.apache.spark.sql.Row(null, 7L)))
  }

  test("mergeInto exact probe: a candidate whose band brackets an absent " +
      "key is NOT rewritten (band-only pruning would copy it)") {
    import spark.implicits._
    val p = freshPath()
    // one file of EVEN keys: band [0, 98] brackets 51, which is absent
    val data = (0L until 100L by 2).map(i => (i, i)).toDF("k", "v")
      .coalesce(1)
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val v1Files = ManifestTable.files(spark, p, 1L)
    val v2 = ManifestTable.mergeInto(spark, p,
      Seq((51L, 7L)).toDF("k", "v"), "k")
    assert(v2 == 2L)
    val v2Files = ManifestTable.files(spark, p, 2L)
    // the even-keys file is untouched; only the insert file is new
    assert(v1Files.forall(v2Files.contains),
      s"phase-2 probe failed: $v1Files not all in $v2Files")
    assert(v2Files.size == v1Files.size + 1)
    assert(ManifestTable.readVersion(spark, p, 2L).count() == 51L)
    // update-row multiplicity: two target rows with one key BOTH update
    val p2 = freshPath()
    ManifestTable.commitAppend(
      Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("k", "v").coalesce(1), p2)
    ManifestTable.extendStats(spark, p2, 1L, Seq("k"))
    val v = ManifestTable.mergeInto(spark, p2,
      Seq((1L, 99L)).toDF("k", "v"), "k")
    val rows = ManifestTable.readVersion(spark, p2, v)
      .where(col("k") === 1L).collect()
    assert(rows.length == 2 && rows.forall(_.getLong(1) == 99L))
    // a stats-less file refuses to merge-skip
    ManifestTable.commitAppend(df(100, 110), p2) // v3: never sketched
    intercept[IllegalArgumentException] {
      ManifestTable.mergeInto(spark, p2, Seq((1L, 0L)).toDF("k", "v"), "k")
    }
  }

  test("tailSince schedules EXACTLY the diff files; a rewrite between the " +
      "versions is refused; an exactly-once cursor loop sees each row once") {
    import spark.implicits._
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 100), p)            // v1
    ManifestTable.commitAppend(df(100, 150), p)          // v2
    val v3 = ManifestTable.commitAppend(df(150, 180), p) // v3
    val tail = ManifestTable.tailSince(spark, p, 1L, v3)
    assert(tail.count() == 80L)
    assert(tail.agg(min("k"), max("k")).head match {
      case r => r.getLong(0) == 100L && r.getLong(1) == 179L
    })
    // the scan is scheduled from the manifest diff, not the table:
    // its input files are exactly the v3∖v1 names
    val diff = ManifestTable.files(spark, p, v3)
      .filterNot(ManifestTable.files(spark, p, 1L).toSet)
      .map(n => s"_pool/$n")
    val inputs = tail.inputFiles.toSeq
    assert(inputs.size == diff.size &&
      diff.forall(d => inputs.exists(_.endsWith(d))),
      s"expected inputs $diff, got $inputs")
    // empty tail: same version twice → zero rows, schema intact
    val none = ManifestTable.tailSince(spark, p, v3, v3)
    assert(none.count() == 0L && none.columns.toSeq == Seq("k", "v"))
    // cursor loop: consuming (v1,v2] then (v2,v3] partitions the delta
    val c1 = ManifestTable.tailSince(spark, p, 1L, 2L).count()
    val c2 = ManifestTable.tailSince(spark, p, 2L, 3L).count()
    assert(c1 == 50L && c2 == 30L)
    // a rewrite between the versions breaks rows-added-equals-file-diff
    // — refused even when the ENDPOINT manifests happen to nest
    ManifestTable.extendStats(spark, p, v3, Seq("k"))
    val v4 = ManifestTable.deleteWhere(spark, p, "k", 0L, 9L)
    ManifestTable.commitAppend(df(180, 200), p)          // v5
    intercept[IllegalArgumentException] {
      ManifestTable.tailSince(spark, p, 1L, v4 + 1)
    }
    // but tailing FROM the rewrite forward is sound again
    assert(ManifestTable.tailSince(spark, p, v4, v4 + 1).count() == 20L)
  }

  test("a manifest carrying a field the layout does not write is refused, not misread") {
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 10), p)
    val names = ManifestTable.files(spark, p, 1L)
    // the retired idempotent-commit form, {"txn":N,"files":[...]}
    val body = names.map(n => "\"" + n + "\"")
      .mkString("{\"txn\":7,\"files\":[", ",", "]}")
    val out = fs(p).create(new Path(p, "_manifest_v1.json"), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalArgumentException](ManifestTable.files(spark, p, 1L))
    assert(e.getMessage.contains("unknown field txn"), e.getMessage)
    // the same holds for the per-file sketches
    val q = freshPath()
    ManifestTable.commitAppend(df(0, 10), q)
    val meta = new Path(q, "_meta_v1.json")
    val out2 = fs(q).create(meta, true)
    try out2.write(names.take(1).map(n => "{\"files\":{\"" + n + "\":{\"zones\":{}}}}")
      .head.getBytes("UTF-8")) finally out2.close()
    val e2 = intercept[IllegalArgumentException](ManifestTable.fileMeta(spark, q, 1L))
    assert(e2.getMessage.contains("unknown field zones"), e2.getMessage)
  }

  test("renameColumn is metadata-only: byte-identical file references, " +
      "old versions keep old names, appends/prunes/merges speak the new name") {
    import spark.implicits._
    val p = freshPath()
    val data = (0L until 100L).map(i => (i, i * 3)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val v1Files = ManifestTable.files(spark, p, 1L)
    val v2 = ManifestTable.renameColumn(spark, p, "v", "val2")
    assert(v2 == 2L)
    // metadata-only: the file list is byte-identical
    assert(ManifestTable.files(spark, p, v2) == v1Files)
    // new name out, old version unchanged (time travel shows old schema)
    assert(ManifestTable.readVersion(spark, p, v2).columns.toSeq
      == Seq("k", "val2"))
    assert(ManifestTable.readVersion(spark, p, 1L).columns.toSeq
      == Seq("k", "v"))
    assert(ManifestTable.readVersion(spark, p, v2)
      .agg(sum("val2")).head.getLong(0) == (0L until 100L).map(_ * 3).sum)
    // appends arrive in the LOGICAL schema; the pool stays physical
    val v3 = ManifestTable.commitAppend(
      Seq((100L, 500L)).toDF("k", "val2"), p)
    val after = ManifestTable.readVersion(spark, p, v3)
    assert(after.columns.toSeq == Seq("k", "val2"))
    assert(after.count() == 101L)
    assert(after.where(col("k") === 100L).head.getLong(1) == 500L)
    // pruned reads and merges translate logical→physical for stats
    ManifestTable.extendStats(spark, p, v3, Seq("k"))
    assert(ManifestTable.readVersionPruned(spark, p, v3, "k", 10L, 19L)
      .columns.toSeq == Seq("k", "val2"))
    assert(ManifestTable.readVersionPruned(spark, p, v3, "k", 10L, 19L)
      .count() == 10L)
    val v4 = ManifestTable.mergeInto(spark, p,
      Seq((7L, -1L)).toDF("k", "val2"), "k")
    assert(ManifestTable.readVersion(spark, p, v4)
      .where(col("k") === 7L).head.getLong(1) == -1L)
    // rename the key too, then tail: the delta comes out logical
    val v5 = ManifestTable.renameColumn(spark, p, "k", "id")
    val v6 = ManifestTable.commitAppend(
      Seq((200L, 9L)).toDF("id", "val2"), p)
    val tail = ManifestTable.tailSince(spark, p, v5, v6)
    assert(tail.columns.toSeq == Seq("id", "val2") && tail.count() == 1L)
    // rename chains compose; colliding names and unknown sources refuse
    val v7 = ManifestTable.renameColumn(spark, p, "id", "doc")
    assert(ManifestTable.readVersion(spark, p, v7).columns.toSeq
      == Seq("doc", "val2"))
    intercept[IllegalArgumentException] {
      ManifestTable.renameColumn(spark, p, "doc", "val2")
    }
    intercept[IllegalArgumentException] {
      ManifestTable.renameColumn(spark, p, "nope", "x")
    }
    // renaming BACK erases the mapping entry (physical == logical)
    val v8 = ManifestTable.renameColumn(spark, p, "doc", "k")
    assert(ManifestTable.renamesOf(spark, p, v8) == Map("v" -> "val2"))
  }

  test("timestamp time travel, metadata row lineage, and CHECK-gated appends") {
    import spark.implicits._
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 10), p)  // v1
    val t1 = fs(p).getFileStatus(
      new Path(p, "_manifest_v1.json")).getModificationTime
    Thread.sleep(20)
    ManifestTable.commitAppend(df(10, 15), p) // v2
    val t2 = fs(p).getFileStatus(
      new Path(p, "_manifest_v2.json")).getModificationTime
    // AS OF the first commit's own time → v1; after the second → v2;
    // before anything existed → refused
    assert(ManifestTable.versionAsOf(spark, p, t1) == 1L)
    assert(ManifestTable.versionAsOf(spark, p, t2 + 1000L) == 2L)
    intercept[IllegalArgumentException] {
      ManifestTable.versionAsOf(spark, p, t1 - 1000L)
    }
    // row lineage: each row attributed to the append that brought it in
    val lin = ManifestTable.readVersionLineage(spark, p, 2L)
    assert(lin.columns.toSeq == Seq("k", "v", "_commit_version"))
    assert(lin.where(col("_commit_version") === 1L).count() == 10L)
    assert(lin.where(col("_commit_version") === 2L)
      .agg(min("k"), max("k")).head match {
      case r => r.getLong(0) == 10L && r.getLong(1) == 14L
    })
    // a delete REWRITES: survivors carry the rewrite's version
    ManifestTable.extendStats(spark, p, 2L, Seq("k"))
    val v3 = ManifestTable.deleteWhere(spark, p, "k", 12L, 12L)
    val lin3 = ManifestTable.readVersionLineage(spark, p, v3)
    assert(lin3.where(col("k") === 11L).head.getLong(2) == v3)
    assert(lin3.where(col("k") === 3L).head.getLong(2) == 1L)
    // CHECK gate: a violating batch refuses WHOLE; nulls pass (SQL CHECK)
    intercept[IllegalArgumentException] {
      ManifestTable.commitAppendChecked(
        Seq((20L, -1L), (21L, 5L)).toDF("k", "v"), p, "v >= 0")
    }
    assert(ManifestTable.latestVersion(spark, p) == v3) // nothing landed
    val vOk = ManifestTable.commitAppendChecked(
      Seq((20L, Some(1L)), (21L, Option.empty[Long])).toDF("k", "v"),
      p, "v >= 0")
    assert(ManifestTable.readVersion(spark, p, vOk).count() == 16L)
  }

  test("readVersionPrunedByKeys schedules only band-admitted files; " +
      "no false drops; gap keys admit nothing") {
    import spark.implicits._
    val p = freshPath()
    val data = (0L until 400L).map(i => (i, i)).toDF("k", "v")
      .repartitionByRange(8, col("k"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    // two scattered keys → at most 2 of 8 files scheduled
    val pruned = ManifestTable.readVersionPrunedByKeys(
      spark, p, 1L, "k", Seq(10L, 399L))
    assert(pruned.inputFiles.length <= 2,
      s"expected <=2 files, got ${pruned.inputFiles.length}")
    // no false drops: the pruned read + exact filter equals the truth
    assert(pruned.where(col("k").isin(10L, 399L))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 399L))
    // keys outside every band → empty, schema intact
    val none = ManifestTable.readVersionPrunedByKeys(
      spark, p, 1L, "k", Seq(5000L))
    assert(none.count() == 0L && none.columns.toSeq == Seq("k", "v"))
    // stats-less file refuses
    ManifestTable.commitAppend(df(400, 410), p)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersionPrunedByKeys(spark, p, 2L, "k", Seq(1L))
    }
  }

  test("compactZorder: scattered layout prunes nothing, z-ordered " +
      "rectangles prune both dims; results identical across layouts") {
    import spark.implicits._
    val p = freshPath()
    // two independent 0..199 dims, hash-scattered: every file's band
    // spans the whole domain on both columns
    val data = (0L until 4000L)
      .map(i => (i % 200, (i * 37) % 200, i)).toDF("x", "y", "payload")
      .repartition(8, col("payload"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("x", "y"))
    val bands = Seq(("x", 20L, 59L), ("y", 20L, 59L))
    val scattered = ManifestTable.readVersionPrunedMulti(spark, p, 1L, bands)
    assert(scattered.inputFiles.length == 8, "hash layout should not prune")
    val v2 = ManifestTable.compactZorder(spark, p, "x", "y", 8)
    ManifestTable.extendStats(spark, p, v2, Seq("x", "y"))
    val clustered = ManifestTable.readVersionPrunedMulti(spark, p, v2, bands)
    assert(clustered.inputFiles.length < 8,
      s"z-order should prune the 2-d box, scheduled ${clustered.inputFiles.length}")
    // layout never changes results
    val a = scattered.orderBy("payload").collect().toSeq
    val b = clustered.orderBy("payload").collect().toSeq
    assert(a == b && a.nonEmpty)
    // old version still reads its original files
    assert(ManifestTable.readVersion(spark, p, 1L).count() == 4000L)
  }

  test("partition evolution: old-spec files never prune, new-spec files do, " +
      "zero bytes rewritten, results layout-independent (c25)") {
    import spark.implicits._
    val p = freshPath()
    // v1: the ORIGINAL spec — 4 files hash-scattered on payload, every
    // file's k band spans the 0..199 domain
    val old = (0L until 2000L).map(i => (i % 200, i)).toDF("k", "payload")
      .repartition(4, col("payload"))
    ManifestTable.commitAppend(old, p)
    val v1Files = ManifestTable.files(spark, p, 1L).toSet
    // v2: the EVOLVED spec — new rows range-clustered on k, old bytes
    // untouched (v2's manifest must reference v1's files)
    val fresh = (2000L until 4000L).map(i => (i % 200, i)).toDF("k", "payload")
      .repartitionByRange(8, col("k"))
    val v2 = ManifestTable.commitAppend(fresh, p)
    val v2Files = ManifestTable.files(spark, p, v2).toSet
    assert(v1Files.subsetOf(v2Files), "evolution must not rewrite history")
    ManifestTable.extendStats(spark, p, v2, Seq("k"))
    // the band read over the mixed layout: ALL old files (they cannot
    // prune), a strict subset of the new ones
    val kept = ManifestTable.prunedFilesMulti(spark, p, v2,
      Seq(("k", 30L, 49L))).toSet
    val newFiles = v2Files -- v1Files
    assert(v1Files.subsetOf(kept), "pre-evolution files must all schedule")
    val keptNew = kept intersect newFiles
    assert(keptNew.nonEmpty && keptNew.size < newFiles.size,
      s"evolved layout should prune: kept ${keptNew.size}/${newFiles.size}")
    // schedule changes, results don't
    val pruned = ManifestTable.readVersionPrunedMulti(spark, p, v2,
      Seq(("k", 30L, 49L))).orderBy("payload").collect().toSeq
    val full = ManifestTable.readVersion(spark, p, v2)
      .where(col("k").between(30, 49)).orderBy("payload").collect().toSeq
    assert(pruned == full && pruned.nonEmpty)
  }

  test("crashed commit leaves no readable state; vacuum reclaims its orphans") {
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 50), p)
    // simulate a crash AFTER pool moves, BEFORE manifest publish:
    // plant an orphan pool file
    val orphan = new Path(p, "_pool/v9_orphan.parquet")
    val out = fs(p).create(orphan, false); out.write(Array[Byte](1)); out.close()
    assert(ManifestTable.committedVersions(spark, p) == Seq(1L))
    assert(ManifestTable.readVersion(spark, p, 1L).count() == 50L)
    val (_, dead) = ManifestTable.vacuum(spark, p, keep = 1)
    assert(dead.contains("v9_orphan.parquet"))
  }

  test("driver-side pruning: every file selection and statsAgg run zero Spark jobs") {
    import spark.implicits._
    val p = freshPath()
    val data = (0L until 400L).map(i => (i, i % 50, s"common word${i / 100}"))
      .toDF("k", "y", "text").repartitionByRange(8, col("k"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k", "y"), blooms = Seq("k"),
      tokens = Seq("text"))
    val ((range, multi, bloom, token, keys, agg), counts) =
      scala.util.Using.resource(new MetricsLedger(spark.sparkContext)) { ledger =>
        ledger.measure {
          (ManifestTable.prunedFiles(spark, p, 1L, "k", 10L, 40L)._1,
            ManifestTable.prunedFilesMulti(spark, p, 1L,
              Seq(("k", 10L, 40L), ("y", 0L, 5L))),
            ManifestTable.prunedFilesBloom(spark, p, 1L, "k", Seq(7L, 390L))._1,
            ManifestTable.prunedFilesToken(spark, p, 1L, "text", Seq("word2"))._1,
            ManifestTable.prunedFilesByKeys(spark, p, 1L, "k", Seq(5L, 395L)),
            ManifestTable.statsAgg(spark, p, 1L, "k").collect().head)
        }
      }
    assert(counts.jobs == 0, s"file selection ran ${counts.jobs} Spark jobs")
    // the selections are real skips, and the answers exact
    assert(range.size == 1 && multi.size == 1 && bloom.size <= 2 &&
      token.size <= 2 && keys.size == 2, (range, multi, bloom, token, keys))
    assert(agg == org.apache.spark.sql.Row(400L, 0L, 399L))
    assert(ManifestTable.readVersionSearch(spark, p, 1L, "text", Seq("word2"))
      .count() == 100L)
  }
}
