package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{KmvSketch, MisraGries, QuantileSketch}
import graft.sources.{ManifestTable, Tables}

/** Micro-batch use of the batch building blocks. The engine runs no
  * Structured Streaming query, but its sketches, its change-feed
  * algebra and its versioned commits are all incremental: state
  * carried from one batch into the next must end where the one-shot
  * batch answer does, whatever the split. Between batches a sketch
  * buffer round-trips through its Aggregator's `bufferEncoder`, the
  * form a state store (or a partial-aggregation shuffle) holds it in.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val H = 3600L * 1000 * 1000 * 1000 // 1h in ns

  /** The buffer as a state store keeps it: encoded to a row and back. */
  private def stored[B](b: B, enc: Encoder[B]): B =
    spark.createDataset(Seq(b))(enc).collect().head

  /** Per-key state after feeding `batches` in order; each batch folds
    * its rows (in their given order) into the stored state the
    * previous batch left.
    */
  private def carry[K, V, B, O](batches: Seq[Seq[(K, V)]],
      agg: Aggregator[V, B, O]): Map[K, B] =
    batches.foldLeft(Map.empty[K, B]) { (state, batch) =>
      batch.groupBy(_._1).foldLeft(state) { case (st, (key, rows)) =>
        val b0 = st.get(key).map(stored(_, agg.bufferEncoder)).getOrElse(agg.zero)
        st.updated(key, rows.map(_._2).foldLeft(b0)(agg.reduce))
      }
    }

  test("hourly counts over a native-timestamp stream (normalizeEventTs parity)") {
    // the native-timestamp layout fed as two micro-batches, each
    // normalized at the source to the ns-bigint contract and counted
    // per hour; the summed per-batch counts must equal the counts over
    // the same events in the legacy ns layout
    val M = 60L * 1000000000L
    val nsRows = Seq((1L, 10 * M, 1L, "click", 1.0), (2L, 20 * M, 2L, "click", 2.0),
      (3L, H + 10 * M, 1L, "view", 1.0), (4L, 3 * H, 3L, "click", 1.0))
    def hourly(events: DataFrame): DataFrame =
      events.groupBy(expr(s"(ts div $H) * 3600").as("w_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    def counts(df: DataFrame): Map[(Long, String), Long] =
      df.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val (first, second) = nsRows.splitAt(3)
    val perBatch = Seq(first, second).map { rows =>
      val native = Tables.normalizeEventTs(rows
        .map(r => r.copy(_2 = new java.sql.Timestamp(r._2 / 1000000L)))
        .toDF(cols: _*))
      assert(native.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      counts(hourly(native))
    }
    val streamed = perBatch.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    assert(streamed == counts(hourly(nsRows.toDF(cols: _*))))
    assert(streamed == Map((0L, "click") -> 2L, (3600L, "view") -> 1L,
      (10800L, "click") -> 1L), s"got $streamed")
  }

  test("streaming distinct sketch state equals the batch KMV signature") {
    val k = 8
    // 30 users across two types, split over three batches with
    // CROSS-BATCH DUPLICATES (users 0-4 re-sent twice) — idempotence
    // means replays cannot perturb the signature
    val b1 = (0L to 9L).map(_ -> "click") ++ (0L to 4L).map(_ -> "view")
    val b2 = (10L to 19L).map(_ -> "click") ++ (0L to 4L).map(_ -> "click")
    val b3 = (20L to 29L).map(_ -> "click") ++ (0L to 4L).map(_ -> "click")
    // hash on the engine, as the batch side does
    val h = (0L to 29L).toDF("user_id")
      .select(col("user_id"), xxhash64(col("user_id"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = new KmvSketch.Kmv(k)
    val state = carry(Seq(b1, b2, b3).map(_.map { case (u, t) => t -> h(u) }), agg)
    // batch reference over the SAME union of rows
    val ref = (b1 ++ b2 ++ b3).toDF("user_id", "event_type")
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .groupBy("event_type")
      .agg(KmvSketch.signature(k)(col("h")).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(state.keySet == ref.keySet)
    for ((t, buf) <- state)
      assert(buf.compacted.hashes == ref(t), s"stream signature for $t diverged from batch")
    // 'view' saw only 5 distinct users < k: the estimate is EXACT
    assert(state("view").compacted.hashes.size < k && agg.finish(state("view")) == 5.0)
  }

  test("streaming merge-upsert dim converges to the batch aggregate (q43 shape)") {
    // each micro-batch merges its per-user delta into the snapshot the
    // batch before it committed and publishes version = batch id
    val dir = Files.createTempDirectory("upsert_dim").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    def delta(rows: Seq[(Long, Long, Long, String, Double)]): DataFrame =
      rows.toDF(cols: _*).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("total_cents"))
    def upsert(rows: Seq[(Long, Long, Long, String, Double)], batchId: Long): Unit = {
      val merged = ManifestTable.committedVersions(spark, dir)
        .filter(_ < batchId).sorted.lastOption match {
        case None => delta(rows)
        case Some(pv) =>
          ManifestTable.readVersion(spark, dir, pv).unionByName(delta(rows))
            .groupBy("user_id")
            .agg(sum("n_events").as("n_events"), sum("total_cents").as("total_cents"))
      }
      ManifestTable.commit(merged, dir, batchId)
    }
    def rowsOf(df: DataFrame): Set[(Long, Long, Long)] =
      df.select("user_id", "n_events", "total_cents").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch 0: users 1, 2 (inserts); batch 1: user 2 again (update) +
    // user 3 (insert)
    val b0 = Seq((1L, 1L, 1L, "click", 1.50), (2L, 2L, 2L, "click", 2.25))
    val b1 = Seq((3L, 3L, 2L, "view", 0.75), (4L, 4L, 3L, "view", 4.00))
    upsert(b0, 0L)
    upsert(b1, 1L)
    val got = rowsOf(ManifestTable.latest(spark, dir))
    // batch-side truth: groupBy over ALL rows (150+225=375 etc.)
    assert(got == rowsOf(delta(b0 ++ b1)))
    assert(got == Set((1L, 1L, 150L), (2L, 2L, 300L), (3L, 1L, 400L)), s"got $got")
    // MVCC history: the intermediate version holds only batch-0 state
    val v0 = rowsOf(ManifestTable.readVersion(spark, dir, 0L))
    assert(v0 == Set((1L, 1L, 150L), (2L, 1L, 225L)), s"v0: $v0")
    // a retried micro-batch re-derives its version from the same
    // predecessor: no double count
    upsert(b1, 1L)
    assert(ManifestTable.committedVersions(spark, dir).sorted == Seq(0L, 1L))
    assert(rowsOf(ManifestTable.latest(spark, dir)) == got)
    // a crash-interrupted write (an unrenamed manifest temp file plus
    // a pool file no manifest names) never becomes "latest"
    Files.writeString(java.nio.file.Paths.get(dir, "_tmp_torn__manifest_v99.json"), "torn")
    Files.writeString(java.nio.file.Paths.get(dir, "_pool", "v99_part-torn.parquet"), "torn")
    assert(ManifestTable.committedVersions(spark, dir).sorted == Seq(0L, 1L))
    val still = rowsOf(ManifestTable.latest(spark, dir))
    assert(still == got, s"the torn v99 must be invisible: $still")
  }

  test("streaming Misra-Gries state equals the same-order batch fold across batches") {
    val k = 3
    val batch1 = Seq(("en", 1L, "spark spark spark data data query"),
      ("en", 2L, "spark table table"), ("de", 10L, "daten daten modell"))
    val batch2 = Seq(("en", 3L, "spark query query engine engine engine engine"),
      ("de", 11L, "daten korpus korpus"))
    // docs fold in doc_id order within a batch, tokens in document order
    val tokenRe = "[a-z0-9]+".r
    def tokens(docs: Seq[(String, Long, String)]): Seq[(String, String)] =
      docs.sortBy(_._2).flatMap { case (lang, _, text) =>
        tokenRe.findAllIn(text.toLowerCase).map(lang -> _)
      }
    val agg = new MisraGries.MG(k)
    val state = carry(Seq(tokens(batch1), tokens(batch2)), agg)
      .map { case (lang, b) => lang -> b.tokens.zip(b.counts).toMap }
    for (lang <- Seq("en", "de")) {
      val expect = (tokens(batch1) ++ tokens(batch2)).filter(_._1 == lang)
        .map(_._2).foldLeft(agg.zero)(agg.reduce)
      val em = expect.tokens.zip(expect.counts).toMap
      assert(state(lang) == em, s"$lang: stream ${state(lang)} vs batch $em")
    }
    // the MG guarantee across everything ingested: 'spark' appears 5×
    // of 16 en tokens > 16/(k+1)=4 → must be tracked
    assert(state("en").contains("spark"))
  }

  test("streaming running percentiles: state carries the sketch across batches, n exact, rank bound holds") {
    val rnd = new scala.util.Random(31)
    // (event_type, cents) in arrival order, split mid-stream
    val vals = (0 until 900).map { i =>
      (if (i % 2 == 0) "a" else "b", rnd.nextInt(10000).toLong)
    }
    val (b1, b2) = vals.splitAt(500)
    val agg = new QuantileSketch.QSketch(256)
    val state = carry(Seq(b1, b2), agg)
    for (t <- Seq("a", "b")) {
      val cents = vals.filter(_._1 == t).map(_._2)
      val got = state(t)
      // the identical one-shot fold re-produces the exact same sketch,
      // and the weight is the exact row count seen so far
      val ref = cents.foldLeft(agg.zero)(agg.reduce)
      assert((QuantileSketch.totalWeightOf(got), QuantileSketch.quantileOf(got, 0.5),
        QuantileSketch.quantileOf(got, 0.9)) == ((cents.size.toLong,
        QuantileSketch.quantileOf(ref, 0.5), QuantileSketch.quantileOf(ref, 0.9))),
        s"type $t")
      // and the ε rank window vs the exact sorted data
      val sorted = cents.sorted.toIndexedSeq
      def win(q0: Double, est: Long): Boolean = {
        val n = sorted.size
        val lo = math.max(1, math.ceil((q0 - 0.025) * n).toInt)
        val hi = math.min(n, math.ceil((q0 + 0.025) * n).toInt)
        sorted(lo - 1) <= est && est <= sorted(hi - 1)
      }
      assert(win(0.5, QuantileSketch.quantileOf(got, 0.5)) &&
        win(0.9, QuantileSketch.quantileOf(got, 0.9)), s"rank window $t")
    }
  }

  test("cdcRollup: batch-split-invariant IVM state matches the batch " +
      "algebra, with tombstones on group disappearance") {
    // CDC rows: (user_id, n_events, total_cents, _change_type).
    // Bootstrap-as-inserts for v1 = users 1..6, then a change feed:
    // user 2 updated (pre/post), users 3 and 5 deleted — bucket
    // (user_id % 4) 3 = {3} empty afterward; bucket 1 = {1, 5}
    // survives via user 1.
    val boot = Seq(
      (1L, 2L, 100L, "insert"), (2L, 3L, 200L, "insert"),
      (3L, 1L, 50L, "insert"), (4L, 4L, 400L, "insert"),
      (5L, 2L, 150L, "insert"), (6L, 1L, 60L, "insert"))
    val changes = Seq(
      (2L, 3L, 200L, "update_preimage"), (2L, 5L, 275L, "update_postimage"),
      (3L, 1L, 50L, "delete"), (5L, 2L, 150L, "delete"))
    val empty = Seq.empty[(Long, Long, Long, Long)]
      .toDF("bucket", "n_users", "sum_events", "sum_cents")
    // the rollup after each batch of the split, each maintained from
    // the one before by the signed-delta algebra
    def rollups(splits: Seq[Seq[(Long, Long, Long, String)]]): Seq[Map[Long, (Long, Long, Long)]] =
      splits.scanLeft(empty) { (agg, b) =>
        ManifestTable.incrementalAgg(agg,
          b.toDF("user_id", "n_events", "total_cents", "_change_type")
            .withColumn("bucket", pmod(col("user_id"), lit(4L))),
          Seq("bucket"), "n_users",
          Seq("n_events" -> "sum_events", "total_cents" -> "sum_cents"))
      }.tail.map(_.select("bucket", "n_users", "sum_events", "sum_cents").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap)

    // three very different batchings of the same row sequence
    val all = boot ++ changes
    val a = rollups(Seq(all)).last
    val two = rollups(Seq(boot, changes))
    val c = rollups(all.grouped(3).toSeq).last
    assert(a == two.last && two.last == c, s"batch-split variance: $a / ${two.last} / $c")
    // hand-computed: bucket 0 = {4}, 1 = {1}, 2 = {2 (updated), 6}
    assert(a == Map(0L -> ((1L, 4L, 400L)), 1L -> ((1L, 2L, 100L)),
      2L -> ((2L, 6L, 335L))), s"got $a")
    // bucket 3 lost its only user: present after the bootstrap batch,
    // gone (its row count reached zero) once the deletes land
    assert(two.head(3L) == ((1L, 1L, 50L)) && !a.contains(3L))
  }
}
