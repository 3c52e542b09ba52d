package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Chunked decomposition of bounded trailing ROWS windows.
  *
  * `PARTITION BY series ORDER BY ord ROWS BETWEEN k PRECEDING AND 1
  * PRECEDING` has a hard scale ceiling in any engine: parallelism equals
  * the number of series, because each series is one sorted stream. When
  * the series count is small (e18's 5 event types) a 100x data growth is
  * a 100x wall-clock on 5 sequential streams.
  *
  * Because the frame is BOUNDED (k preceding rows), the window
  * decomposes exactly over contiguous chunks of the ord domain:
  *
  *  1. bucket rows by `ord div bucketWidth` — buckets are contiguous
  *     ord-ranges, so (bucket, ord, tie) order == (ord, tie) order, and
  *     the window runs per (series, bucket): parallelism is now
  *     #series x #buckets.
  *  2. within each bucket the trailing stats are complete for every row
  *     past the k-th; the first <=k rows ("heads") are short exactly the
  *     suffix of the rows that precede their bucket.
  *  3. each bucket exports its last <=k rows ("tail"). A bucket-level
  *     window (summary-sized, trivially small) concatenates the tails of
  *     all preceding buckets in order and keeps the last k values —
  *     provably the k rows immediately preceding the bucket: walking the
  *     concatenation backwards, a truncated tail (bucket with >k rows)
  *     contributes exactly k values so the walk stops inside it, and a
  *     complete tail (<k rows) is gap-free by construction, so the
  *     suffix is always contiguous in global row order.
  *  4. every head row patches itself from that <=k-element array with
  *     scan-side HOFs (slice + aggregate) — no second fact-sized
  *     exchange, no driver loop.
  *
  * Cost shape at 100 TB: one exchange on (series, bucket) — same bytes
  * as the naive plan's exchange on series — plus a summary-sized window
  * and a broadcast hash probe. The naive plan's per-series sequential
  * sort is replaced by #buckets independent sorts.
  *
  * Preconditions: `ord` non-negative integral (bucketing uses `div`),
  * `v` integral (stats are exact BIGINT sums), (ord, tie) unique within
  * a series (deterministic order).
  */
object ChunkedWindow {

  /** Adds `n`, `s`, `s2` = exact count / sum / sum-of-squares of `v`
    * over the trailing frame `ROWS BETWEEN frame PRECEDING AND 1
    * PRECEDING` of `PARTITION BY seriesCol ORDER BY ordCol, tieCol`,
    * computed with #series x #buckets parallelism. Input columns are
    * preserved.
    *
    * `maxBroadcastCells` bounds the head-patch broadcast (same
    * discipline as Similarity's MaxMmrPool guard): `prevs` holds up to
    * one `frame`-element array per (series, bucket), so a caller
    * passing a small bucketWidth over a large ord domain would
    * otherwise drive an unbounded driver-side broadcast. The group
    * count is measured on the already-checkpointed partials (a cheap
    * summary aggregate, no recompute); past the bound the head patch
    * falls back to a shuffle hash join on (series, bucket) — same
    * result, no driver materialization.
    */
  def trailingStats(df: DataFrame, seriesCol: String, ordCol: String,
      tieCol: String, vCol: String, frame: Int,
      bucketWidth: Long, maxBroadcastCells: Long = 4L << 20): DataFrame = {
    require(frame >= 1, s"frame must be >= 1, got $frame")
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val inCols = df.columns.toSeq
    val wB = Window.partitionBy(seriesCol, "gw_bucket")
      .orderBy(col(ordCol), col(tieCol))
    val trail = wB.rowsBetween(-frame, -1)
    // One sort per (series, bucket) computes all four frames; the
    // checkpoint pins the result for its three consumers (tails,
    // output rows, head patch) — without it each branch re-runs the
    // window (the measured p24/d24 recompute trap).
    // LAZY checkpoint (r17 optimization round): the broadcast-gate
    // group count below is the action that materializes it — one job
    // where the eager form paid the window job plus the count job.
    // (The count's distinct consumes every partition, satisfying the
    // Loops.checkpoint fusion contract; the level knob applies here too.)
    val part = graft.plans.Loops.checkpoint(df
      .withColumn("gw_bucket", expr(s"$ordCol div ${bucketWidth}L"))
      .withColumn("gw_idx", row_number().over(wB))
      .withColumn("gw_cnt", count(lit(1)).over(
        wB.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("gw_nw", count(lit(1)).over(trail))
      .withColumn("gw_sw",
        coalesce(sum(col(vCol).cast("long")).over(trail), lit(0L)))
      .withColumn("gw_s2w",
        coalesce(sum(col(vCol).cast("long") * col(vCol).cast("long"))
          .over(trail), lit(0L))),
      eager = false, keepPartitioning = false)
    // Last <=frame rows of each bucket, as an ord-ordered value array.
    val tails = part.where(col("gw_idx") > col("gw_cnt") - frame)
      .groupBy(col(seriesCol), col("gw_bucket"))
      .agg(sort_array(collect_list(struct(col(ordCol).as("o"),
        col(tieCol).as("t"), col(vCol).cast("long").as("v")))).as("tl"))
      .select(col(seriesCol), col("gw_bucket"),
        expr("transform(tl, x -> x.v)").as("gw_tlv"))
    // Bucket-summary window: the frame values immediately before each
    // bucket. Summary cardinality = #non-empty buckets per series, so
    // the O(buckets * frame) concatenation is control-plane-sized.
    val wS = Window.partitionBy(seriesCol).orderBy("gw_bucket")
    val prevs = tails
      .withColumn("gw_all", flatten(collect_list(col("gw_tlv")).over(
        wS.rowsBetween(Window.unboundedPreceding, -1))))
      .select(col(seriesCol), col("gw_bucket"),
        expr(s"slice(gw_all, greatest(size(gw_all) - ${frame - 1}, 1), $frame)")
          .as("gw_prev"))
    // Patch the head rows (idx <= frame) from the <=frame-element
    // prev array; body rows take need = 0 and pass through unchanged.
    // Broadcast only under the cell budget; see scaladoc.
    val groups = part.select(col(seriesCol), col("gw_bucket"))
      .distinct().count()
    val probe = if (groups * frame.toLong <= maxBroadcastCells)
      broadcast(prevs) else prevs
    part.join(probe, Seq(seriesCol, "gw_bucket"), "left")
      .withColumn("gw_pa",
        coalesce(col("gw_prev"), expr("CAST(array() AS ARRAY<BIGINT>)")))
      .withColumn("gw_need",
        greatest(lit(frame) - (col("gw_idx") - lit(1)), lit(0)))
      .withColumn("gw_ext", slice(col("gw_pa"),
        greatest(size(col("gw_pa")) - col("gw_need") + lit(1), lit(1)),
        col("gw_need")))
      .withColumn("n", col("gw_nw") + size(col("gw_ext")).cast("long"))
      .withColumn("s",
        col("gw_sw") + expr("aggregate(gw_ext, 0L, (a, x) -> a + x)"))
      .withColumn("s2",
        col("gw_s2w") + expr("aggregate(gw_ext, 0L, (a, x) -> a + x * x)"))
      .select((inCols.map(col) ++ Seq(col("n"), col("s"), col("s2"))): _*)
  }
}
