package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Deterministic mergeable QUANTILE sketch (Munro–Paterson / MRL
  * buffer-collapse family) as a partial aggregate — the percentile
  * member of the sketch suite (KMV → distinct counts, Misra–Gries →
  * heavy hitters, Bloom → membership, this → rank statistics).
  *
  * Structure: a binomial-heap-like ladder of sorted buffers. Level-l
  * buffers hold exactly `k` values, each REPRESENTING 2^l input rows;
  * raw arrivals pool unsorted below level 0 and promote k at a time.
  * Two buffers at one level COLLAPSE into one at the next: merge the
  * 2k sorted values, keep every other one, with the kept parity
  * alternating by level ([[collapseK]] — the MRL bias-cancelling
  * alternation, deterministic with no RNG and no extra state, so a
  * retried task re-produces the identical sketch). Represented weight
  * is conserved exactly (2·k·2^l =
  * k·2^(l+1)), so Σ weights = n bit-exactly at all times — asserted
  * in the property spec AND in the declared query's result (n_match),
  * where it proves no partial sketch was dropped or double-merged.
  *
  * Error model (why a tolerance contract, not equality): each
  * collapse shifts a value's implied rank by at most half its weight
  * per level, so a quantile read off the final ladder lands within
  * ε·n of the true rank, ε ≈ log²(n/k)/(2k) for the deterministic
  * variant — at k = 256 and n ≤ 10⁹ well under 2%. UNLIKE KMV the
  * final state is not a pure function of the input SET (the collapse
  * pattern follows the merge tree), so the declared contract is the
  * ε rank bound asserted IN the result (the q46 discipline), never
  * state equality.
  *
  * At 100 TB: map tasks forward O(k·log(n/k)) longs per group instead
  * of the rows; merge is associative buffer algebra, so partial
  * aggregation and any AQE merge tree apply; coarser rollup levels
  * merge the FINISHED states of finer ones ([[mergeSketches]] —
  * merge-of-merges, rows touched once at the leaves). The state
  * flattens to a (value, weight) array the query layer reads with
  * scan-side HOFs, keeping the estimator relational.
  */
object QuantileSketch {

  final case class LevelBuf(lvl: Int, items: Seq[Long])

  /** `raw` = weight-1 arrivals not yet promoted (< k of them);
    * `levels` = at most one k-item sorted buffer per level.
    */
  final case class QBuf(raw: Seq[Long], levels: Seq[LevelBuf])

  /** Collapse two sorted level-`lvl` buffers into one: merge the 2k
    * values, keep every other one. The kept PARITY alternates with the
    * level (odd indices at even levels, even at odd) — since a value's
    * promotion path visits successive levels, consecutive collapses
    * along any path alternate parity, which is the classical MRL
    * alternation that cancels the one-sided rank bias a fixed parity
    * accumulates (Munro–Paterson keeps one parity and pays ~2× the
    * constant). Keyed off `lvl` rather than a stored flip bit so the
    * state stays a pure function of the merge tree — no extra state,
    * retried tasks re-produce the identical sketch.
    */
  private[functions] def collapseK(k: Int, lvl: Int)(a: Seq[Long],
      b: Seq[Long]): Seq[Long] = {
    // indexed access — a List here would make the alternation O(k²)
    val m = (a ++ b).toArray.sorted
    val start = if (lvl % 2 == 0) 1 else 0
    (start until 2 * k by 2).map(m)
  }

  private def insertBuf(k: Int)(levels: Seq[LevelBuf], buf: Seq[Long],
      lvl: Int): Seq[LevelBuf] =
    levels.find(_.lvl == lvl) match {
      case None => (levels :+ LevelBuf(lvl, buf)).sortBy(_.lvl)
      case Some(existing) =>
        insertBuf(k)(levels.filterNot(_.lvl == lvl),
          collapseK(k, lvl)(existing.items, buf), lvl + 1)
    }

  private def promote(k: Int)(b: QBuf): QBuf =
    if (b.raw.size < k) b
    else {
      val sorted = b.raw.sorted
      val (buf, rest) = sorted.splitAt(k)
      promote(k)(QBuf(rest, insertBuf(k)(b.levels, buf, 0)))
    }

  private def mergeBufs(k: Int)(b1: QBuf, b2: QBuf): QBuf = {
    val withLevels = b2.levels.foldLeft(b1.levels) { (ls, lb) =>
      insertBuf(k)(ls, lb.items, lb.lvl)
    }
    promote(k)(QBuf(b1.raw ++ b2.raw, withLevels))
  }

  final class QSketch(k: Int) extends Aggregator[Long, QBuf, QBuf] {
    require(k >= 2 && k % 2 == 0, s"k must be even and >= 2, got $k")
    override def zero: QBuf = QBuf(Vector.empty, Vector.empty)
    override def reduce(b: QBuf, v: Long): QBuf =
      promote(k)(QBuf(b.raw :+ v, b.levels))
    override def merge(b1: QBuf, b2: QBuf): QBuf = mergeBufs(k)(b1, b2)
    override def finish(b: QBuf): QBuf = b
    override def bufferEncoder: Encoder[QBuf] = Encoders.product[QBuf]
    override def outputEncoder: Encoder[QBuf] = Encoders.product[QBuf]
  }

  /** Merge-of-merges: fold FINISHED sketch states (one per finer
    * rollup cell) into the coarser level's state without re-touching
    * rows — the same shape as KmvSketch.mergeSignatures.
    */
  final class QMerge(k: Int) extends Aggregator[QBuf, QBuf, QBuf] {
    require(k >= 2 && k % 2 == 0, s"k must be even and >= 2, got $k")
    override def zero: QBuf = QBuf(Vector.empty, Vector.empty)
    override def reduce(b: QBuf, in: QBuf): QBuf = mergeBufs(k)(b, in)
    override def merge(b1: QBuf, b2: QBuf): QBuf = mergeBufs(k)(b1, b2)
    override def finish(b: QBuf): QBuf = b
    override def bufferEncoder: Encoder[QBuf] = Encoders.product[QBuf]
    override def outputEncoder: Encoder[QBuf] = Encoders.product[QBuf]
  }

  /** Column-API entries. `sketch(256)(col("cents"))` aggregates raw
    * longs; `mergeSketches(256)(col("sk"))` folds finished states.
    */
  def sketch(k: Int): Column => Column = {
    val f = udaf(new QSketch(k), Encoders.scalaLong)
    v => f(v)
  }

  def mergeSketches(k: Int): Column => Column = {
    // udaf with a product input encoder flattens the case class into
    // one argument PER FIELD — feed the struct's fields positionally
    val f = udaf(new QMerge(k), Encoders.product[QBuf])
    v => f(v.getField("raw"), v.getField("levels"))
  }

  /** SQL fragment reading quantile q off a sketch-state column named
    * `skCol`, given the group's exact row count column `nCol`:
    * flatten state → sorted (v, w) pairs → smallest v whose cumulative
    * weight reaches the target rank greatest(1, ceil(q·n)) — the same
    * clamp as the JVM reference [[quantileOf]], so q·n < 1 (tiny q
    * over a tiny group) targets the minimum instead of rank 0. Pure
    * scan-side HOFs — the estimator never leaves codegen'd
    * expressions.
    */
  def quantileExpr(skCol: String, nCol: String, q: Double): String =
    s"""aggregate(
       |  array_sort(
       |    concat(
       |      transform($skCol.raw, v -> named_struct('v', v, 'w', CAST(1 AS BIGINT))),
       |      flatten(transform($skCol.levels,
       |        lb -> transform(lb.items,
       |          v -> named_struct('v', v, 'w', shiftleft(CAST(1 AS BIGINT), lb.lvl)))))),
       |    (l, r) -> CASE WHEN l.v < r.v THEN -1 WHEN l.v > r.v THEN 1 ELSE 0 END),
       |  named_struct('cum', CAST(0 AS BIGINT), 'ans', CAST(NULL AS BIGINT)),
       |  (acc, x) -> CASE WHEN acc.ans IS NOT NULL THEN acc
       |    WHEN acc.cum + x.w >= greatest(CAST(1 AS BIGINT), CAST(ceil($q * $nCol) AS BIGINT))
       |      THEN named_struct('cum', acc.cum + x.w, 'ans', x.v)
       |    ELSE named_struct('cum', acc.cum + x.w, 'ans', CAST(NULL AS BIGINT)) END,
       |  acc -> acc.ans)""".stripMargin

  /** Total represented weight of a sketch-state column — must equal
    * the group's exact row count (conservation law).
    */
  def totalWeightExpr(skCol: String): String =
    s"""size($skCol.raw) +
       |aggregate(transform($skCol.levels,
       |    lb -> size(lb.items) * shiftleft(CAST(1 AS BIGINT), lb.lvl)),
       |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin

  /** Test-side reference estimator over a collected QBuf. */
  def quantileOf(b: QBuf, q: Double): Long = {
    val weighted = (b.raw.map(v => (v, 1L)) ++
      b.levels.flatMap(lb => lb.items.map(v => (v, 1L << lb.lvl))))
      .sortBy(_._1)
    val n = weighted.map(_._2).sum
    val target = math.max(1L, math.ceil(q * n).toLong)
    var cum = 0L
    weighted.foreach { case (v, w) =>
      cum += w
      if (cum >= target) return v
    }
    weighted.last._1
  }

  def totalWeightOf(b: QBuf): Long =
    b.raw.size.toLong + b.levels.map(lb => lb.items.size.toLong << lb.lvl).sum
}
