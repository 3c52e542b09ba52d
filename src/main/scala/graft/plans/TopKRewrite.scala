package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.posexplode
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Planner rule: rewrite the window-rank-≤-k idiom
  *
  * {{{ Filter(rk <= k, Project(..., Window(row_number() OVER
  *     (PARTITION BY p ORDER BY score DESC, id ASC) AS rk))) }}}
  *
  * into partial top-k aggregation (functions.TopKAgg): groupBy(p) with
  * a k-bounded map-side buffer, explode, re-derive rk from the sorted
  * position. The window form shuffles and sorts EVERY row of each
  * group; the aggregate form forwards at most k rows per group per map
  * task, so the exchange carries O(groups × k) instead of O(rows) —
  * on a 1000-executor corpus-scale stratified-sample this is the
  * difference between a broadcast-sized shuffle and a full-corpus one.
  *
  * Scope (deliberately narrow — the rewrite must be semantics-
  * preserving, and bail-out is free): row_number only, exactly
  * (score DESC, id ASC) ordering on bigint attribute refs, grouping
  * keys plain attributes, k ≤ 100, projected columns ⊆ grouping ∪
  * {score, id, rk}. Ranks are dense and deterministic under these
  * conditions, so result equality with the window form is exact (the
  * PlanRewriteSpec asserts it row-for-row, and p3's DuckDB oracle
  * checks it end-to-end — p3 runs THROUGH this rewrite in Verify).
  *
  * Injected post-resolution (GraftExtensions): the analyzed shape is
  * stable there, where the optimizer may have already reshaped
  * Project/Window stacks.
  */
class TopKRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private val maxK = 100L

  /** Integer bound literal, possibly wrapped by type-coercion casts
    * (analysis-time plans have not constant-folded them yet).
    */
  private object KLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType)   => Some(v)
      case Cast(KLit(v), _, _, _)       => Some(v)
      case _                            => None
    }
  }

  /** `rk <= k` / `rk < k+1` on a bare attribute. */
  private object RankBound {
    def unapply(e: Expression): Option[(AttributeReference, Long)] = e match {
      case LessThanOrEqual(a: AttributeReference, KLit(k)) => Some((a, k))
      case LessThan(a: AttributeReference, KLit(k))        => Some((a, k - 1))
      case _                                               => None
    }
  }

  /** One or more stacked Projects over a Window, flattened to the
    * effective projection: the analyzer emits
    * `Project(passthrough, Project(aliases ++ _we0, Window(...)))`
    * for `select(..., win.as("rk"))`, so the match must inline
    * attribute-only outer layers through the aliasing layer.
    */
  private object ProjectedWindow {
    def unapply(p: LogicalPlan): Option[(Seq[NamedExpression], Window)] =
      p match {
        case Project(list, w: Window) => Some((list, w))
        case Project(list, ProjectedWindow(inner, w))
            if list.forall(_.isInstanceOf[AttributeReference]) =>
          val byId = inner.map(ne => ne.exprId -> ne).toMap
          val mapped = list.map(a => byId.get(a.exprId))
          if (mapped.forall(_.isDefined)) Some((mapped.flatten, w)) else None
        case _ => None
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // Null orderings are matched EXPLICITLY (the defaults for DESC/ASC):
    // a desc_nulls_first / asc_nulls_last ordering ranks rows the
    // aggregator's (-score, id) comparator would misplace, so any
    // non-default ordering must keep the window plan.
    case Filter(RankBound(rkRef, k),
        ProjectedWindow(projList,
          Window(Seq(winAlias @ Alias(WindowExpression(_: RowNumber,
              WindowSpecDefinition(partSpec,
                Seq(SortOrder(score: AttributeReference, Descending, NullsLast, _),
                    SortOrder(id: AttributeReference, Ascending, NullsFirst, _)),
                _)), _)),
            _, _, child, _)))
        if k > 0 && k <= maxK &&
          eligible(projList, winAlias, rkRef, partSpec, score, id) =>
      rewrite(projList, rkRef, partSpec, score, id, k, child)
  }

  private def eligible(projList: Seq[NamedExpression], winAlias: Alias,
      rkRef: AttributeReference, partSpec: Seq[Expression],
      score: AttributeReference, id: AttributeReference): Boolean = {
    val partOk = partSpec.forall(_.isInstanceOf[AttributeReference])
    val typesOk = score.dataType == LongType && id.dataType == LongType
    // TopKAgg's buffer is a case class of primitive Longs
    // (Encoders.product): a null score/id would throw at runtime, and
    // null placement differs from the comparator anyway — nullable
    // inputs keep the window plan.
    val nullOk = !score.nullable && !id.nullable
    val allowed = AttributeSet(
      partSpec.collect { case a: AttributeReference => a } ++ Seq(score, id))
    // rk must be the window output (bare or integral-cast), everything
    // else a passthrough of grouping/score/id attributes — anything
    // outside the aggregator's (score, id) payload cannot be re-derived.
    val shapeOk = projList.forall {
      case ne if ne.exprId == rkRef.exprId =>
        ne match {
          case Alias(av: AttributeReference, _) => av.exprId == winAlias.exprId
          case Alias(Cast(av: AttributeReference, LongType | IntegerType, _, _), _) =>
            av.exprId == winAlias.exprId
          case av: AttributeReference => av.exprId == winAlias.exprId
          case _ => false
        }
      case a: AttributeReference => allowed.contains(a)
      case _ => false
    }
    val rkProjected = projList.exists(_.exprId == rkRef.exprId)
    partOk && typesOk && nullOk && shapeOk && rkProjected
  }

  private def rewrite(projList: Seq[NamedExpression],
      rkRef: AttributeReference, partSpec: Seq[Expression],
      score: AttributeReference, id: AttributeReference, k: Long,
      child: LogicalPlan): LogicalPlan = {
    val partAttrs = partSpec.map(_.asInstanceOf[AttributeReference])
    val partCols = partAttrs.map(PlanBridge.column)
    val df = PlanBridge.ofRows(spark, child)
    val top = graft.functions.TopKAgg.topK(k.toInt)(
      PlanBridge.column(score), PlanBridge.column(id))
    // Grouping attributes pass through Aggregate with their exprIds
    // intact, so exprId-precise references stay valid downstream.
    // Every generated column (agg buffer, posexplode's pos/col) is
    // ALSO referenced exprId-precise, read back from the analyzed
    // output of each step — a user grouping column named "pos", "col"
    // or "__graft_top" cannot shadow them.
    val agged = df
      .groupBy(partCols: _*)
      .agg(top.as("__graft_top"))
    val topAttr = PlanBridge.analyzed(agged).output.last
    val exploded = agged.select(
      partCols :+ posexplode(PlanBridge.column(topAttr).getField("rows")): _*)
    val expOut = PlanBridge.analyzed(exploded).output
    val (posAttr, rowAttr) = (expOut(expOut.size - 2), expOut.last)
    val rows = exploded.select(partCols ++ Seq(
      PlanBridge.column(rowAttr).getField("score").as("__graft_score"),
      PlanBridge.column(rowAttr).getField("id").as("__graft_id"),
      (PlanBridge.column(posAttr) + 1).cast(LongType).as("__graft_rk")): _*)
    val newPlan = PlanBridge.analyzed(rows)
    val out = newPlan.output
    val replacement: Map[ExprId, Attribute] =
      partAttrs.indices.map(i => partAttrs(i).exprId -> out(i)).toMap ++
        Map(score.exprId -> out(out.size - 3),
          id.exprId -> out(out.size - 2),
          rkRef.exprId -> out.last)
    // Restore the original output: same names, types AND exprIds, so
    // parents (sorts, further projections) are untouched.
    val restored = projList.map { ne =>
      val o = ne.toAttribute
      val src = replacement(o.exprId)
      val typed = if (src.dataType == o.dataType) src else Cast(src, o.dataType)
      Alias(typed, o.name)(exprId = o.exprId)
    }
    Project(restored, newPlan)
  }
}

/** Session-extensions entry point: `.withExtensions(GraftExtensions)`
  * (Sessions.local applies it, so Verify/Bench/tests all plan through
  * the rewrite).
  */
object GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(new TopKRewrite(_))
    // Runs inside the operator-optimization fixpoint, so it fires in
    // the iteration after RewriteCorrelatedScalarSubquery produces the
    // sibling-aggregate join chain it fuses.
    ext.injectOptimizerRule(_ => MergeScalarAggJoins)
    ext.injectOptimizerRule(_ => FoldLocalJoins)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
  }
}
