package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: merge SIBLING per-key aggregates produced by
  * correlated-scalar-subquery decorrelation into ONE aggregate.
  *
  * Two correlated scalar aggregates over the same table — TPC-H Q17's
  * `qty·(SELECT COUNT(*) …) > (SELECT SUM(qty) …)` shape (h11) —
  * decorrelate (RewriteCorrelatedScalarSubquery) into a CHAIN of
  * left-outer joins, each against its own `Aggregate[key]` over the
  * same source:
  *
  * {{{ Join(Project(patch,                      // COUNT-bug null patch
  *            Join(fact, Agg1[key], LeftOuter, key = k1)),
  *          Agg2[key], LeftOuter, key = k2) }}}
  *
  * Spark 4.1's MergeScalarSubqueries only merges UNCORRELATED scalar
  * subqueries (it matches ScalarSubquery expressions, which the
  * correlated form no longer is post-decorrelation), so the fact
  * table is scanned once per subquery — measured on h11: three
  * lineitem scans where DuckDB plans one. This rule fuses the two
  * aggregates into a single Aggregate computing both function sets,
  * served by ONE join:
  *
  * {{{ Project(patch ++ agg2out,
  *       Join(fact, Agg[key, funcs1 ++ funcs2], LeftOuter,
  *            key = k1 AND key = k2)) }}}
  *
  * The aggregates' children need not be exprId-identical: column
  * pruning gives each subquery its own attribute ids and its own
  * pruned Project (`[key]` vs `[key, qty]`), so the rule accepts
  * children that are canonically equal, or attribute-only Projects
  * over canonically-equal grandchildren (merged by unioning the
  * pruned column sets — the fused scan reads key ∪ qty, still pruned).
  *
  * Semantics-preserving because the two aggregates have IDENTICAL key
  * sets (same source, same grouping): an outer row matches both or
  * neither, so one left-outer join null-pads exactly where the chain
  * did. All original output exprIds survive (aggregate aliases keep
  * theirs under substitution; grouping passthroughs are re-aliased
  * under their original ids), so parents — including the decorrelator's
  * `if (isnull(alwaysTrue)) 0 else count` patch — are untouched.
  * transformUp merges longer sibling chains pairwise to a fixpoint.
  *
  * Scope guards (bail-out is free, like plans/TopKRewrite): left-outer
  * chain only, plain-attribute equi-conditions whose outer side comes
  * from the FACT (not the sibling aggregate or the patch Project's
  * computed columns), deterministic expressions throughout. At 100 TB
  * this removes one full probe-side scan + shuffle per extra
  * correlated aggregate — the plan DuckDB reaches natively. To plan
  * without it, list it in `spark.sql.optimizer.excludedRules`.
  */
object MergeScalarAggJoins extends Rule[LogicalPlan] {

  /** An inner join possibly wrapped in one projection layer (the
    * decorrelator's COUNT-bug patch). Identity projection otherwise.
    */
  private object ProjectedJoin {
    def unapply(p: LogicalPlan): Option[(Seq[NamedExpression], Join)] =
      p match {
        case Project(l, j: Join) if l.forall(_.deterministic) => Some((l, j))
        case j: Join => Some((j.output, j))
        case _ => None
      }
  }

  /** Resolve a shared computation for the two aggregate children:
    * returns (mergedChild, agg2-attr → mergedChild-attr map).
    */
  private def commonChild(c1: LogicalPlan, c2: LogicalPlan)
      : Option[(LogicalPlan, AttributeMap[Attribute])] = {
    if (c1.canonicalized == c2.canonicalized &&
        c1.output.length == c2.output.length) {
      Some((c1, AttributeMap(c2.output.zip(c1.output))))
    } else (c1, c2) match {
      case (Project(l1, g1), Project(l2, g2))
          if l1.forall(_.isInstanceOf[AttributeReference]) &&
            l2.forall(_.isInstanceOf[AttributeReference]) &&
            g1.canonicalized == g2.canonicalized &&
            g1.output.length == g2.output.length =>
        val gmap = AttributeMap(g2.output.zip(g1.output))
        val a1 = l1.map(_.asInstanceOf[AttributeReference])
        val a2src = l2.map(_.asInstanceOf[AttributeReference])
        if (a2src.forall(gmap.contains)) {
          val a2 = a2src.map(gmap)
          val union = a1 ++ a2.filterNot(m => a1.exists(_.exprId == m.exprId))
          Some((Project(union, g1), AttributeMap(a2src.zip(a2))))
        } else None
      case _ => None
    }
  }

  /** Split a conjunctive equi-condition into (outer, agg) attribute
    * pairs; Some only if EVERY conjunct is a plain attribute equality
    * with one side in `outer` and the other in `agg`.
    */
  private def eqPairs(cond: Expression, outer: AttributeSet,
      agg: AttributeSet): Option[Seq[(Attribute, Attribute)]] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case o => Seq(o)
    }
    val pairs = split(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if outer.contains(a) && agg.contains(b) =>
        Some((a: Attribute, b: Attribute))
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if outer.contains(a) && agg.contains(b) =>
        Some((a: Attribute, b: Attribute))
      case _ => None
    }
    if (pairs.forall(_.isDefined)) Some(pairs.flatten) else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Join(
        ProjectedJoin(plist,
          j1 @ Join(x, agg1: Aggregate, LeftOuter, Some(c1), _)),
        agg2: Aggregate, LeftOuter, Some(c2), _)
        if !x.isInstanceOf[Aggregate] &&
          agg1.groupingExpressions.nonEmpty &&
          (agg1.aggregateExpressions ++ agg2.aggregateExpressions).forall {
            case a: Alias => a.deterministic
            case _: AttributeReference => true
            case _ => false
          } &&
          commonChild(agg1.child, agg2.child).exists { case (_, m) =>
            def ms(e: Expression): Expression = e.transform {
              case a: Attribute => m.getOrElse(a, a)
            }
            // identical grouping under the child mapping
            val groupingOk =
              agg1.groupingExpressions.map(_.canonicalized) ==
                agg2.groupingExpressions.map(g => ms(g).canonicalized)
            // the two join conditions must be the SAME correlation
            // under the mapping: equal outer attrs paired with the
            // same (mapped) aggregate key — two sibling joins keyed on
            // DIFFERENT outer columns pick different aggregate rows
            // and must NOT fuse into one conjunctive join
            val condOk = (
              eqPairs(c1, x.outputSet, agg1.outputSet),
              eqPairs(c2, x.outputSet, agg2.outputSet)) match {
              case (Some(p1), Some(p2)) =>
                val k1 = p1.map { case (o, a) => (o.exprId, a.exprId) }.toSet
                val k2 = p2.map { case (o, a) =>
                  (o.exprId, ms(a) match {
                    case at: Attribute => at.exprId
                    case _ => a.exprId
                  })
                }.toSet
                k1 == k2
              case _ => false
            }
            groupingOk && condOk
          } =>
      val (mChild, mapping) = commonChild(agg1.child, agg2.child).get
      def subst(e: Expression): Expression = e.transform {
        case a: Attribute => mapping.getOrElse(a, a)
      }
      val agg2Rewritten: Seq[NamedExpression] = agg2.aggregateExpressions.map {
        case ar: AttributeReference =>
          // grouping passthrough: recompute from the merged child but
          // keep agg2's original exprId/name for downstream references
          Alias(subst(ar), ar.name)(exprId = ar.exprId)
        case al: Alias =>
          subst(al).asInstanceOf[NamedExpression] // transform keeps exprId
        case other => other // unreachable under the guard
      }
      val merged = Aggregate(agg1.groupingExpressions,
        agg1.aggregateExpressions ++ agg2Rewritten, mChild)
      val fused = Join(x, merged, LeftOuter, Some(And(c1, c2)), JoinHint.NONE)
      // restore the outer output: the patch projection's columns, then
      // agg2's outputs (now produced by the merged aggregate)
      Project(plist ++ agg2.output, fused)
  }
}
