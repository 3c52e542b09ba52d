package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{JOIN, LOCAL_RELATION}

/** Optimizer rule: replace an inner or cross join of two local
  * relations with a local relation holding its exact output.
  *
  * Catalyst folds Project, Filter and Limit over a `LocalRelation`
  * (ConvertToLocalRelation) but never a join, so a join of two
  * driver-side row lists still plans a physical join and runs Spark
  * jobs. That matters most under native `WITH RECURSIVE`: Spark's
  * `UnionLoopExec` takes a level's rows without running a job only
  * when the level's optimized plan is a `LocalRelation`; any other
  * level pays a `repartition()` + count + collect. With this fold,
  * every level of a recursion over a local dim (h5's walk over the
  * collected anchor, h8's closure over the collected reporting dim) is
  * a `LocalRelation`, and the whole walk runs on the driver.
  *
  * A side qualifies when it is a non-streaming `LocalRelation`, possibly
  * under `Project`/`Filter` nodes whose expressions are deterministic,
  * subquery-free and evaluable. The rule runs in the operator-
  * optimization fixpoint, before Spark's late ConvertToLocalRelation
  * batch, so it evaluates those nodes itself (interpreted). The join
  * condition is an interpreted predicate over each `JoinedRow` pair; a
  * null condition drops the pair, as in any inner join. The output keeps
  * the join's attributes (names, types, exprIds), so parents are
  * untouched.
  *
  * Pruned by tree pattern: a plan with no local relation and join (the
  * loop families, m11's Project stack, every parquet board query) never
  * enters the transform.
  */
object FoldLocalJoins extends Rule[LogicalPlan] {

  /** Upper bound on the nested-loop pairs a fold evaluates, counted on
    * the base relations (filters only shrink a side). At well under
    * 1 µs per interpreted pair, 4,096 pairs cost the driver a few
    * milliseconds: less than the ~10 ms fixed cost of the one Spark job
    * the unfolded join runs at the least. Larger joins keep their plan.
    */
  val MaxPairs: Long = 4096L

  /** A foldable side: its base relation's row count and its rows. */
  private final case class LocalSide(baseRows: Int, rows: () => Seq[InternalRow])

  private def evaluable(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e) &&
      !ConvertToLocalRelation.hasUnevaluableExpr(e)

  private def predicate(cond: Expression, input: Seq[Attribute]): BasePredicate = {
    val p = Predicate.createInterpreted(BindReferences.bindReference(cond, input))
    p.initialize(0)
    p
  }

  private object Local {
    def unapply(p: LogicalPlan): Option[LocalSide] = p match {
      case r: LocalRelation if !r.isStreaming =>
        Some(LocalSide(r.data.size, () => r.data))
      case Project(list, child @ Local(side)) if list.forall(evaluable) =>
        Some(side.copy(rows = () => {
          val proj = new InterpretedProjection(list, child.output)
          proj.initialize(0)
          side.rows().map(proj(_))
        }))
      case Filter(cond, child @ Local(side)) if evaluable(cond) =>
        Some(side.copy(rows = () => side.rows().filter(predicate(cond, child.output).eval)))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(JOIN, LOCAL_RELATION)) {
      case j @ Join(Local(l), Local(r), Inner | Cross, cond, _)
          if l.baseRows.toLong * r.baseRows <= MaxPairs && cond.forall(evaluable) =>
        val input = j.left.output ++ j.right.output
        val pred = cond.map(predicate(_, input))
        val out = new InterpretedProjection(j.output, input)
        val joined = new JoinedRow
        val rightRows = r.rows()
        // One pair at a time through the shared JoinedRow; `out` copies
        // each kept pair into its own row.
        val rows = l.rows().flatMap { a =>
          rightRows.iterator.map(joined(a, _))
            .filter(row => pred.forall(_.eval(row))).map(out)
        }
        LocalRelation(j.output, rows)
    }
}
