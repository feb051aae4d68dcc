package graft.plans

import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LOCAL_RELATION, SORT}

/** Optimizer rule sorting a global `Sort` over a `LocalRelation` on the
  * driver, into a `LocalRelation` of the sorted rows — the `Sort` case
  * Spark's own `ConvertToLocalRelation` lacks (it folds `Project`,
  * `Filter` and `Limit` over driver-held rows, but a sort still plans a
  * range exchange and runs its jobs). With it, a served `find`'s
  * `orderBy.limit` and the `show`/`trace` tails over driver-held rows
  * fold to one `LocalRelation` and run no Spark job.
  *
  * Same order as Spark's distributed sort: the rows are compared by
  * Spark's own row ordering over the same `SortOrder`s (direction, null
  * placement, NaN above every double, -0.0 equal to 0.0, strings by
  * their UTF-8 bytes). The sort is stable, so rows that tie keep their
  * relation order, one of the orders a distributed sort may produce.
  *
  * It fires only on a global sort (`sortWithinPartitions` keeps its
  * per-partition contract) whose order expressions are deterministic
  * and evaluable on the driver, over a batch relation.
  */
object SortLocalRelation extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsAllPatterns(SORT, LOCAL_RELATION)) {
      case Sort(order, true, LocalRelation(output, data, false, stream), _)
          if order.forall(o => o.child.deterministic &&
            !ConvertToLocalRelation.hasUnevaluableExpr(o.child)) =>
        val ordering = new InterpretedOrdering(order, output)
        LocalRelation(output, data.sorted(ordering), isStreaming = false, stream)
    }
}
