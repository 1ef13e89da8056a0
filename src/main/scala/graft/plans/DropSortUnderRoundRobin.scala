package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.REPARTITION_OPERATION

/** Optimizer rule: drop a global `Sort` whose direct parent is a
  * round-robin `Repartition(n, shuffle = true)` with `n > 1`.
  *
  * Round-robin repartitioning promises no order: rows are dealt to `n`
  * partitions after a local sort on their own bytes
  * (`spark.sql.execution.sortBeforeRepartition`), so the sorted input
  * order is thrown away. The sort still costs a range exchange, and
  * that exchange's sampling job recomputes the whole subtree below it
  * once more. `df.orderBy(...).repartition(n)` — the shape of
  * `Sinks.loadBalanced` over a sorted result — keeps its rows and loses
  * only the order it never had.
  *
  * Left alone, because they do keep an order:
  *   - `repartition(1)`: a single round-robin partition is read in
  *     input order;
  *   - `RepartitionByExpression` (`repartition(n, col)`, range
  *     partitioning): not a `Repartition` node;
  *   - local sorts (`sortWithinPartitions`): `global = false`;
  *   - `coalesce(n)`: `shuffle = false`, partitions keep their order;
  *   - a sort under any other node (limit, project, ...): not a direct
  *     child.
  */
object DropSortUnderRoundRobin extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(REPARTITION_OPERATION)) {
      case r @ Repartition(n, true, Sort(_, true, child, _)) if n > 1 => r.copy(child = child)
    }
}
