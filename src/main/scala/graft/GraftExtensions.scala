package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ExpressionInfo, Multiply, Sqrt}
import graft.functions.DotProduct

/** Session extension registering graft's native expressions as SQL
  * functions, so `spark.sql("SELECT vec_dot(a, b) ...")` plans the
  * codegen'd kernel directly. Install with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` —
  * GraftSession does this by default — or via
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // point-in-interval joins: plain inner joins with `k = k_r AND
    // lo <= t AND t <= hi` re-plan through the co-partitioned merge
    // exec (rule rewrites the logical join, strategy plans the node)
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // a global sort straight under a round-robin repartition(n > 1) is
    // thrown away by it; drop the sort and its range exchange
    e.injectOptimizerRule(_ => graft.plans.DropSortUnderRoundRobin)
    e.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_cosine"),
      (exprs: Seq[Expression]) =>
        Divide(DotProduct(exprs(0), exprs(1)),
          Multiply(Sqrt(DotProduct(exprs(0), exprs(0))),
            Sqrt(DotProduct(exprs(1), exprs(1)))))))
  }
}
