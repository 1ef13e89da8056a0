package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.DropSortUnderRoundRobin

class DropSortUnderRoundRobinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def base: DataFrame =
    spark.range(0, 2000, 1, 3).select(((col("id") * 7919) % 1009).as("k"), col("id"))

  private def sorts(plan: LogicalPlan): Seq[Sort] = plan.collect { case s: Sort => s }

  test("a global sort under a round-robin repartition(n > 1) is dropped; rows are kept") {
    val df = base.orderBy("k", "id").repartition(4)
    assert(sorts(df.queryExecution.optimizedPlan).isEmpty, df.queryExecution.optimizedPlan.treeString)
    assert(!df.queryExecution.executedPlan.toString.contains("rangepartitioning"))
    assert(df.rdd.getNumPartitions == 4)
    assert(df.collect().sortBy(r => (r.getLong(0), r.getLong(1))).toSeq ==
      base.orderBy("k", "id").collect().toSeq)
  }

  test("shapes that keep an order keep their sort") {
    val kept = Seq(
      "orderBy.repartition(1)"      -> base.orderBy("k", "id").repartition(1),
      "orderBy.repartition(4, col)" -> base.orderBy("k", "id").repartition(4, col("k")),
      "sortWithinPartitions"        -> base.sortWithinPartitions("k").repartition(4),
      "orderBy.limit(k)"            -> base.orderBy("k", "id").limit(50).repartition(4),
      "orderBy.coalesce(2)"         -> base.orderBy("k", "id").coalesce(2))
    kept.foreach { case (name, df) =>
      val analyzed = df.queryExecution.analyzed
      assert(sorts(analyzed).nonEmpty)
      assert(DropSortUnderRoundRobin(analyzed).fastEquals(analyzed), s"$name: the rule rewrote it")
    }
    // Spark's own optimizer already drops a sort under a hash
    // repartition; every other shape must still plan its sort
    kept.filterNot(_._1 == "orderBy.repartition(4, col)").foreach { case (name, df) =>
      val optimized = df.queryExecution.optimizedPlan
      assert(sorts(optimized).nonEmpty, s"$name lost its sort:\n${optimized.treeString}")
    }
  }

  test("repartition(1) over a global sort still reads back in sorted order") {
    assert(base.orderBy("k", "id").repartition(1).collect().toSeq ==
      base.orderBy("k", "id").collect().toSeq)
  }
}
