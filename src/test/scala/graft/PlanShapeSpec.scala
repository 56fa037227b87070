package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec

/** The plan shapes the 100 TB design relies on, at sf0.001: parquet
  * filter pushdown, broadcast joins where a dimension is small, and the
  * partial + final aggregate split. Plans are analyzed only; no query
  * runs. The flags are the ones PLANS.md records for these queries. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(FormattedMode)

  private def pushedFilters(plan: String): Boolean =
    plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []")

  test("tso and key predicates push into the parquet scan") {
    Seq("q05_min_tso", "q08_asof_range_join", "q09_hash_join",
        "q22_kway_merge").foreach { q =>
      val p = plan(q)
      assert(pushedFilters(p), s"$q pushes no filter:\n$p")
    }
  }

  test("small dimensions join by broadcast") {
    Seq("q08_asof_range_join", "q09_hash_join").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q has no broadcast join:\n$p")
    }
  }

  test("grouped aggregation splits into partial and final hash aggregates") {
    val physical = SparkEntry.queries("q16_metrics")(spark, sf)
        .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val modes = physical.collect { case h: HashAggregateExec =>
      h.aggregateExpressions.map(_.mode) }.flatten.toSet
    assert(modes.contains(Partial) && modes.contains(Final),
      s"q16_metrics aggregate modes $modes:\n$physical")
  }
}
