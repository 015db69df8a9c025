package graft.core

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Tree walks over an executed physical plan, for checks that must
  * hold whatever the plan's rendered text says (the text is cut at
  * [[SessionTune.MaxPlanText]] characters). The walk reaches what a
  * `formatted` description prints: an AQE plan's initial and current
  * plans, query stages, reused exchanges, and every subquery (the
  * DPP and runtime bloom-filter builds live there). It plans nothing
  * and runs no job. */
object Plans {

  /** Every node of `plan`, itself first. */
  def nodes(plan: SparkPlan): Iterator[SparkPlan] = {
    val inner = plan match {
      case a: AdaptiveSparkPlanExec =>
        if (a.executedPlan eq a.initialPlan) Seq(a.initialPlan)
        else Seq(a.initialPlan, a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case p => p.children
    }
    Iterator.single(plan) ++
      (inner ++ plan.subqueries).iterator.flatMap(nodes)
  }

  /** Every expression node held by any node of `plan`. */
  def expressions(plan: SparkPlan): Iterator[Expression] =
    nodes(plan).flatMap(_.expressions.iterator.flatMap(e =>
      e.collect { case x => x }))
}
