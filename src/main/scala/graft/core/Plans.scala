package graft.core

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The one walk over an executed physical plan. */
object Plans {

  /** Every node of an executed plan, pre-order, through AQE: an
    * [[AdaptiveSparkPlanExec]] stands for its current plan, and a
    * [[QueryStageExec]] — a leaf whose materialized subtree hangs off
    * `.plan`, not `children` — is followed by that subtree, so nodes
    * inside query stages are not missed the way `plan.collect` misses
    * them. A cached relation's build plan is not entered: an
    * `InMemoryTableScanExec` is a leaf here. */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case p => p +: p.children.flatMap(planNodes)
  }
}
