package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

object PlanOps {

  /** Every operator of an executed plan, AQE stages included. */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => s +: operators(s.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(operators)
  }
}
