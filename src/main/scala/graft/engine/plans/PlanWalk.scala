package graft.engine.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The one physical-plan walker: every node of a plan, pre-order,
  * piercing adaptive execution. `AdaptiveSparkPlanExec` and the query
  * stages are leaves to Spark's own `collect`/`foreach`, so a plain
  * traversal stops at them and a plan-shape check passes vacuously;
  * here the walk descends into the current executed plan and into each
  * stage's plan (the final plan once the query has run).
  */
object PlanWalk {
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }
    p +: kids.flatMap(nodes)
  }
}
