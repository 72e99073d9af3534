package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Row counts read from an executed plan's SQL metrics. */
object PlanRows {

  /** Row count flowing into `p`: the first node at or below it that
    * counts its output rows.
    */
  def into(p: SparkPlan): Long = p match {
    case q: QueryStageExec => into(q.plan)
    case r: ReusedExchangeExec => into(r.child)
    case _ => p.metrics.get("numOutputRows") match {
      case Some(m) => m.value
      case None =>
        require(p.children.size == 1, s"no row count below ${p.nodeName}")
        into(p.children.head)
    }
  }
}
