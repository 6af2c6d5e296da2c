package graftbench

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Operator counts of an executed physical plan, stepping into adaptive
  * query stages and subqueries: the exchange, window, broadcast and sort
  * evidence otherwise read by hand from `explain` output. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Map[String, Long] = {
    def count(pf: PartialFunction[SparkPlan, Unit]): Long =
      collectWithSubqueries(plan) { case p if pf.isDefinedAt(p) => p }.size.toLong
    Map(
      "exchanges" -> count { case _: ShuffleExchangeExec => },
      "windows" -> count { case _: WindowExec => },
      "global_windows" -> count { case w: WindowExec if w.partitionSpec.isEmpty => },
      "broadcasts" -> count {
        case _: BroadcastHashJoinExec =>
        case _: BroadcastNestedLoopJoinExec =>
      },
      "sorts" -> count { case _: org.apache.spark.sql.execution.SortExec => })
  }
}
