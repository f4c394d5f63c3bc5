package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}

/** Physical-plan shape for plan pins, AQE-aware: the traversal descends
  * through `AdaptiveSparkPlanExec` and its query stages, so the same
  * count reads the initial plan before execution and the final plan
  * after it.
  */
object PlanShape extends AdaptiveSparkPlanHelper {

  def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(p) { case e: ShuffleExchangeExec => e }

  def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    shuffles(df.queryExecution.executedPlan)

  def broadcasts(p: SparkPlan): Seq[BroadcastExchangeExec] =
    collect(p) { case e: BroadcastExchangeExec => e }
}
