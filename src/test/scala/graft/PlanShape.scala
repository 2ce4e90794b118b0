package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec

/** (Exchange, Window, Sort) nodes of a DataFrame's physical plan — the
  * initial adaptive plan, counted before execution. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): (Int, Int, Int) = {
    val p = df.queryExecution.executedPlan
    (collect(p) { case e: Exchange => e }.size,
      collect(p) { case w: WindowExec => w }.size,
      collect(p) { case s: SortExec => s }.size)
  }
}
