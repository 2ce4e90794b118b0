package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec

/** Counts over a DataFrame's physical plan — the initial adaptive plan,
  * counted before execution. */
object PlanShape extends AdaptiveSparkPlanHelper {

  /** (Exchange, Window, Sort) nodes. */
  def of(df: DataFrame): (Int, Int, Int) =
    (nodes(df) { case e: Exchange => e }, nodes(df) { case w: WindowExec => w },
      nodes(df) { case s: SortExec => s })

  /** Plan nodes that `f` matches. */
  def nodes(df: DataFrame)(f: PartialFunction[SparkPlan, Any]): Int =
    collect(df.queryExecution.executedPlan)(f).size

  /** Expression nodes, in every plan node's expressions, that `f` matches. */
  def expressions(df: DataFrame)(f: PartialFunction[Expression, Any]): Int =
    collect(df.queryExecution.executedPlan) { case p => p }
      .map(_.expressions.map(_.collect(f).size).sum).sum
}
