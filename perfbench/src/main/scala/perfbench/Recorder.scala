package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs, Literal}
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage totals, summed over the stage's tasks. */
final class StageRec(val stageId: Int) {
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskDurations = mutable.ArrayBuffer.empty[Long]
}

/** Shape counts of one executed plan. */
final case class PlanCounts(exchanges: Int, sortMergeJoins: Int, bnlJoins: Int, fromJson: Int) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(exchanges + o.exchanges,
    sortMergeJoins + o.sortMergeJoins, bnlJoins + o.bnlJoins, fromJson + o.fromJson)
}

object PlanCounts {
  val zero: PlanCounts = PlanCounts(0, 0, 0, 0)

  /** Every node of a physical plan, looking through adaptive plans
    * (their final plan), query stages and command wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def isFromJson(e: Expression): Boolean = e match {
    case _: JsonToStructs => true
    case i: Invoke => i.targetObject match {
      case Literal(_: JsonToStructsEvaluator, _) => true
      case _ => false
    }
    case _ => false
  }

  def of(plan: SparkPlan): PlanCounts = {
    val ns = nodes(plan)
    PlanCounts(
      ns.count(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike]),
      ns.count(_.isInstanceOf[SortMergeJoinExec]),
      ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      ns.map(_.expressions.map(_.collect { case e if isFromJson(e) => e }.size).sum).sum)
  }
}

/** A timed, named region of the benchmark. Spark jobs started inside
  * it carry its id as their job group, so the listener can attribute
  * them. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startNs: Long, endNs: Long)

/** Listens to the Spark scheduler and SQL executions of one session
  * and keeps what the benchmark reports per layer. */
final class Recorder(spark: SparkSession, val runId: String) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  @volatile var plans: PlanCounts = PlanCounts.zero
  @volatile var planEvents = 0

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = PlanCounts.of(qe.executedPlan)
      Recorder.this.synchronized { plans = plans + c; planEvents += 1 }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Start listening; what was recorded before is kept. */
  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  /** Stop listening, once every event so far has arrived. */
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobGroup.put(e.jobId, group.getOrElse(""))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val r = stages.computeIfAbsent(e.stageId, id => new StageRec(id))
    r.synchronized {
      r.tasks += 1
      r.taskDurations += e.taskInfo.duration
      if (m != null) {
        r.taskMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  /** Jobs whose group satisfies `keep`, and their completed stages. */
  def jobsWhere(keep: String => Boolean): (Seq[Int], Seq[StageRec]) = {
    drain()
    val jobs = jobGroup.asScala.collect { case (j, g) if keep(g) => j }.toSeq.sorted
    val jobSet = jobs.toSet
    val st = stageJob.asScala.collect { case (s, j) if jobSet(j) => s }.toSeq.sorted
      .flatMap(s => Option(stages.get(s)))
    (jobs, st)
  }

  // ---- spans ---------------------------------------------------------
  private val spanList = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private val stack = mutable.Stack.empty[Int]

  def spans: Seq[Span] = synchronized(spanList.toList)

  /** Time `body` as a span; its jobs run under job group
    * `<runId>:<spanId>`. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val (id, parent) = synchronized { nextSpan += 1; (nextSpan, stack.headOption.getOrElse(0)) }
    stack.push(id)
    sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(groupOf(p), name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      synchronized { spanList += Span(id, name, layer, parent, t0, t1) }
    }
  }

  def groupOf(spanId: Int): String = s"$runId:$spanId"
}

/** The heap a workload keeps live: old-generation occupancy right
  * after a full collection, which the harness forces between
  * operations (untimed). The peak is the largest such reading. */
object HeapPeak {
  @volatile private var peak = 0L

  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old") || p.getName.contains("Tenured"))

  def sample(): Unit = {
    // the second collection frees what the first made Spark's context
    // cleaner release (its weak references to shuffles and broadcasts)
    System.gc()
    Thread.sleep(100)
    System.gc()
    oldGen.foreach(p => peak = math.max(peak, p.getUsage.getUsed))
  }

  def reset(): Unit = { peak = 0L }

  def peakMb(): Double = peak / 1048576.0
}
