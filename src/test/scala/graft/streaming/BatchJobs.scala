package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted}

/** Spark jobs run by streaming micro-batches, keyed by the query id and
  * batch id that Structured Streaming puts in each job's properties.
  * Register with `SparkContext.addSparkListener`; call [[drain]] before
  * reading, since listener events arrive asynchronously. */
final class BatchJobs extends SparkListener {
  import BatchJobs.{Job, MarkerKey}

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val ran = ConcurrentHashMap.newKeySet[Integer]()
  private val ended = ConcurrentHashMap.newKeySet[Integer]()
  private val markers = ConcurrentHashMap.newKeySet[Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).foreach { p =>
      if (p.getProperty(MarkerKey) != null) markers.add(e.jobId)
      for (q <- Option(p.getProperty("sql.streaming.queryId"));
           b <- Option(p.getProperty("streaming.sql.batchId")))
        jobs.put(e.jobId, Job(q, b.toLong, e.stageIds))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    ran.add(e.stageInfo.stageId)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)

  /** Waits until every event posted before this call has reached the
    * listener: runs a marker job, whose end event queues behind them. */
  def drain(sc: SparkContext): Unit = {
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!markers.asScala.exists(ended.contains) && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(markers.asScala.exists(ended.contains), "listener bus did not drain")
  }

  /** Per batch of the query: (jobs run, stages run). Stages a job
    * skipped because their shuffle output already existed don't count. */
  def perBatch(queryId: String): Map[Long, (Int, Int)] =
    jobs.values.asScala.toSeq.filter(_.query == queryId).groupBy(_.batch).map { case (b, js) =>
      b -> ((js.size, js.flatMap(_.stageIds).distinct.count(s => ran.contains(s))))
    }
}

object BatchJobs {
  private final case class Job(query: String, batch: Long, stageIds: Seq[Int])
  private val MarkerKey = "graft.spec.listenerMarker"
}
