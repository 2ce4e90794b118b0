package graft.streaming

import graft.SparkSpec
import graft.cdc.CdcSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Pins the Spark jobs each data micro-batch of the single-relation MV
  * twins runs on fixed input. The twins share one micro-batch body
  * ([[StreamingSnapshotMerge.attachMv]]); a job added there would run
  * on every batch of every twin, so the counts are pinned exactly. */
class StreamingMvBatchJobsSpec extends SparkSpec {

  import CdcSchema._

  private val batches: Seq[Seq[MvChange]] = Seq(
    Seq(MvChange(1L, 1L, 10L, RowInsert, 10.00, "{}"),
      MvChange(2L, 2L, 20L, RowInsert, 60.00, "{}"),
      MvChange(3L, 3L, 30L, RowInsert, 70.00, "{}"),
      MvChange(4L, 4L, 40L, RowInsert, 120.00, "{}")),
    Seq(MvChange(3L, 5L, 110L, RowDelete, 0.0, "{}"),
      MvChange(5L, 6L, 120L, RowInsert, 170.00, "{}"),
      MvChange(1L, 7L, 130L, RowUpdate, 140.00, "{}")),
    Seq(MvChange(3L, 8L, 50L, RowUpdate, 90.00, "{}"),
      MvChange(6L, 9L, 200L, RowInsert, 220.00, "{}")))

  /** Jobs run by each data micro-batch of the query `attach` starts. */
  private def jobsPerBatch(attach: DataFrame => StreamingQuery): Seq[Int] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val jobs = new BatchJobs
    spark.sparkContext.addSparkListener(jobs)
    val input = MemoryStream[MvChange]
    val q = attach(input.toDF())
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      jobs.drain(spark.sparkContext)
      val per = jobs.perBatch(q.id.toString)
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
        .map(b => per.get(b).fold(0)(_._1))
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("MvMaintain twin: jobs per data micro-batch are pinned") {
    val got = jobsPerBatch(StreamingMvMaintain.attach(_,
      new StreamingSnapshotMerge.InMemorySnapshotStore(spark),
      new StreamingMvMaintain.InMemoryMvStore(spark)))
    assert(got == Seq(9, 12, 12), got)
  }

  test("MvMinMax twin: jobs per data micro-batch are pinned") {
    val got = jobsPerBatch(StreamingMvMinMax.attach(_,
      new StreamingSnapshotMerge.InMemorySnapshotStore(spark),
      new StreamingMvMinMax.InMemoryMvStore(spark)))
    assert(got == Seq(11, 14, 14), got)
  }

  test("MvTopk twin: jobs per data micro-batch are pinned") {
    val got = jobsPerBatch(StreamingMvTopk.attach(_,
      new StreamingSnapshotMerge.InMemorySnapshotStore(spark),
      new StreamingMvTopk.InMemoryMvStore(spark)))
    assert(got == Seq(11, 14, 14), got)
  }

  test("MvJoin twin: jobs per data micro-batch are pinned") {
    // every third event id a dimension write, two segments, so each
    // batch feeds both relations
    val got = jobsPerBatch(StreamingMvJoin.attach(_,
      new StreamingSnapshotMerge.InMemorySnapshotStore(spark),
      new StreamingSnapshotMerge.InMemorySnapshotStore(spark),
      new StreamingMvJoin.InMemoryMvStore(spark),
      isDim = col("event_id") % 3 === 0, segmentOf = col("user_id") % 2))
    assert(got == Seq(18, 25, 25), got)
  }
}
