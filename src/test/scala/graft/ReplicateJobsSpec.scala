package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}

/** The jobs a `Replicate.run` starts: attributed to the caller's job
  * group and description although they run on [[Concurrently]]'s
  * threads, counted, and never left running when an output fails. */
class ReplicateJobsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every job's group and description, and how each ended. */
  private final class Jobs extends SparkListener {
    final case class Job(group: String, description: String)
    val started = new ConcurrentHashMap[Int, Job]()
    val ended = new ConcurrentHashMap[Int, (Long, Boolean)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      started.put(e.jobId, Job(p.getProperty("spark.jobGroup.id"),
        p.getProperty("spark.job.description")))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      ended.put(e.jobId, (e.time, e.jobResult == JobSucceeded))

    def inGroup(group: String): Map[Int, Job] =
      started.asScala.toMap.filter(_._2.group == group)

    /** Waits until every event posted before this call has arrived: a
      * marker job's end queues behind them. */
    def drain(): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup("listener-marker", "marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def seen = inGroup("listener-marker").keys.exists(ended.containsKey)
      while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen, "listener bus did not drain")
    }
  }

  private def listening[T](body: Jobs => T): T = {
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    try body(jobs) finally spark.sparkContext.removeSparkListener(jobs)
  }

  private def inJobGroup[T](group: String, description: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, description, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }

  test("every job of a delta run carries the caller's job group and description") {
    val out = java.nio.file.Files.createTempDirectory("replicate_jobs").toString
    Replicate.run(spark, dir, out, "delta") // warm: the count below is a warm run's
    listening { jobs =>
      jobs.drain()
      val before = jobs.started.asScala.keySet.toSet
      inJobGroup("replicate-spec", "delta run")(Replicate.run(spark, dir, out, "delta"))
      jobs.drain()
      val run = jobs.inGroup("replicate-spec")
      assert(run.nonEmpty)
      assert(run.values.forall(_.description == "delta run"), run)
      // every job started in that window is the run's own
      val others = jobs.started.asScala.keySet.toSet -- before -- run.keySet --
        jobs.inGroup("listener-marker").keySet
      assert(others.isEmpty, s"jobs outside the caller's group: $others")
      // pinned on this fixture; it may only fall
      assert(run.size <= 10, s"${run.size} jobs")
    }
  }

  test("when one output fails, the write throws only after the other output's job has ended") {
    val out = java.nio.file.Files.createTempDirectory("replicate_fail").toString
    // one task that runs until its job is cancelled (a minute at most)
    val untilKilled = udf { (i: Long) =>
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!TaskContext.get().isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
      i
    }
    // fails once the slow output is running
    val failLater = udf { (i: Long) =>
      Thread.sleep(2000)
      if (i >= 0) throw new IllegalStateException("output failed on purpose")
      i
    }
    listening { jobs =>
      val t0 = System.nanoTime()
      val thrown = intercept[Exception] {
        inJobGroup("replicate-fail", "failing write")(Replicate.write(spark, Seq(
          Replicate.Output(spark.range(0, 1, 1, 1).select(untilKilled(col("id")).as("id")),
            Seq("id"), s"$out/slow"),
          Replicate.Output(spark.range(0, 1, 1, 1).select(failLater(col("id")).as("id")),
            Seq("id"), s"$out/failing"))))
      }
      val thrownAt = System.currentTimeMillis()
      assert((System.nanoTime() - t0) / 1e9 < 45, "the slow output was not cancelled")
      assert(Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
        .exists(e => Option(e.getMessage).exists(_.contains("output failed on purpose"))), thrown)
      jobs.drain()
      val run = jobs.inGroup("replicate-fail")
      assert(run.size == 2, run)
      run.keys.foreach { j =>
        assert(jobs.ended.containsKey(j), s"job $j still running")
        val (endedAt, ok) = jobs.ended.get(j)
        assert(!ok, s"job $j succeeded")
        assert(endedAt <= thrownAt, s"job $j ended after the write threw")
      }
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    }
  }
}
