package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[Bench]] as a runner: the artifact it writes, the work it records
  * per entry, and the job groups its entries' jobs carry. */
class BenchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every job's group, by job id. */
  private final class Groups extends SparkListener {
    val byJob = new ConcurrentHashMap[Int, String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      byJob.put(e.jobId, Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(""))
    def all: Seq[String] = byJob.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  private def listening[T](body: Groups => T): T = {
    val groups = new Groups
    spark.sparkContext.addSparkListener(groups)
    try body(groups) finally spark.sparkContext.removeSparkListener(groups)
  }

  private def drain(): Unit = Bench.drain(spark.sparkContext)

  test("a named run keeps every artifact key and attributes every job to its entry") {
    val out = Files.createTempFile("bench", ".json")
    val names = Seq("q1_agg", "q_median")
    val groups = listening { groups =>
      Bench.run(spark, dir, names, 1, out)
      drain()
      groups.all
    }
    val json = new ObjectMapper().readTree(out.toFile)
    Seq("metric", "value", "unit", "sf", "n_queries", "n_passes", "pass_totals",
      "generated_at", "queries").foreach(k => assert(json.has(k), k))
    val queries = json.get("queries")
    assert(queries.fieldNames.asScala.toSet == names.toSet)
    names.foreach { n =>
      val q = queries.get(n)
      Seq("min", "passes", "build_s", "exec_s", "jobs", "stages", "tasks", "task_s", "cpu_s",
        "shuffle_mb", "spill_mb").foreach(k => assert(q.has(k), s"$n lacks $k"))
      assert(q.get("jobs").asLong >= 1, s"$n: ${q.get("jobs")} jobs")
      assert(q.get("min").asDouble > 0)
      assert(math.abs(q.get("min").asDouble - q.get("build_s").asDouble -
        q.get("exec_s").asDouble) < 0.002, s"$n: min is not build + exec")
    }
    // q_median checkpoints while its frame is built
    assert(groups.count(_ == "q_median/pass1/build") >= 1, groups)
    // every job started during the run is the setup's or an entry's,
    // and the entries' jobs add up to the ones counted here
    val entryJobs = groups.count(g => names.exists(n => g.startsWith(s"$n/pass1/")))
    assert(groups.forall(g => g == Bench.SetupGroup || names.exists(n => g.startsWith(s"$n/"))),
      groups.distinct)
    assert(names.map(queries.get(_).get("jobs").asLong).sum == entryJobs)
    assert(json.get("jobs").get("passes").get(0).asLong == entryJobs)
    assert(json.get("jobs").get("unattributed").asLong == 0)
  }

  test("an unknown entry name fails before any entry runs") {
    val out = Files.createTempFile("bench_unknown", ".json")
    Files.delete(out)
    val groups = listening { groups =>
      val e = intercept[IllegalArgumentException](
        Bench.run(spark, dir, Seq("q1_agg", "no_such_entry"), 1, out))
      assert(e.getMessage.contains("no_such_entry"))
      drain()
      groups.all
    }
    assert(groups.isEmpty, groups)
    assert(!Files.exists(out))
  }

  /** An entry that fans out composes its frames on pool threads; the
    * jobs those threads start must carry the job group of the entry
    * being run, not of whichever entry first made a pool thread. */
  test("a fanned-out entry's jobs carry the job group of the run, not an earlier one") {
    def runIn(group: String, name: String): Unit = {
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      try SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      finally spark.sparkContext.clearJobGroup()
    }
    val groups = listening { groups =>
      runIn("entry-a", "er_blocking_sweep")
      drain()
      val before = groups.byJob.keySet.asScala.toSet
      runIn("entry-b", "corpus_clean_stats")
      drain()
      groups.byJob.asScala.filter { case (j, _) => !before(j) }.values.toSeq
    }
    assert(groups.nonEmpty)
    assert(groups.forall(_ == "entry-b"), groups.groupBy(identity).map(g => g._1 -> g._2.size))
  }
}
