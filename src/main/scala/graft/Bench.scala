package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one runner of [[SparkEntry]] entries.
  *
  * `runMain graft.Bench` times every entry (the oracle queries and the
  * bench-only probes); `runMain graft.Bench <name> ...` times only the
  * named ones. Each entry's time splits into build (composing its
  * frame, eager checkpoints included) and exec (writing it to the noop
  * sink), and a listener sums the work of its jobs through the job
  * groups it runs under.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_BENCH_PASSES
  * (default 3), SPARK_GRAFT_BENCH_OUT (default BENCH_LATEST.json at the
  * repo root). */
object Bench {

  /** Job group of the jobs a run starts outside its entries. */
  val SetupGroup = "bench/setup"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    // Anchor the durable artifact: SPARK_GRAFT_BENCH_OUT wins, else the
    // repo root (not the JVM cwd — run from anywhere else and the copy
    // the round tooling reads would go stale silently).
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_LATEST.json"))
      .toAbsolutePath
    try run(spark, sfDir, args.toSeq, passes, outPath) finally spark.stop()
  }

  /** Work of a set of jobs, summed over their tasks. */
  final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
      cpuNs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      taskMs + o.taskMs, cpuNs + o.cpuNs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  }

  /** Sums the work of every job by the job group it started under ("" for
    * none). A stage's tasks count toward the job that first listed it. */
  final class WorkListener extends SparkListener {
    private val byGroup = new ConcurrentHashMap[String, Work]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()

    private def add(group: String, w: Work): Unit = byGroup.merge(group, w, _ + _)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      e.stageIds.foreach(stageGroup.putIfAbsent(_, group))
      add(group, Work(jobs = 1))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageGroup.getOrDefault(e.stageInfo.stageId, ""), Work(stages = 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      add(stageGroup.getOrDefault(e.stageId, ""),
        if (m == null) Work(tasks = 1)
        else Work(tasks = 1, taskMs = m.executorRunTime, cpuNs = m.executorCpuTime,
          shuffleBytes = m.shuffleWriteMetrics.bytesWritten, spillBytes = m.diskBytesSpilled))
    }

    /** Work by group, as far as the events delivered so far tell. */
    def work: Map[String, Work] = byGroup.asScala.toMap
  }

  /** Waits until the listener bus has delivered every event posted so
    * far (the wait is private to Spark, public in bytecode). */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Runs one entry: builds its frame under job group `<group>/build`,
    * hands it to `sink` under `<group>/exec`, then drops every persisted
    * RDD. About 20 operators checkpoint an intermediate frame; their
    * blocks, kept for the session, squeeze the heap until storage
    * eviction and GC churn dominate (measured: emb_kmeans 59 s in-suite
    * vs 2.4 s isolated). Returns the build and exec seconds, or None
    * once a failure is reported under `tag`. */
  def runEntry(spark: SparkSession, tag: String, name: String, group: String)(
      build: => DataFrame)(sink: DataFrame => Unit): Option[(Double, Double)] = {
    val sc = spark.sparkContext
    def timed[T](phase: String)(body: => T): (T, Double) = {
      sc.setJobGroup(s"$group/$phase", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    try {
      val (df, buildS) = timed("build")(build)
      Some((buildS, timed("exec")(sink(df))._2))
    } catch { case e: Throwable =>
      System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      None
    } finally {
      sc.clearJobGroup()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }

  /** Times `names` (every entry when empty) over `passes` full passes,
    * prints the stdout contract and writes the artifact to `out`. An
    * unknown name fails before anything runs. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], passes: Int,
      out: java.nio.file.Path): Unit = {
    val all = SparkEntry.queries ++ SparkEntry.benchQueries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")
    val ordered =
      if (names.isEmpty) SparkEntry.queries.toSeq ++ SparkEntry.benchQueries.toSeq
      else names.distinct.map(n => n -> all(n))
    val sc = spark.sparkContext
    val listener = new WorkListener
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(SetupGroup, "warm-up", interruptOnCancel = false)
      // warm the JVM/codegen/scheduler AND the parquet-read + noop-write
      // paths so the first measured query doesn't absorb session startup
      // (map iteration order is arbitrary — whatever runs first would
      // otherwise carry ~2 s of one-time init)
      spark.range(1000000).selectExpr("sum(id)").collect()
      // first-touch EVERY table: a cold page-cache read of the largest
      // parquet charged 4-7 s to whichever query happened to scan it
      // first (measured: cdc_replicate_lww 8.3 s in-suite vs 1.2 s warm)
      Tables.names.foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet")
          .write.format("noop").mode("overwrite").save()
      }
      // pre-build the standing indices the bench-only probe entries
      // search (untimed — the probe entries exist precisely to time
      // load+search WITHOUT this build; the end-to-end build entries
      // keep their own timing)
      if (ordered.exists(e => SparkEntry.benchQueries.contains(e._1)))
        SparkEntry.benchPrepare(spark, sfDir)
      sc.clearJobGroup()
      // FULL PASSES over the whole suite, per-query min ACROSS passes
      // (not back-to-back reps): this host is a VM whose multi-second
      // scheduler stalls span adjacent runs, so consecutive reps both
      // absorb the same pause (measured: random queries spiking 10-25 s
      // in-suite vs 0.6-2 s isolated, different queries each bench run).
      // A stall lands on different queries in each pass; the cross-pass
      // min recovers the real per-plan cost at identical total work.
      // Three passes by default — round 3 showed one stall can still
      // straddle two (SPARK_GRAFT_BENCH_PASSES overrides).
      // INTERLEAVE: each pass runs the suite in a different (seeded,
      // reproducible) permutation. A VM stall spans several adjacent
      // queries in wall-time; with the same order every pass, the same
      // neighborhood absorbs it each time and min-of-passes can't shed
      // it. Shuffling per pass decorrelates adjacency, so a query's
      // cross-pass min reflects its own plan, and tools/bench_diff.py's
      // non-overlapping-pass-range test separates real regressions
      // (slower in EVERY permutation) from noisy neighbors.
      // noop sink: forces full materialization of every output column —
      // a bare count() would let Catalyst prune the computed columns
      // and under-report map-only queries.
      val allPasses: Seq[Map[String, Option[(Double, Double)]]] =
        (1 to passes).map { p =>
          val perm = new scala.util.Random(p.toLong).shuffle(ordered)
          perm.map { case (n, fn) =>
            n -> runEntry(spark, "bench", n, s"$n/pass$p")(fn(spark, sfDir))(
              _.write.format("noop").mode("overwrite").save())
          }.toMap
        }
      drain(sc)
      report(sfDir, ordered.map(_._1), allPasses, listener.work, out)
    } finally sc.removeSparkListener(listener)
  }

  /** Prints the stdout contract and writes the artifact. Failed passes
    * read -1, and an entry with one reads -1 as its min. */
  private def report(sfDir: String, names: Seq[String],
      allPasses: Seq[Map[String, Option[(Double, Double)]]],
      work: Map[String, Work], out: java.nio.file.Path): Unit = {
    def wall(n: String, p: Int): Double = allPasses(p)(n).fold(-1.0)(t => t._1 + t._2)
    val results: Map[String, Double] = names.map { n =>
      val ts = allPasses.indices.map(wall(n, _))
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }.toMap
    def entryWork(n: String, p: Int): Work = Seq("build", "exec")
      .map(ph => work.getOrElse(s"$n/pass${p + 1}/$ph", Work())).reduce(_ + _)
    def f(d: Double): String = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = names.map(n => s"\"" + n + "\":" + f(results(n))).mkString("{", ",", "}")
    // failures are recorded as -1 markers; they must not skew the total
    val total = results.values.filter(_ >= 0).sum
    // A SHORT (<200 char) headline FIRST: the round tooling's log
    // capture has twice (r6, r7) stored a window that beheads the long
    // contract line mid-queries-map and parsed nothing — whichever
    // metric line its parser picks (first or last), a short standalone
    // copy is now at BOTH ends of the output.
    val headline =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${names.size},"sf":"$sfDir"}"""
    println(headline)
    // …the full one-line driver contract (per-query seconds inline)…
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // …and the full structured artifact to a FILE (one query per line):
    // log-tail capture truncated round 3's 87-entry line to 64 entries,
    // so the durable copy lives on disk where truncation can't happen.
    // Each entry's work and build/exec split come from its fastest pass.
    val passTotals = allPasses.indices.map(p => names.map(wall(_, p)).filter(_ >= 0).sum)
    val perQuery = names.map { n =>
      val best = allPasses.indices.minBy(p => allPasses(p)(n).fold(Double.MaxValue)(t => t._1 + t._2))
      val (buildS, execS) = allPasses(best)(n).getOrElse((-1.0, -1.0))
      val w = entryWork(n, best)
      val passes = allPasses.indices.map(p => f(wall(n, p))).mkString(", ")
      s"""    "$n": {"min": ${f(results(n))}, "passes": [$passes], "build_s": ${f(buildS)}, """ +
        s""""exec_s": ${f(execS)}, "jobs": ${w.jobs}, "stages": ${w.stages}, """ +
        s""""tasks": ${w.tasks}, "task_s": ${f(w.taskMs / 1e3)}, "cpu_s": ${f(w.cpuNs / 1e9)}, """ +
        s""""shuffle_mb": ${f(w.shuffleBytes / 1e6)}, "spill_mb": ${f(w.spillBytes / 1e6)}}"""
    }.mkString(",\n")
    // every job the listener saw: the setup's, each pass's entries', and
    // any that carried no group of this run (none, when attribution holds)
    val passJobs = allPasses.indices.map(p => names.map(entryWork(_, p).jobs).sum)
    val setupJobs = work.get(SetupGroup).fold(0L)(_.jobs)
    val totalJobs = work.values.map(_.jobs).sum
    val jobs = s"""{"total": $totalJobs, "setup": $setupJobs, "passes": [${passJobs.mkString(", ")}], """ +
      s""""unattributed": ${totalJobs - setupJobs - passJobs.sum}}"""
    val fileJson =
      s"""{
         |  "metric": "total",
         |  "value": ${f(total)},
         |  "unit": "sec",
         |  "sf": "$sfDir",
         |  "n_queries": ${names.size},
         |  "n_passes": ${allPasses.size},
         |  "pass_totals": [${passTotals.map(f).mkString(", ")}],
         |  "jobs": $jobs,
         |  "generated_at": "${java.time.Instant.now()}",
         |  "queries": {
         |$perQuery
         |  }
         |}
         |""".stripMargin
    java.nio.file.Files.writeString(out, fileJson)
    // stdout, not stderr: sbt tags stderr lines [error], which reads as
    // a failure in the round artifact's log tail.
    println(s"[bench] wrote $out")
    // CHUNKED per-query lines (r13 verdict: the driver's PERF compare
    // captures only a ~3 KB output TAIL, which beheads the 6 KB
    // one-line queries map and left PERF_r13 with per_query: {}).
    // Each line below is a complete JSON object keyed "per_query"
    // holding a SUBSET of the map; a parser that merges every
    // {"per_query": ...} line it sees reconstructs the full map, and a
    // truncated tail still yields whole chunks (the earliest, beheaded
    // line is simply unparseable and skipped). Additions-only: nothing
    // about the timing or the existing contract lines changed.
    // a single complete line first (parses whole when the capture
    // window is large enough)…
    println(s"""{"per_query":$qs}""")
    // …then the chunks, for the 3 KB-tail case
    names.grouped(40).zipWithIndex.foreach { case (chunk, i) =>
      val m = chunk.map(n => s"\"" + n + "\":" + f(results(n))).mkString("{", ",", "}")
      println(s"""{"per_query":$m,"chunk":${i + 1},"n_chunks":${(names.size + 39) / 40}}""")
    }
    // …and the same short headline LAST, so a pure tail window ends on
    // a parseable line too.
    println(headline)
  }
}
