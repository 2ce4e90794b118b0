package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** The benchmark's JVM side: sets up a session, runs one workload and
  * writes everything it measured to `<run-dir>/result.json`.
  *
  * Usage: `perfbench.Main --workload W --seconds S --trace 0|1
  *   --cores N --seed K --run-dir D --setup-reps R --op-timeout T`
  * with the workload's inputs under `D/in` and the small probe inputs
  * under `D/probe`. `perfbench/run.py` generates the inputs, runs this
  * and turns the result into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val runDir = opts("run-dir")
    val w = Workloads(workload)
    val start = System.nanoTime()
    val timeline = mutable.LinkedHashMap.empty[String, Double]
    def mark(phase: String): Unit = timeline(phase) = Guard.secondsSince(start)

    val setup = setUp(cores, runDir, opts("setup-reps").toInt)
    val spark = SparkSession.active
    val ctx = new Ctx(spark, runDir, opts("seed").toLong, cores,
      opts("op-timeout").toDouble)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores, "setup" -> setup)

    // a traced run does single operations (ctx.fixedOps), so counts repeat
    if (trace) ctx.fixedOps = 1
    result("prime_error") = try { w.prime(ctx); null } catch { case e: Exception => e.toString }
    mark("setup_and_prime")
    HeapPeak.reset()
    val (phase, recorder) = if (!trace) (w.measure(ctx, seconds, None), None) else {
      // untraced and traced operations alternate, so warm-up drift falls
      // on both sides alike; the difference between them is the tracing
      // overhead
      val rec = new Recorder(spark, s"perfbench-${ProcessHandle.current().pid()}")
      val rounds = (1 to w.tracedOps).map { _ =>
        val base = w.measure(ctx, seconds / 2 / w.tracedOps, None)
        rec.attach()
        val t0 = System.nanoTime()
        val traced = w.measure(ctx, seconds / 2 / w.tracedOps, Some(rec))
        val tracedS = Guard.secondsSince(t0)
        rec.detach()
        (base, traced, tracedS)
      }
      val traced = Phase.concat(rounds.map(_._2))
      result("untraced") = phaseMap(Phase.concat(rounds.map(_._1)))
      result("layers") = layerStats(rec, traced, workload) + ("phase_s" -> rounds.map(_._3).sum)
      (traced, Some(rec))
    }
    HeapPeak.sample()
    result("heap_peak_mb") = HeapPeak.peakMb()
    mark("measure")
    result ++= phaseMap(phase)

    val (checks, oracle) = try w.checks(ctx, phase) catch {
      case e: Exception => (Seq(Check("checks", ok = false, e.toString)), Nil)
    }
    result("checks") = checks.map(_.toMap)
    result("oracle") = oracle.map(_.toMap)
    mark("checks")

    recorder.foreach { rec =>
      result ++= probe(ctx, rec, workload, phase)
      mark("probes")
      result("probe_scaling") = Probes.coreScaling(ctx)
      mark("core_scaling")
    }
    result("timeline") = timeline
    Files.writeString(Paths.get(s"$runDir/result.json"), Json.render(result))
    SparkSession.active.stop()
  }

  /** Set up `reps` times: start the session and scan every input. All
    * but the last session are stopped again. */
  private def setUp(cores: Int, runDir: String, reps: Int): Seq[Map[String, Any]] =
    (1 to reps).map { i =>
      val t0 = System.nanoTime()
      val spark = Sessions.builder(cores).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val sessionS = Guard.secondsSince(t0)
      val t1 = System.nanoTime()
      val inputs = Option(new java.io.File(s"$runDir/in").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      if (inputs.isEmpty) spark.range(1000).write.format("noop").mode("overwrite").save()
      inputs.foreach(f => spark.read.parquet(f.getPath).write.format("noop").mode("overwrite").save())
      val warmS = Guard.secondsSince(t1)
      if (i < reps) spark.stop()
      Map("session_s" -> sessionS, "warm_s" -> warmS)
    }

  /** The traced run's layer probes, all under the recorder. */
  private def probe(ctx: Ctx, rec: Recorder, workload: String, phase: Phase): Map[String, Any] = {
    rec.attach()
    val probes = new Probes(ctx, rec)
    val out = mutable.LinkedHashMap[String, Any](
      "probe_cdc" -> probes.cdc(),
      "probe_pipeline" -> probes.pipeline(),
      "probe_functions" -> probes.functions())
    val stream =
      if (workload == "stream") phase.extra
      else rec.span("stream.probe", "streaming")(StreamWorkload.run(ctx, 3.0,
        StreamWorkload.shape.copy(twinSeconds = 3.0, burst = 5000, bursts = 1), "probe")).extra
    out("probe_stream") = stream - "checks"
    out("stream_jobs") = Seq("consumer", "twin").map { q =>
      val ids = runIdsOf(stream, q)
      q -> rec.jobsWhere(ids.contains)._1.size
    }.toMap
    out("entry_calls") = probes.entryCalls.map { case (n, b, e) =>
      Map("name" -> n, "build_s" -> b, "exec_s" -> e)
    }
    out("spans") = rec.spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    rec.detach()
    out.toMap
  }

  private def phaseMap(p: Phase): Map[String, Any] = Map(
    "ops" -> p.ops.map(_.toMap),
    "extra" -> (p.extra - "checks"),
    "batches" -> p.batches,
    "failures" -> p.failures)

  /** The streaming query run ids a stream phase reported for `query`. */
  private def runIdsOf(extra: Map[String, Any], query: String): Seq[String] =
    extra.get(query).toSeq.flatMap(_.asInstanceOf[Map[String, Any]]("run_ids").asInstanceOf[Seq[String]])

  /** Scheduler totals of the traced phase's jobs: those its spans
    * started, and for the stream those its streaming queries ran. */
  private def layerStats(rec: Recorder, p: Phase, workload: String): Map[String, Any] = {
    val runIds = runIdsOf(p.extra, "consumer") ++ runIdsOf(p.extra, "twin")
    val (jobs, stages) = rec.jobsWhere(g => g.startsWith(rec.runId + ":") || runIds.contains(g))
    val largestShuffle = stages.filter(_.shuffleBytes > 0).sortBy(-_.shuffleBytes).headOption
    val skew = largestShuffle.map { s =>
      val d = s.taskDurations.sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }.getOrElse(1.0)
    Map(
      "operations" -> (if (workload == "stream") p.batches else p.ops.size),
      "jobs" -> jobs.size,
      "stages" -> stages.size,
      "tasks" -> stages.map(_.tasks).sum,
      "task_s" -> stages.map(_.taskMs).sum / 1000.0,
      "cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "shuffle_bytes" -> stages.map(_.shuffleBytes).sum,
      "spill_bytes" -> stages.map(_.spillBytes).sum,
      "skew" -> skew,
      "plan" -> Map("exchanges" -> rec.plans.exchanges, "sort_merge_joins" -> rec.plans.sortMergeJoins,
        "bnl_joins" -> rec.plans.bnlJoins, "from_json" -> rec.plans.fromJson,
        "frames" -> rec.planEvents))
  }
}
