package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.cdc.{CdcOps, ExponentialRetryBackoffWithJitter}
import graft.streaming.{GraftCdcConsumer, StreamingMvMaintain, StreamingSnapshotMerge}
import graft.streaming.CdcStreamConsumer.{Change, Delivered}

/** One change as the streaming MV twin reads it (a CDC-log row). */
final case class TwinChange(user_id: Long, event_id: Long, time_us: Long,
    cdc_operation: Int, value: Double, props: String)

/** One change seen by the consumer's sink, with the time it arrived. */
final case class Arrival(streamId: Long, timeUs: Long, eventId: Long, seqNo: Long, atMs: Double)

/** The consumer's sink. It runs on the executors, which share this JVM
  * in local mode, so it records into a process-wide queue. */
object Sink {
  val arrivals = new ConcurrentLinkedQueue[Arrival]()

  def record(it: Iterator[Delivered]): Unit = it.foreach { d =>
    arrivals.add(Arrival(d.streamId, d.timeUs, d.eventId, d.seqNo, nowMs()))
  }

  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
}

/** Shape of the stream: the offered rate, the consumer's trigger and
  * confidence window, how long the twin is fed, and the closing bursts. */
final case class StreamShape(ratePerS: Int, tickMs: Int, triggerMs: Long, confidenceMs: Long,
    twinSeconds: Double, burst: Int, bursts: Int, users: Int)

object StreamWorkload extends Workload {
  private val runs = new java.util.concurrent.atomic.AtomicInteger()
  val shape: StreamShape = StreamShape(ratePerS = 500, tickMs = 20, triggerMs = 100,
    confidenceMs = 200, twinSeconds = 2.0, burst = 20000, bursts = 3, users = 2000)

  /** A short run of the same stream, so the measured one starts warm. */
  def prime(ctx: Ctx): Unit = {
    val r = run(ctx, 1.0, shape.copy(twinSeconds = 1.0, burst = 2000, bursts = 1), "prime", check = false)
    if (r.failures.nonEmpty) throw new IllegalStateException(r.failures.mkString("; "))
  }

  def measure(ctx: Ctx, seconds: Double, trace: Option[Recorder]): Phase =
    Workloads.traced(trace, "stream", "streaming")(run(ctx, seconds, shape, "measure"))

  def checks(ctx: Ctx, phase: Phase): (Seq[Check], Seq[OracleCheck]) =
    (phase.extra("checks").asInstanceOf[Seq[Check]], Nil)

  /** Progress of one micro-batch, as Spark reports it. */
  private final case class Batch(query: String, batchId: Long, endMs: Double, endOffset: Long,
      durations: Map[String, Long], rows: Long, stateRows: Long, stateBytes: Long, runId: String)

  /** Feed the consumer for `seconds`, then the twin for
    * `s.twinSeconds`, then drain the bursts; check what arrived. */
  def run(ctx: Ctx, seconds: Double, s: StreamShape, tag: String, check: Boolean = true): Phase = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    Sink.arrivals.clear()
    val batches = new ConcurrentLinkedQueue[Batch]()
    val failures = new ConcurrentLinkedQueue[String]()
    val consumerName = s"perfbench-consumer-$tag"
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp)
        val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val end = start.toEpochMilli + durations.getOrElse("triggerExecution", 0L).toDouble
        val endOffset = p.sources.headOption.flatMap(src => Option(src.endOffset))
          .flatMap(_.toLongOption).getOrElse(-1L)
        val (stateRows, stateBytes) = p.stateOperators.headOption
          .map(o => (o.numRowsTotal, o.memoryUsedBytes)).getOrElse((0L, 0L))
        batches.add(Batch(p.name, p.batchId, end, endOffset, durations, p.numInputRows,
          stateRows, stateBytes, p.runId.toString))
      }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach(x => failures.add(s"query ${e.id} failed: ${x.linesIterator.next()}"))
    }
    spark.streams.addListener(listener)

    val consumerIn = MemoryStream[Change]
    val twinIn = MemoryStream[TwinChange]
    val consumer = GraftCdcConsumer.builder(spark)
      .withSource(consumerIn.toDS())
      .withPartitionConsumer(Sink.record)
      .withQueryTimeWindowSizeMs(s.triggerMs)
      .withConfidenceWindowSizeMs(s.confidenceMs)
      // a fresh checkpoint per run: a new MemoryStream restarts at offset 0
      .withCheckpointLocation(s"${ctx.runDir}/checkpoint-$tag-${runs.incrementAndGet()}")
      .withWorkerRetryBackoff(new ExponentialRetryBackoffWithJitter(10, 200, 0.25))
      .withMaxRetryAttempts(2)
      .withQueryName(consumerName)
      .build()
    val keyStore = new StreamingSnapshotMerge.InMemorySnapshotStore(spark)
    val mvStore = new StreamingMvMaintain.InMemoryMvStore(spark)
    val twinChanges = mutable.ArrayBuffer.empty[TwinChange]
    val sent = mutable.ArrayBuffer.empty[(Long, Long)] // (eventId, streamId)
    val created = mutable.LongMap.empty[Double]        // eventId -> due (or burst start) ms
    val twinOffsets = mutable.ArrayBuffer.empty[(Long, Double, Int)] // (offset, due ms, n)
    val lags = mutable.ArrayBuffer.empty[Double]
    val rng = new java.util.SplittableRandom(ctx.seed)
    var nextId = 0L

    def changes(n: Int, timeUs: Long): (Seq[Change], Seq[TwinChange]) = {
      val cs = (0 until n).map { _ =>
        val user = (rng.nextDouble() * rng.nextDouble() * s.users).toLong // skewed to low ids
        val op = rng.nextInt(10) match {
          case 0 | 1 | 2 | 3 => 2 // insert
          case 4 | 5 | 6 => 1     // update
          case 7 => 3             // delete
          case 8 => 9             // post-image
          case _ => 0             // pre-image
        }
        val value = rng.nextInt(100, 50000) / 100.0
        nextId += 1
        (Change(user % 64, timeUs, nextId, op, value), TwinChange(user, nextId, timeUs, op, value, "{}"))
      }
      (cs.map(_._1), cs.map(_._2))
    }

    /** Open loop: one generator thread on a fixed schedule of ticks.
      * Each change carries its creation time as its CDC time; its
      * latency counts from when its tick was due, so a generator stall
      * shows as latency. The loop runs on for a short tail after the
      * window, so the window's last changes are released by the
      * watermark as in steady state; `emit` gets the tick's due time
      * and whether it is inside the measured window. */
    def openLoop(windowS: Double)(emit: (Seq[Change], Seq[TwinChange], Double, Boolean) => Unit): Unit = {
      val perTick = math.max(1, s.ratePerS * s.tickMs / 1000)
      val tailS = (s.confidenceMs + 4 * s.triggerMs) / 1000.0
      val t0 = System.nanoTime()
      val t0Ms = Sink.nowMs()
      var k = 0L
      while (Guard.secondsSince(t0) < windowS + tailS && failures.isEmpty) {
        val due = t0 + k * s.tickMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val inWindow = Guard.secondsSince(t0) < windowS
        if (inWindow) lags += (System.nanoTime() - due) / 1e6
        val (cs, ts) = changes(perTick, (Sink.nowMs() * 1000).toLong)
        emit(cs, ts, t0Ms + k * s.tickMs, inWindow)
        k += 1
      }
    }

    consumer.start()
    val twinQ = StreamingMvMaintain.attach(twinIn.toDF(), keyStore, mvStore)
    val drains = mutable.ArrayBuffer.empty[Double]
    val openLoopIds = mutable.ArrayBuffer.empty[Long]
    try {
      // the consumer's window, then the twin's: each query runs alone,
      // so neither's micro-batches queue behind the other's
      openLoop(seconds) { (cs, _, dueMs, inWindow) =>
        consumerIn.addData(cs)
        cs.foreach { c => sent += ((c.eventId, c.streamId)); created(c.eventId) = dueMs }
        if (inWindow) openLoopIds ++= cs.map(_.eventId)
      }
      openLoop(s.twinSeconds) { (_, ts, dueMs, inWindow) =>
        val off = twinIn.addData(ts).json.toLong
        if (inWindow) twinOffsets += ((off, dueMs, ts.size))
        twinChanges ++= ts
      }
      twinQ.processAllAvailable()
      HeapPeak.sample()
      // closed drain: pre-built bursts, one after another. Each ends
      // with one change past the confidence window, so the watermark
      // releases the burst; that change stays buffered and is not part
      // of the workload. A burst is stamped after the previous one's
      // release point, so none of it can arrive late.
      var stampUs = (Sink.nowMs() * 1000).toLong
      for (_ <- 1 to s.bursts if failures.isEmpty) {
        val (burst, _) = changes(s.burst, stampUs)
        stampUs += (s.confidenceMs + 1000) * 1000
        val flush = Change(64L, stampUs, Long.MaxValue - drains.size, 2, 0.0)
        val burstIds = burst.map(_.eventId).toSet
        val startMs = Sink.nowMs()
        consumerIn.addData(burst :+ flush)
        burst.foreach { c => sent += ((c.eventId, c.streamId)); created(c.eventId) = startMs }
        val deadline = System.nanoTime() + (ctx.opTimeoutS * 1e9).toLong
        def seen = Sink.arrivals.asScala.filter(a => burstIds.contains(a.eventId))
        while (seen.size < burstIds.size && System.nanoTime() < deadline && failures.isEmpty)
          Thread.sleep(5)
        val arrived = seen
        if (arrived.size >= burstIds.size) drains += (arrived.map(_.atMs).max - startMs) / 1000.0
        else failures.add(s"drain incomplete: ${arrived.size} of ${burstIds.size} burst changes delivered")
        stampUs += 1
      }
      HeapPeak.sample()
    } finally {
      consumer.stop()
      twinQ.stop()
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      spark.streams.removeListener(listener)
    }

    // ---- outputs and checks (untimed) --------------------------------
    val arrivals = Sink.arrivals.asScala.toVector.filter(_.streamId != 64L)
    val openSet = openLoopIds.toSet
    val latencies = arrivals.filter(a => openSet.contains(a.eventId))
      .map(a => a.atMs - created(a.eventId) - s.confidenceMs)
    val all = batches.asScala.toVector
    val twinBatches = all.filter(_.query != consumerName).sortBy(_.batchId)
    val staleness = twinOffsets.toVector.flatMap { case (off, dueMs, n) =>
      twinBatches.find(_.endOffset >= off).map(b => Vector.fill(n)(b.endMs - dueMs))
        .getOrElse(Vector.empty)
    }
    val counts = arrivals.groupBy(_.eventId).view.mapValues(_.size).toMap
    val redelivered = counts.values.map(_ - 1).sum
    val missing = sent.count { case (id, _) => !counts.contains(id) }
    val seqOk = arrivals.groupBy(_.streamId).forall { case (_, as) =>
      val ordered = as.distinctBy(_.eventId).sortBy(a => (a.timeUs, a.eventId))
      ordered.map(_.seqNo) == (1L to ordered.size.toLong)
    }
    val twinStateRows = keyStore.read().count()
    val twinStateBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val checks = if (!check) Nil else {
      val twinDf = spark.createDataset(twinChanges.toSeq)(Encoders.product[TwinChange]).toDF()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = rows(CdcOps.mvMaintainFromLog(twinDf, -1L).filter(col("n_rows") > 0)
        .select("bucket", "n_rows", "sum_value"))
      val got = rows(mvStore.readView())
      Seq(
        Check("delivered_exactly_once", missing == 0 && redelivered == 0,
          s"${sent.size} sent, $missing missing, $redelivered redelivered"),
        Check("seqno_contiguous_in_change_order", seqOk, "per stream"),
        Check("twin_mv_equals_batch_operator", got == want, s"${got.size} buckets vs ${want.size}"))
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

    def queryStats(bs: Vector[Batch]): Map[String, Any] = Map(
      "batches" -> bs.size,
      "batch_ms" -> bs.map(_.durations.getOrElse("triggerExecution", 0L)),
      "add_batch_ms" -> bs.map(_.durations.getOrElse("addBatch", 0L)),
      "wal_commit_ms" -> bs.map(_.durations.getOrElse("walCommit", 0L)),
      "rows" -> bs.map(_.rows),
      "state_rows" -> bs.lastOption.map(_.stateRows).getOrElse(0L),
      "state_bytes" -> bs.lastOption.map(_.stateBytes).getOrElse(0L),
      "run_ids" -> bs.map(_.runId).distinct)
    val consumerBatches = all.filter(_.query == consumerName).sortBy(_.batchId)
    Phase(Nil, Map(
      "latency_ms" -> latencies,
      "staleness_ms" -> staleness,
      "drain_s" -> drains.toVector,
      "burst" -> s.burst,
      "open_loop_changes" -> openLoopIds.size,
      "generator_lag_ms" -> lags.toVector,
      "redelivered" -> redelivered,
      "consumer" -> queryStats(consumerBatches),
      "twin" -> (queryStats(twinBatches) ++
        Map("state_rows" -> twinStateRows, "state_bytes" -> twinStateBytes)),
      "checks" -> checks),
      batches = all.size, failures = failures.asScala.toList)
  }
}
