package graft.streaming

import graft.SparkSpec
import graft.cdc.ExponentialRetryBackoffWithJitter
import graft.streaming.CdcStreamConsumer.{Change, Delivered}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Partition-consumer calls, recorded executor-side (a per-JVM object,
  * so local-mode tasks reach it): the micro-batch, the partition, and
  * the (streamId, seqNo) sequence each call received. */
object PartitionCalls {
  final case class Call(batchId: Long, partition: Int, rows: Vector[(Long, Long)])
  val q = new ConcurrentLinkedQueue[Call]()

  def record(it: Iterator[Delivered]): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    q.add(Call(tc.getLocalProperty("streaming.sql.batchId").toLong, tc.partitionId(),
      it.map(d => (d.streamId, d.seqNo)).toVector))
  }
}

/** Spec for [[GraftCdcConsumer]] — the user-facing builder API
  * (reference: scylla-cdc-lib CDCConsumer.builder()).
  *
  * Delivery is confidence-window-buffered: a change is handed to the
  * callback only once the event-time watermark (max event time −
  * confidence) has passed it, so every test advances the watermark
  * with a later "nudge" change before asserting. */
class GraftCdcConsumerSpec extends SparkSpec {

  /** Base event time: 2023-11-14T22:13:20Z in µs. */
  private val T0 = 1700000000000000L
  private def ms(n: Long): Long = T0 + n * 1000L

  test("builder validates its arguments like the reference") {
    val b = GraftCdcConsumer.builder(spark)
    intercept[IllegalArgumentException](b.withQueryTimeWindowSizeMs(0))
    intercept[IllegalArgumentException](b.withConfidenceWindowSizeMs(-5))
    intercept[IllegalArgumentException](b.withWorkersCount(0))
    intercept[IllegalArgumentException](b.withMinimalWaitForWindowMs(-1))
    intercept[IllegalArgumentException](b.build()) // no source
  }

  test("minimalWaitForWindowMs lower-bounds the micro-batch pacing") {
    val b = GraftCdcConsumer.builder(spark).withQueryTimeWindowSizeMs(100)
    assert(b.effectiveTriggerMs == 100L)       // no wait configured
    b.withMinimalWaitForWindowMs(50)
    assert(b.effectiveTriggerMs == 100L)       // window already slower
    b.withMinimalWaitForWindowMs(250)
    assert(b.effectiveTriggerMs == 250L)       // wait dominates
  }

  test("withConsumer and withPartitionConsumer are mutually exclusive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val b = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withConsumer(_ => ())
      .withPartitionConsumer(_ => ())
    intercept[IllegalArgumentException](b.build())
  }

  test("driver-callback row bound: oversized micro-batch fails loudly, never retries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    intercept[IllegalArgumentException](
      GraftCdcConsumer.builder(spark).withDriverCallbackRowLimit(0))

    val input = MemoryStream[Change]
    val received = new ConcurrentLinkedQueue[Delivered]()
    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withConsumer(d => received.add(d))
      .withDriverCallbackRowLimit(5)
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"spec_rowbound_${System.nanoTime()}")
      .build()
    val err = try {
      c.start()
      // 3 matured changes — under the bound, must deliver normally
      input.addData((1 to 3).map(i => Change(1, ms(i), i.toLong, 2, 0.0)))
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(100000), 50, 2, 0.0))) // nudge
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(200000), 51, 2, 0.0))) // nudge
      c.processAllAvailable()
      assert(received.asScala.count(_.streamId == 1) == 3,
        "under-bound batch must deliver")
      // 10 changes maturing in ONE micro-batch: 10 > 5 → the query
      // must FAIL (not truncate, not OOM, not retry forever)
      input.addData((1 to 10).map(i => Change(2, ms(500000 + i), i.toLong, 2, 0.0)))
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(900000), 52, 2, 0.0))) // nudge
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(1000000), 53, 2, 0.0))) // nudge
      c.processAllAvailable()
      fail("oversized driver-callback micro-batch did not fail the query")
    } catch {
      case e: org.scalatest.exceptions.TestFailedException => throw e
      case e: Throwable => e
    } finally c.stop()
    // the guard exception is in the failure chain with the remedy named
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    val guard = chain(err).find(_.isInstanceOf[CallbackBatchTooLargeException])
    assert(guard.isDefined, s"expected CallbackBatchTooLargeException in: $err")
    assert(guard.get.getMessage.contains("withPartitionConsumer"))
    assert(guard.get.getMessage.contains("exceeds 5 rows"))
    // the retry loop must NOT have re-delivered the under-bound rows
    assert(received.asScala.count(_.streamId == 1) == 3)
  }

  test("a fresh query against a populated external store dedupes on ChangeId, not seqNo") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The store says stream 4 was delivered up to ChangeId
    // (ms(20), 2) with 50 changes delivered by some PREVIOUS query.
    // A brand-new query (fresh checkpoint) re-mints seqNo from 1 —
    // a seqNo-based dedupe would silently drop every fresh change.
    val store = new InMemoryStateStore
    store.put(4L, CdcStreamConsumer.StreamProgress(ms(20), 2L, 50L))
    val input = MemoryStream[Change]
    val received = new ConcurrentLinkedQueue[Delivered]()
    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withConsumer(d => received.add(d))
      .withStateStore(store)
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"spec_store_${System.nanoTime()}")
      .build()
    try {
      c.start()
      input.addData(Seq(
        Change(4, ms(10), 1, 2, 0.0),   // at/below the stored mark → skipped
        Change(4, ms(20), 2, 1, 0.0),   // == the stored mark → skipped
        Change(4, ms(30), 3, 1, 0.0)))  // fresh → MUST be delivered
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(100000), 99, 2, 0.0))) // nudge
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(200000), 100, 2, 0.0))) // nudge
      c.processAllAvailable()
    } finally c.stop()
    val s4 = received.asScala.filter(_.streamId == 4).toSeq
    assert(s4.map(_.timeUs) == Seq(ms(30)))
    // and the store advanced to the fresh change
    assert(store.get(4L).get.lastTimeUs == ms(30))
  }

  test("generation switchover: gen N finishes, re-task fires, gen N+1 follows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Three generations (GenerationBasedCDCMetadataModel.runMasterLoop):
    // gen 0 [T0, T0+100ms) streams {1,2}; gen 1 [T0+100ms, T0+200ms)
    // streams {1,2,3} is EMPTY (skipped without a configureWorkers call,
    // like the master's inner while-done loop); gen 2 open, streams {1,3}.
    val gens = Seq(
      CdcGeneration(0, ms(0), Some(ms(100)), Seq(1L, 2L)),
      CdcGeneration(1, ms(100), Some(ms(200)), Seq(1L, 2L, 3L)),
      CdcGeneration(2, ms(200), None, Seq(1L, 3L)))
    val input = MemoryStream[Change]
    val received = new ConcurrentLinkedQueue[Delivered]()
    val retasked = new ConcurrentLinkedQueue[(Int, Seq[Long])]()
    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withConsumer(d => received.add(d))
      .withGenerations(gens)
      .withGenerationSwitchListener(g => retasked.add((g.generationId, g.streams)))
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"spec_gens_${System.nanoTime()}")
      .build()
    try {
      c.start()
      // the initial configureWorkers happens before any data
      assert(c.generationSwitches == Seq(0))
      assert(c.currentGeneration.map(_.generationId).contains(0))
      // one shuffled arrival order spanning the gen 0 → gen 2 boundary
      input.addData(Seq(
        Change(1, ms(250), 7, 2, 0.0),  // gen 2
        Change(1, ms(10), 1, 2, 0.0),   // gen 0
        Change(2, ms(50), 2, 1, 0.0),   // gen 0
        Change(3, ms(260), 8, 2, 0.0),  // gen 2
        Change(1, ms(90), 3, 1, 0.0)))  // gen 0
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(100000), 99, 2, 0.0))) // watermark nudge
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(200000), 100, 2, 0.0))) // flush nudge
      c.processAllAvailable()
    } finally c.stop()
    val main = received.asScala.filter(_.streamId != 9).toSeq
    // complete delivery across the boundary…
    assert(main.size == 5)
    // …with every gen-0 change BEFORE any gen-2 change
    val genOf = main.map(d => if (d.timeUs < ms(100)) 0 else 2)
    assert(genOf == genOf.sorted, s"delivery crossed the generation barrier: $main")
    // switchover visible: initial gen 0, then gen 2 — empty gen 1 is
    // skipped without a re-task, like the master's while-done loop
    assert(c.generationSwitches == Seq(0, 2))
    assert(retasked.asScala.toSeq == Seq((0, Seq(1L, 2L)), (2, Seq(1L, 3L))))
    assert(c.currentGeneration.map(_.generationId).contains(2))
    // per-generation progress: 3 changes in gen 0; gen 2 carries its 2
    // main changes + the first nudge (the second stays inside the
    // confidence window); empty gen 1 never appears
    val progress = c.generationProgress
    assert(progress(0) == 3)
    assert(progress(2) == 3)
    assert(!progress.contains(1))
  }

  test("tablet model: two tables cross generation boundaries independently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // TabletBasedCDCMetadataModel: one master loop, one
    // TableCDCController per table — `orders` switches at ms(100),
    // `users` not until ms(250); neither table's runMasterStep may
    // move the other's generation.
    val ordersGens = Seq(
      CdcGeneration(0, ms(0), Some(ms(100)), Seq(1L, 2L)),
      CdcGeneration(1, ms(100), None, Seq(1L, 3L)))
    val usersGens = Seq(
      CdcGeneration(10, ms(0), Some(ms(250)), Seq(5L)),
      CdcGeneration(11, ms(250), None, Seq(5L, 6L)))
    val ordersIn = MemoryStream[Change]
    val usersIn = MemoryStream[Change]
    val received = new ConcurrentLinkedQueue[Delivered]()
    val retasked = new ConcurrentLinkedQueue[(String, Int)]()
    val c = GraftCdcConsumer.builder(spark)
      .addSource("orders", ordersIn.toDS())
      .addSource("users", usersIn.toDS())
      .withTableGenerations("orders", ordersGens)
      .withTableGenerations("users", usersGens)
      .withTableGenerationSwitchListener((t, g) => retasked.add((t, g.generationId)))
      .withConsumer(d => received.add(d))
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"spec_tablet_${System.nanoTime()}")
      .build()
    try {
      c.start()
      // initCurrentGeneration per controller, before any data
      assert(c.generationSwitches("orders") == Seq(0))
      assert(c.generationSwitches("users") == Seq(10))
      // orders crosses its boundary; users' lone gen-10 change stays
      // buffered inside the confidence window (no users nudge — a
      // post-boundary users event would BE a gen-11 delivery)
      ordersIn.addData(Seq(
        Change(1, ms(10), 1, 2, 0.0),    // orders gen 0
        Change(3, ms(150), 2, 2, 0.0)))  // orders gen 1
      usersIn.addData(Seq(Change(5, ms(20), 1, 2, 0.0))) // users gen 10
      c.processAllAvailable()
      ordersIn.addData(Seq(Change(9, ms(100000), 99, 2, 0.0)))  // orders nudge
      c.processAllAvailable()
      ordersIn.addData(Seq(Change(9, ms(200000), 100, 2, 0.0))) // orders nudge
      c.processAllAvailable()
      // independent switchover: orders re-tasked onto gen 1, users untouched
      assert(c.generationSwitches("orders") == Seq(0, 1))
      assert(c.currentGeneration("orders").map(_.generationId).contains(1))
      assert(c.generationSwitches("users") == Seq(10))
      assert(c.currentGeneration("users").map(_.generationId).contains(10))
      // now users crosses too
      usersIn.addData(Seq(Change(6, ms(300), 2, 2, 0.0))) // users gen 11
      c.processAllAvailable()
      usersIn.addData(Seq(Change(9, ms(100000), 96, 2, 0.0))) // nudge
      c.processAllAvailable()
      usersIn.addData(Seq(Change(9, ms(200000), 95, 2, 0.0))) // nudge
      c.processAllAvailable()
      assert(c.generationSwitches("users") == Seq(10, 11))
      assert(c.currentGeneration("users").map(_.generationId).contains(11))
      assert(c.generationSwitches("orders") == Seq(0, 1)) // untouched by users
    } finally c.stop()
    // configureWorkers fired per table, initial tasking first
    assert(retasked.asScala.toSeq == Seq(
      ("orders", 0), ("users", 10), ("orders", 1), ("users", 11)))
    // per-table progress: orders delivered 1 change in gen 0; its gen-1
    // count carries the main change plus watermark nudges. users'
    // gen-10 count is its one main change plus the small nudges.
    val op = c.generationProgress("orders")
    assert(op(0) == 1 && op(1) >= 1)
    val up = c.generationProgress("users")
    assert(up(10) >= 1 && up(11) >= 1)
    // the cluster-wide (non-tablet) master state stayed untouched
    assert(c.generationSwitches.isEmpty && c.currentGeneration.isEmpty)
  }

  test("tablet model validates source names and model exclusivity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val gens = Seq(CdcGeneration(0, ms(0), None, Seq(1L)))
    intercept[IllegalArgumentException] { // unknown source name
      GraftCdcConsumer.builder(spark)
        .addSource("orders", input.toDS())
        .withTableGenerations("users", gens)
        .withConsumer(_ => ())
        .build()
    }
    intercept[IllegalArgumentException] { // one metadata model at a time
      GraftCdcConsumer.builder(spark)
        .addSource("orders", input.toDS())
        .withGenerations(gens)
        .withTableGenerations("orders", gens)
        .withConsumer(_ => ())
        .build()
    }
    intercept[IllegalArgumentException] { // driver-callback requirement
      GraftCdcConsumer.builder(spark)
        .addSource("orders", input.toDS())
        .withTableGenerations("orders", gens)
        .withPartitionConsumer(_ => ())
        .build()
    }
  }

  test("withGenerations validates contiguity and the driver-callback requirement") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    intercept[IllegalArgumentException] {
      GraftCdcConsumer.builder(spark).withGenerations(Seq(
        CdcGeneration(0, ms(0), Some(ms(50)), Seq(1L)),
        CdcGeneration(1, ms(100), None, Seq(1L)))) // gap: 50 ≠ 100
    }
    intercept[IllegalArgumentException] {
      GraftCdcConsumer.builder(spark).withGenerations(Seq(
        CdcGeneration(0, ms(0), None, Seq(1L)), // open but not last
        CdcGeneration(1, ms(100), None, Seq(1L))))
    }
    intercept[IllegalArgumentException] {
      GraftCdcConsumer.builder(spark)
        .withSource(input.toDS())
        .withGenerations(Seq(CdcGeneration(0, ms(0), None, Seq(1L))))
        .withPartitionConsumer(_ => ()) // master is driver-side
        .build()
    }
  }

  test("master pacing knobs flow to the pacing config and validate") {
    val b = GraftCdcConsumer.builder(spark)
    intercept[IllegalArgumentException](b.withSleepBeforeFirstGenerationMs(-1))
    intercept[IllegalArgumentException](b.withSleepBeforeGenerationDoneMs(-1))
    intercept[IllegalArgumentException](b.withSleepAfterExceptionMs(-1))
    // reference defaults (MasterConfiguration.java:15-17)
    assert(b.effectivePacing == MasterPacing(10000L, 30000L, 10000L))
    b.withSleepBeforeFirstGenerationMs(7)
      .withSleepBeforeGenerationDoneMs(13)
      .withSleepAfterExceptionMs(19)
    assert(b.effectivePacing == MasterPacing(7L, 13L, 19L))
  }

  test("generations supplier: master polls at the configured pacing, then consumes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gens = Seq(
      CdcGeneration(0, ms(0), Some(ms(100)), Seq(1L)),
      CdcGeneration(1, ms(100), None, Seq(1L)))
    val input = MemoryStream[Change]
    val received = new ConcurrentLinkedQueue[Delivered]()
    val retasked = new ConcurrentLinkedQueue[Int]()
    val sleeps = new ConcurrentLinkedQueue[Long]()
    val polls = new java.util.concurrent.atomic.AtomicInteger(0)
    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withConsumer(d => received.add(d))
      .withGenerationsSupplier(() =>
        if (polls.incrementAndGet() <= 2) None else Some(gens))
      .withGenerationSwitchListener(g => retasked.add(g.generationId))
      .withSleepBeforeFirstGenerationMs(11)
      .withSleepBeforeGenerationDoneMs(23)
      .withSleepAfterExceptionMs(37)
      .withSleeper(ms => { sleeps.add(ms); Thread.sleep(1) })
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"spec_gen_supplier_${System.nanoTime()}")
      .build()
    try {
      c.start()
      // discovery: two empty polls paced by sleepBeforeFirstGenerationMs
      val deadline = System.nanoTime() + 10000L * 1000000L
      while (c.currentGeneration.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
      assert(c.currentGeneration.map(_.generationId).contains(0),
        "master never discovered the timeline")
      assert(sleeps.asScala.count(_ == 11L) >= 2)
      input.addData(Seq(
        Change(1, ms(10), 1, 2, 0.0),    // gen 0
        Change(1, ms(250), 2, 2, 0.0)))  // gen 1
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(100000), 99, 2, 0.0))) // watermark nudge
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(200000), 100, 2, 0.0))) // flush nudge
      c.processAllAvailable()
    } finally c.stop()
    // the discovered timeline drove delivery + switchover
    assert(retasked.asScala.toSeq == Seq(0, 1))
    assert(received.asScala.count(_.streamId == 1L) == 2)
    // refresh phase ran at the done cadence
    assert(sleeps.asScala.exists(_ == 23L))
  }

  test("generations supplier: changes arriving BEFORE discovery wait for the first timeline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gens = Seq(
      CdcGeneration(0, ms(0), Some(ms(100)), Seq(1L)),
      CdcGeneration(1, ms(100), None, Seq(1L)))
    val input = MemoryStream[Change]
    val received = new ConcurrentLinkedQueue[Delivered]()
    val retasked = new ConcurrentLinkedQueue[Int]()
    @volatile var discovered: Option[Seq[CdcGeneration]] = None
    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withConsumer(d => received.add(d))
      .withGenerationsSupplier(() => discovered)
      .withGenerationSwitchListener(g => retasked.add(g.generationId))
      .withSleeper(_ => Thread.sleep(1))
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"spec_gen_gate_${System.nanoTime()}")
      .build()
    try {
      c.start()
      // data lands while the master has discovered NOTHING: the
      // micro-batch must hold at the gate, not fall through to plain
      // ungated delivery (the reference consumes nothing before
      // fetchFirstGenerationId succeeds)
      input.addData(Seq(
        Change(1, ms(10), 1, 2, 0.0),    // gen 0
        Change(1, ms(250), 2, 2, 0.0)))  // gen 1
      Thread.sleep(400)
      assert(received.isEmpty, "delivered before the first timeline discovery")
      assert(c.currentGeneration.isEmpty)
      discovered = Some(gens)
      val deadline = System.nanoTime() + 10000L * 1000000L
      while (c.currentGeneration.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
      assert(c.currentGeneration.map(_.generationId).contains(0),
        "master never discovered the timeline")
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(100000), 99, 2, 0.0))) // watermark nudge
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(200000), 100, 2, 0.0))) // flush nudge
      c.processAllAvailable()
    } finally c.stop()
    // the held-back changes got the FULL generation treatment once
    // discovery landed: stable-sorted, switchover-tasked, accounted
    assert(received.asScala.count(_.streamId == 1L) == 2)
    assert(retasked.asScala.toSeq == Seq(0, 1))
    assert(c.generationProgress.keySet == Set(0, 1))
  }

  test("generations supplier is exclusive with eager timelines") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    intercept[IllegalArgumentException] {
      GraftCdcConsumer.builder(spark)
        .withSource(input.toDS())
        .withConsumer(_ => ())
        .withGenerations(Seq(CdcGeneration(0, ms(0), None, Seq(1L))))
        .withGenerationsSupplier(() => None)
        .build()
    }
    intercept[IllegalArgumentException] {
      GraftCdcConsumer.builder(spark)
        .withSource(input.toDS())
        .withGenerationsSupplier(() => None)
        .withPartitionConsumer(_ => ()) // master is driver-side
        .build()
    }
  }

  test("confidence window reorders within it, then delivers in ChangeId order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val received = new ConcurrentLinkedQueue[Delivered]()

    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withConsumer(d => received.add(d))
      .withQueryTimeWindowSizeMs(100)
      .withConfidenceWindowSizeMs(1000) // 1s confidence
      .withWorkerRetryBackoff(new ExponentialRetryBackoffWithJitter(1, 10, 0.5))
      .withQueryName(s"spec_${System.nanoTime()}")
      .build()
    try {
      c.start()
      // batch 1: out-of-order arrivals, all within one confidence window
      input.addData(Seq(
        Change(1, ms(300), 3, 2, 0.0), Change(1, ms(100), 1, 2, 0.0),
        Change(2, ms(50), 7, 1, 0.0), Change(1, ms(200), 2, 1, 0.0)))
      c.processAllAvailable() // watermark still unset → everything buffered
      // batch 2: nudge far ahead → watermark passes batch-1 events
      input.addData(Seq(Change(9, ms(100000), 99, 2, 0.0)))
      c.processAllAvailable()
      // batch 3: second nudge → flushes anything at the previous edge
      input.addData(Seq(Change(9, ms(200000), 100, 2, 0.0)))
      c.processAllAvailable()
    } finally c.stop()

    val s1 = received.asScala.filter(_.streamId == 1).toSeq.sortBy(_.seqNo)
    // delivered in ChangeId order despite arrival order 300,100,200
    assert(s1.map(_.timeUs) == Seq(ms(100), ms(200), ms(300)))
    assert(s1.map(_.seqNo) == Seq(1L, 2L, 3L))
    assert(received.asScala.count(_.streamId == 2) == 1)
  }

  test("late change inside the confidence window is merged, not lost") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val received = new ConcurrentLinkedQueue[Delivered]()
    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withConsumer(d => received.add(d))
      .withQueryTimeWindowSizeMs(100)
      .withConfidenceWindowSizeMs(5000) // 5s confidence
      .withQueryName(s"spec_late_${System.nanoTime()}")
      .build()
    try {
      c.start()
      input.addData(Seq(Change(4, ms(2000), 2, 2, 0.0)))
      c.processAllAvailable()
      // arrives later but carries an EARLIER event time — still inside
      // the confidence window because the watermark hasn't passed it
      input.addData(Seq(Change(4, ms(1000), 1, 2, 0.0)))
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(100000), 99, 2, 0.0))) // nudge
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(200000), 100, 2, 0.0))) // nudge
      c.processAllAvailable()
    } finally c.stop()
    val s4 = received.asScala.filter(_.streamId == 4).toSeq.sortBy(_.seqNo)
    assert(s4.map(_.timeUs) == Seq(ms(1000), ms(2000))) // reordered correctly
  }

  test("checkpointed restart resumes without redelivery (TaskStateBackend semantics)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val received = new ConcurrentLinkedQueue[Delivered]()

    def consumer(input: MemoryStream[Change]) = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withConsumer(d => received.add(d))
      .withQueryTimeWindowSizeMs(100)
      .withCheckpointLocation(ckpt)
      .withQueryName(s"spec_ckpt_${System.nanoTime()}")
      .build()

    val in1 = MemoryStream[Change]
    val c1 = consumer(in1)
    c1.start()
    in1.addData(Seq(Change(5, ms(10), 1, 2, 0.0), Change(5, ms(20), 2, 1, 0.0)))
    c1.processAllAvailable()
    in1.addData(Seq(Change(9, ms(100000), 99, 2, 0.0))) // nudge → delivers 10,20
    c1.processAllAvailable()
    c1.stop()

    // new query, same checkpoint: the state holds lastConsumed=(20,2).
    // The replayed source must carry the SAME committed batches
    // (offsets 0 and 1) so the restart resumes past them.
    val in2 = MemoryStream[Change]
    in2.addData(Seq(Change(5, ms(10), 1, 2, 0.0), Change(5, ms(20), 2, 1, 0.0))) // offset 0
    in2.addData(Seq(Change(9, ms(100000), 99, 2, 0.0)))                          // offset 1
    val c2 = consumer(in2)
    c2.start()
    // the new change must be NEWER than the restored watermark
    // (~ms(70000)); anything older is legitimately outside the
    // confidence window and dropped as late
    in2.addData(Seq(Change(5, ms(150000), 3, 1, 0.0)))
    c2.processAllAvailable()
    in2.addData(Seq(Change(9, ms(300000), 100, 2, 0.0))) // nudge → delivers 150000
    c2.processAllAvailable()
    in2.addData(Seq(Change(9, ms(400000), 101, 2, 0.0))) // nudge → flush edge
    c2.processAllAvailable()
    c2.stop()

    val s5 = received.asScala.filter(_.streamId == 5).toSeq.sortBy(_.seqNo)
    assert(s5.map(_.timeUs) == Seq(ms(10), ms(20), ms(150000))) // no duplicates across restart
    assert(s5.map(_.seqNo) == Seq(1L, 2L, 3L))                  // progress carried over
  }

  test("transient consumer failure is retried with backoff (ErrorInject semantics)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val received = new ConcurrentLinkedQueue[Delivered]()
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)

    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withConsumer { d =>
        // fail the first delivery attempt once (OnceChangeErrorInject)
        if (failures.compareAndSet(0, 1)) throw new RuntimeException("injected")
        received.add(d)
      }
      .withWorkerRetryBackoff(new ExponentialRetryBackoffWithJitter(1, 5, 0.5))
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"spec_retry_${System.nanoTime()}")
      .build()
    try {
      c.start()
      input.addData(Seq(Change(3, ms(10), 1, 2, 0.0), Change(3, ms(20), 2, 1, 0.0)))
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(100000), 99, 2, 0.0))) // nudge
      c.processAllAvailable()
    } finally c.stop()

    assert(failures.get() == 1) // the injected error fired
    val s3 = received.asScala.filter(_.streamId == 3).toSeq.sortBy(_.timeUs)
    // at-least-once on retry, like the reference's window re-read
    assert(s3.map(_.timeUs).distinct == Seq(ms(10), ms(20)))
  }

  test("workersCount becomes a stream-keyed repartition scoped to the query plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val input = MemoryStream[Change]
    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withWorkersCount(2)
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"spec_workers_${System.nanoTime()}")
      .build()
    val plan = c.delivered.queryExecution.logical.toString
    assert(plan.contains("RepartitionByExpression") && plan.contains("streamId"), plan)
    // no session-global side effect
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("a replay arriving while the original is still buffered is delivered once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val received = new ConcurrentLinkedQueue[Delivered]()
    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withConsumer(d => received.add(d))
      .withQueryTimeWindowSizeMs(100)
      .withConfidenceWindowSizeMs(5000)
      .withQueryName(s"spec_dup_${System.nanoTime()}")
      .build()
    try {
      c.start()
      input.addData(Seq(Change(6, ms(1000), 1, 2, 0.0)))
      c.processAllAvailable() // buffered (watermark unset)
      input.addData(Seq(Change(6, ms(1000), 1, 2, 0.0))) // replay of the buffered change
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(100000), 99, 2, 0.0))) // nudge
      c.processAllAvailable()
      input.addData(Seq(Change(9, ms(200000), 100, 2, 0.0))) // nudge
      c.processAllAvailable()
    } finally c.stop()
    assert(received.asScala.count(_.streamId == 6) == 1)
  }

  test("partition consumer: per batch, each stream reaches one call as a contiguous sorted run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4") // 4 state partitions
    PartitionCalls.q.clear()
    val input = MemoryStream[Change]
    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withPartitionConsumer(PartitionCalls.record)
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"spec_partcalls_${System.nanoTime()}")
      .build()
    // Without no-data micro-batches, one batch releases some streams
    // through their data call and others through the watermark
    // timeout, so a partition's output interleaves both.
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, "false")
    val streams = 0L until 24L
    def step(cs: Seq[Change]): Unit = { input.addData(cs); c.processAllAvailable() }
    try {
      try c.start() finally spark.conf.unset(noData)
      // batch 0: four changes per stream, out of ChangeId order, and a
      // nudge that moves the watermark past them; all are buffered
      step(streams.flatMap(s => Seq(3, 1, 4, 2).map(i => Change(s, ms(i), s * 100 + i, 2, 0.0))) :+
        Change(99, ms(100000), 9900, 2, 0.0))
      // batch 1: data for half the streams releases their four by the
      // data call; the other half's four go out by timeout
      step(streams.take(12).map(s => Change(s, ms(100001), s * 100 + 5, 2, 0.0)))
      // batch 2 moves the watermark; batch 3 releases batch 1's changes
      // and the first nudge by timeout while new data stays buffered
      step(Seq(Change(99, ms(200000), 9901, 2, 0.0)))
      step(streams.slice(12, 18).map(s => Change(s, ms(200001), s * 100 + 6, 2, 0.0)))
    } finally c.stop()

    val calls = PartitionCalls.q.asScala.toSeq.filter(_.rows.nonEmpty)
    // every call's iterator is sorted by (streamId, seqNo)
    calls.foreach(call => assert(call.rows == call.rows.sorted, s"unsorted call: $call"))
    // each (batch, stream) is one call, holding a contiguous seqNo run
    val runs = calls.flatMap(call => call.rows.map(r => ((call.batchId, r._1), (call, r._2))))
      .groupBy(_._1)
    runs.foreach { case ((b, sid), xs) =>
      assert(xs.map(_._2._1).distinct.size == 1, s"batch $b stream $sid split over calls")
      val seqs = xs.map(_._2._2)
      assert(seqs == (seqs.head until seqs.head + seqs.size), s"batch $b stream $sid: $seqs")
    }
    // across batches, exactly once: each stream's seqNos run 1..n
    val delivered = calls.flatMap(_.rows).groupBy(_._1).map { case (sid, rs) => sid -> rs.map(_._2).sorted }
    assert(delivered.keySet == streams.toSet + 99L)
    streams.foreach(s => assert(delivered(s) == (1L to (if (s < 12) 5L else 4L)), s"stream $s"))
    assert(delivered(99L) == Seq(1L))
    // the released batch really spread over partitions, several streams each
    val batch1 = calls.filter(_.batchId == calls.map(_.batchId).min)
    assert(batch1.map(_.partition).distinct.size > 1, batch1)
    assert(batch1.exists(_.rows.map(_._1).distinct.size > 1), batch1)
  }

  test("plan shape: a partition-consumer data micro-batch runs 1 job of 2 stages") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val jobs = new BatchJobs
    spark.sparkContext.addSparkListener(jobs)
    val input = MemoryStream[Change]
    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withPartitionConsumer(_.foreach(_ => ()))
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"spec_planshape_${System.nanoTime()}")
      .build()
    try {
      c.start()
      for (k <- 1 to 3) {
        input.addData((1 to 20).map(i => Change(i % 8L, ms(k * 100000L + i), k * 100L + i, 2, 0.0)))
        c.processAllAvailable()
      }
      jobs.drain(spark.sparkContext)
      val q = c.queries.head
      val dataBatches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
      val per = jobs.perBatch(q.id.toString)
      assert(dataBatches.length == 3)
      // stage 1 reads the source and shuffles into the state store;
      // stage 2 runs the stateful operator, the sort and the sink. A
      // third stage means delivery shuffles again.
      dataBatches.foreach { b =>
        assert(per.get(b).contains((1, 2)), s"batch $b ran (jobs, stages) = ${per.get(b)}")
      }
    } finally {
      c.stop()
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("stop is idempotent and close delegates to stop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"spec_${System.nanoTime()}")
      .build()
    c.start()
    c.stop(); c.stop(); c.close()
  }
}
