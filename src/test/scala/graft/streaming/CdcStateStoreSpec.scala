package graft.streaming

import graft.SparkSpec
import graft.streaming.CdcStreamConsumer.{Change, Delivered, StreamProgress}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Holder resolved per-JVM (not serialized with task closures) so
  * executor-side sinks in local mode can record deliveries. */
object SinkCollector {
  val q = new ConcurrentLinkedQueue[Delivered]()
}

/** External checkpoint store + serde (reference CDCStateStore /
  * TaskStateSerde / RedisStateStore) and the consumer lifecycle
  * features around them. */
class CdcStateStoreSpec extends SparkSpec {

  private val T0 = 1700000000000000L
  private def ms(n: Long): Long = T0 + n * 1000L

  test("TaskStateSerde round-trips the 32-byte wire format") {
    val p = StreamProgress(123456789L, 42L, 7L)
    val bytes = TaskStateSerde.serialize(99L, p)
    assert(bytes.length == TaskStateSerde.WireBytes)
    assert(TaskStateSerde.deserialize(bytes) == ((99L, p)))
    intercept[IllegalArgumentException](TaskStateSerde.deserialize(Array[Byte](1, 2, 3)))
  }

  test("InMemoryStateStore stores per-stream progress") {
    val s = new InMemoryStateStore
    assert(s.get(1L).isEmpty)
    s.put(1L, StreamProgress(10L, 1L, 5L))
    s.put(2L, StreamProgress(20L, 2L, 1L))
    assert(s.get(1L).contains(StreamProgress(10L, 1L, 5L)))
    assert(s.all().keySet == Set(1L, 2L))
    s.clear()
    assert(s.all().isEmpty)
  }

  test("FileStateStore survives reopen, rewrites atomically, rejects torn files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state")
    val path = dir.resolve("progress.bin")

    val s1 = new FileStateStore(path)
    assert(s1.all().isEmpty)
    s1.put(5L, StreamProgress(ms(10), 1L, 2L))
    s1.put(9L, StreamProgress(ms(20), 7L, 1L))
    s1.put(5L, StreamProgress(ms(30), 8L, 3L)) // overwrite wins

    // a NEW instance (new process) re-opens the same path and resumes
    val s2 = new FileStateStore(path)
    assert(s2.get(5L).contains(StreamProgress(ms(30), 8L, 3L)))
    assert(s2.all().keySet == Set(5L, 9L))

    // the on-disk image is whole records only (atomic rename — no
    // partially-written state can ever be observed at this path)
    assert(java.nio.file.Files.readAllBytes(path).length ==
      2 * TaskStateSerde.WireBytes)

    // clear is durable too
    s2.clear()
    assert(new FileStateStore(path).all().isEmpty)

    // a torn file (not a whole number of records) must fail loudly,
    // not silently resume from garbage
    java.nio.file.Files.write(path, Array[Byte](1, 2, 3))
    intercept[IllegalArgumentException](new FileStateStore(path))
  }

  test("withStateStore externalizes progress; consumeFrom resumes a NEW query from it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = new InMemoryStateStore

    // phase 1: deliver two changes for stream 5, recording to the store
    val in1 = MemoryStream[Change]
    val c1 = GraftCdcConsumer.builder(spark)
      .withSource(in1.toDS())
      .withStateStore(store)
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"store_p1_${System.nanoTime()}")
      .build()
    c1.start()
    in1.addData(Seq(Change(5, ms(10), 1, 2, 0.0), Change(5, ms(20), 2, 1, 0.0)))
    c1.processAllAvailable()
    in1.addData(Seq(Change(9, ms(100000), 99, 2, 0.0))) // nudge → flush
    c1.processAllAvailable()
    in1.addData(Seq(Change(9, ms(200000), 100, 2, 0.0))) // second nudge
    c1.processAllAvailable()
    c1.stop()
    assert(store.get(5L).contains(StreamProgress(ms(20), 2L, 2L)))

    // phase 2: brand-new query (fresh checkpoint), seeded from the store —
    // replayed changes are dropped, seqNo continues
    val in2 = MemoryStream[Change]
    val out = new ConcurrentLinkedQueue[Delivered]()
    val q = CdcStreamConsumer.consumeFrom(spark, in2.toDS(), store)
      .writeStream
      .queryName(s"store_p2_${System.nanoTime()}")
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Delivered], _: Long) =>
        b.collect().foreach(out.add)
      }
      .start()
    try {
      in2.addData(Seq(
        Change(5, ms(10), 1, 2, 0.0), Change(5, ms(20), 2, 1, 0.0), // replays
        Change(5, ms(30), 3, 1, 0.5)))                              // new
      q.processAllAvailable()
    } finally q.stop()
    val s5 = out.asScala.filter(_.streamId == 5).toSeq
    assert(s5.map(c => (c.timeUs, c.seqNo)) == Seq((ms(30), 3L)))
  }

  test("partition consumer delivers executor-side in per-stream seqNo order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SinkCollector.q.clear()
    val in = MemoryStream[Change]
    val c = GraftCdcConsumer.builder(spark)
      .withSource(in.toDS())
      .withPartitionConsumer(it => it.foreach(SinkCollector.q.add))
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"part_${System.nanoTime()}")
      .build()
    try {
      c.start()
      in.addData(Seq(
        Change(1, ms(300), 3, 2, 0.0), Change(1, ms(100), 1, 2, 0.0),
        Change(2, ms(50), 7, 1, 0.0), Change(1, ms(200), 2, 1, 0.0)))
      c.processAllAvailable()
      in.addData(Seq(Change(9, ms(100000), 99, 2, 0.0))) // nudge
      c.processAllAvailable()
      in.addData(Seq(Change(9, ms(200000), 100, 2, 0.0))) // nudge
      c.processAllAvailable()
    } finally c.stop()
    // arrival order into the collector respects per-stream seqNo order
    // (streams may interleave; each stream's own sequence is monotone)
    val byStream = SinkCollector.q.asScala.toSeq.zipWithIndex
      .groupBy(_._1.streamId)
    for ((_, rows) <- byStream) {
      val arrivalOrder = rows.sortBy(_._2).map(_._1.seqNo)
      assert(arrivalOrder == arrivalOrder.sorted, s"out-of-order: $arrivalOrder")
    }
    assert(SinkCollector.q.asScala.count(_.streamId == 1) == 3)
  }

  test("driver path records the store from the collected rows: same marks, no extra job") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the in-driver reduction equals the Dataset one, ties included
    val sample = Seq(
      Delivered(1, ms(10), 1, 2, 0.0, 1), Delivered(1, ms(10), 3, 1, 0.0, 2),
      Delivered(1, ms(10), 3, 1, 0.0, 4), Delivered(1, ms(5), 9, 1, 0.0, 7),
      Delivered(2, ms(1), 1, 3, 0.0, 1))
    val fromRows = new InMemoryStateStore
    val fromJob = new InMemoryStateStore
    CdcCheckpoints.recordRows(sample, fromRows)
    CdcCheckpoints.record(sample.toDS(), fromJob)
    assert(fromRows.all() == fromJob.all())
    assert(fromRows.get(1L).contains(StreamProgress(ms(10), 3L, 4L)))

    /** Runs the callback consumer over three batches, each releasing
      * the one before; returns what it delivered and the jobs each data
      * micro-batch ran. */
    def run(store: Option[CdcStateStore]): (Seq[Delivered], Seq[Int]) = {
      val jobs = new BatchJobs
      spark.sparkContext.addSparkListener(jobs)
      val in = MemoryStream[Change]
      val out = new ConcurrentLinkedQueue[Delivered]()
      val b = GraftCdcConsumer.builder(spark)
        .withSource(in.toDS())
        .withConsumer(out.add(_))
        .withQueryTimeWindowSizeMs(100)
        .withQueryName(s"store_jobs_${System.nanoTime()}")
      val c = store.fold(b)(b.withStateStore).build()
      try {
        c.start()
        for (k <- 1 to 3) {
          in.addData((1 to 12).map(i => Change(i % 6L, ms(k * 100000L + i), k * 100L + i, 2, 0.0)))
          c.processAllAvailable()
        }
        jobs.drain(spark.sparkContext)
        val q = c.queries.head
        val per = jobs.perBatch(q.id.toString)
        val data = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
        (out.asScala.toSeq, data.map(b => per.get(b).fold(0)(_._1)))
      } finally {
        c.stop()
        spark.sparkContext.removeSparkListener(jobs)
      }
    }
    val store = new InMemoryStateStore
    val (delivered, jobsWithStore) = run(Some(store))
    val (_, jobsWithout) = run(None)
    // the store costs no job: one collect per batch either way
    assert(jobsWithStore == Seq(1, 1, 1), jobsWithStore)
    assert(jobsWithout == jobsWithStore)
    // and holds exactly what the Dataset-side record makes of the same rows
    assert(delivered.size == 24)
    val want = new InMemoryStateStore
    CdcCheckpoints.record(delivered.toDS(), want)
    assert(store.all() == want.all())
    assert(store.all().size == 6)
  }

  test("record and recordRows only ever advance a stream's mark") {
    import spark.implicits._
    val recorders = Seq[(String, (Seq[Delivered], CdcStateStore) => Unit)](
      "record" -> ((rows, s) => CdcCheckpoints.record(rows.toDS(), s)),
      "recordRows" -> ((rows, s) => CdcCheckpoints.recordRows(rows, s)))
    recorders.foreach { case (name, recordTo) =>
      val store = new InMemoryStateStore
      val mark = StreamProgress(ms(20), 2L, 5L)
      store.put(1L, mark)
      // a fresh checkpoint resumed against this store redelivers
      // changes it already passed: a batch of only stale rows for
      // stream 1 must leave its mark, while stream 2 still records
      recordTo(Seq(Delivered(1, ms(10), 1, 2, 0.0, 1), Delivered(2, ms(5), 1, 2, 0.0, 1)), store)
      assert(store.get(1L).contains(mark), name)
      assert(store.get(2L).contains(StreamProgress(ms(5), 1L, 1L)), name)
      // the same change id again is no advance either
      recordTo(Seq(Delivered(1, ms(20), 2, 2, 0.0, 2)), store)
      assert(store.get(1L).contains(mark), name)
      // a later change id moves it, event id breaking the time tie
      recordTo(Seq(Delivered(1, ms(20), 3, 2, 0.0, 3)), store)
      assert(store.get(1L).contains(StreamProgress(ms(20), 3L, 3L)), name)
    }
  }

  test("a micro-batch's marks reach the store as one batched write; a reopened FileStateStore sees every mark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    /** Counts writes, tagging each batched write with the streaming
      * batch id of the thread that made it. */
    final class CountingStore extends CdcStateStore {
      private val inner = new InMemoryStateStore
      val puts = new java.util.concurrent.atomic.AtomicInteger
      val batchedWrites = new ConcurrentLinkedQueue[(String, Int)]()
      override def get(streamId: Long): Option[StreamProgress] = inner.get(streamId)
      override def put(streamId: Long, p: StreamProgress): Unit = {
        puts.incrementAndGet(); inner.put(streamId, p)
      }
      override def putAll(marks: Map[Long, StreamProgress]): Unit = {
        batchedWrites.add((String.valueOf(
          spark.sparkContext.getLocalProperty("streaming.sql.batchId")), marks.size))
        marks.foreach { case (id, p) => inner.put(id, p) }
      }
      override def all(): Map[Long, StreamProgress] = inner.all()
      override def clear(): Unit = inner.clear()
    }
    val rows = (1 to 40).map(i => Delivered(i % 8L, ms(i), i.toLong, 2, 0.0, i.toLong))
    val recorders = Seq[(String, (Seq[Delivered], CdcStateStore) => Unit)](
      "record" -> ((rs, st) => CdcCheckpoints.record(rs.toDS(), st)),
      "recordRows" -> ((rs, st) => CdcCheckpoints.recordRows(rs, st)))
    recorders.foreach { case (name, recordTo) =>
      val s = new CountingStore
      recordTo(rows, s)
      assert(s.puts.get == 0 && s.batchedWrites.asScala.map(_._2).toSeq == Seq(8), name)
      // a batch that moves no mark writes nothing
      recordTo(rows.take(5), s)
      assert(s.batchedWrites.size == 1, name)
      // the durable store: one batch of marks, every one back after a reopen
      val path = java.nio.file.Files.createTempDirectory("graft_state_batch").resolve("p.bin")
      val file = new FileStateStore(path)
      recordTo(rows, file)
      assert(new FileStateStore(path).all() == s.all(), name)
      assert(s.all().size == 8)
    }

    // end to end: exactly one batched write per micro-batch that
    // delivered changes, and no per-stream put
    val store = new CountingStore
    val deliveredIn = new ConcurrentLinkedQueue[String]()
    val in = MemoryStream[Change]
    val c = GraftCdcConsumer.builder(spark)
      .withSource(in.toDS())
      .withConsumer(_ => deliveredIn.add(
        String.valueOf(spark.sparkContext.getLocalProperty("streaming.sql.batchId"))))
      .withStateStore(store)
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"store_batched_${System.nanoTime()}")
      .build()
    try {
      c.start()
      for (k <- 1 to 3) {
        in.addData((1 to 12).map(i => Change(i % 6L, ms(k * 100000L + i), k * 100L + i, 2, 0.0)))
        c.processAllAvailable()
      }
    } finally c.stop()
    val writes = store.batchedWrites.asScala.toSeq
    assert(writes.nonEmpty && store.puts.get == 0)
    assert(writes.map(_._1) == deliveredIn.asScala.toSeq.distinct, writes)
    assert(store.all().size == 6)
  }

  test("two sources run under one lifecycle with independent checkpoints") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_multi").toString
    val inA = MemoryStream[Change]
    val inB = MemoryStream[Change]
    val out = new ConcurrentLinkedQueue[Delivered]()
    val c = GraftCdcConsumer.builder(spark)
      .addSource("table_a", inA.toDS())
      .addSource("table_b", inB.toDS())
      .withConsumer(out.add(_))
      .withQueryTimeWindowSizeMs(100)
      .withCheckpointLocation(ckpt)
      .withQueryName(s"multi_${System.nanoTime()}")
      .build()
    try {
      c.start()
      assert(c.queries.size == 2)
      inA.addData(Seq(Change(1, ms(10), 1, 2, 1.0)))
      inB.addData(Seq(Change(2, ms(10), 2, 2, 2.0)))
      c.processAllAvailable()
      inA.addData(Seq(Change(9, ms(100000), 99, 2, 0.0)))
      inB.addData(Seq(Change(9, ms(100000), 98, 2, 0.0)))
      c.processAllAvailable()
      inA.addData(Seq(Change(9, ms(200000), 100, 2, 0.0)))
      inB.addData(Seq(Change(9, ms(200000), 101, 2, 0.0)))
      c.processAllAvailable()
    } finally c.stop()
    assert(out.asScala.exists(d => d.streamId == 1 && d.value == 1.0))
    assert(out.asScala.exists(d => d.streamId == 2 && d.value == 2.0))
    // independent checkpoint directories, one per source
    val subdirs = new java.io.File(ckpt).listFiles().map(_.getName).toSet
    assert(subdirs.contains("table_a") && subdirs.contains("table_b"))
    // duplicate source names rejected
    intercept[IllegalArgumentException] {
      GraftCdcConsumer.builder(spark)
        .addSource("x", inA.toDS()).addSource("x", inB.toDS())
    }
  }

  test("maxRetryAttempts caps the retry loop (builder validation)") {
    intercept[IllegalArgumentException](
      GraftCdcConsumer.builder(spark).withMaxRetryAttempts(0))
  }

  test("state store dedupes a replayed micro-batch at the callback (effectively-once)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = new InMemoryStateStore
    // simulate a crash AFTER delivery but BEFORE the streaming commit:
    // the store already recorded stream 5 up to seqNo 2
    store.put(5L, StreamProgress(ms(20), 2L, 2L))
    val in = MemoryStream[Change]
    val out = new ConcurrentLinkedQueue[Delivered]()
    val c = GraftCdcConsumer.builder(spark)
      .withSource(in.toDS())
      .withConsumer(out.add(_))
      .withStateStore(store)
      .withQueryTimeWindowSizeMs(100)
      .withQueryName(s"dedupe_${System.nanoTime()}")
      .build()
    try {
      c.start()
      // the "replayed" batch: both already-recorded changes + a new one
      in.addData(Seq(
        Change(5, ms(10), 1, 2, 0.0), Change(5, ms(20), 2, 1, 0.0),
        Change(5, ms(30), 3, 1, 0.5)))
      c.processAllAvailable()
      in.addData(Seq(Change(9, ms(100000), 99, 2, 0.0))) // nudge
      c.processAllAvailable()
      in.addData(Seq(Change(9, ms(200000), 100, 2, 0.0))) // nudge
      c.processAllAvailable()
    } finally c.stop()
    // only the change past the store's high-water mark reached the
    // callback (the streaming state itself had no history — this is
    // the external store doing the dedupe)
    val s5 = out.asScala.filter(_.streamId == 5).toSeq
    assert(s5.map(_.timeUs) == Seq(ms(30)))
    // and the store advanced
    assert(store.get(5L).exists(_.lastTimeUs == ms(30)))
  }
}
