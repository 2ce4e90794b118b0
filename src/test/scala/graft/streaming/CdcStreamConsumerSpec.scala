package graft.streaming

import graft.SparkSpec
import graft.streaming.CdcStreamConsumer._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Spec for [[CdcStreamConsumer]] — SURVEY.md §2a #16: per-stream
  * in-order, duplicate-free delivery with stateful progress, the
  * Structured-Streaming re-expression of Worker/TaskAction. */
class CdcStreamConsumerSpec extends SparkSpec {

  private def run(batches: Seq[Seq[Change]],
      from: Option[CdcStateStore] = None): Seq[Delivered] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val name = s"out_${System.nanoTime()}"
    val delivered = from.fold(consume(spark, input.toDS()))(consumeFrom(spark, input.toDS(), _))
    val query = delivered
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
      spark.table(name).as[Delivered].collect().toSeq
    } finally query.stop()
  }

  test("delivers each stream's changes in ChangeId order") {
    val out = run(Seq(Seq(
      Change(1, 30, 3, 2, 1.0), Change(1, 10, 1, 2, 2.0), Change(1, 20, 2, 1, 3.0),
      Change(2, 5, 9, 3, 4.0))))
    val s1 = out.filter(_.streamId == 1).sortBy(_.seqNo)
    assert(s1.map(c => (c.timeUs, c.eventId)) == Seq((10L, 1L), (20L, 2L), (30L, 3L)))
    assert(s1.map(_.seqNo) == Seq(1L, 2L, 3L))
    assert(out.filter(_.streamId == 2).map(_.seqNo) == Seq(1L))
  }

  test("drops replays at or before the checkpoint across micro-batches") {
    val out = run(Seq(
      Seq(Change(7, 10, 1, 2, 0.0), Change(7, 20, 2, 2, 0.0)),
      // batch 2 replays (10,1) and (20,2), adds (20,3) and (30,4)
      Seq(Change(7, 10, 1, 2, 0.0), Change(7, 20, 2, 2, 0.0),
        Change(7, 20, 3, 1, 0.0), Change(7, 30, 4, 1, 0.0))))
    val s = out.filter(_.streamId == 7).sortBy(_.seqNo)
    assert(s.map(c => (c.timeUs, c.eventId)) == Seq((10L, 1L), (20L, 2L), (20L, 3L), (30L, 4L)))
    assert(s.map(_.seqNo) == Seq(1L, 2L, 3L, 4L)) // seq continues across batches
  }

  test("a change that appears twice in one micro-batch is delivered once") {
    // an at-least-once source can put the same change id twice into
    // one trigger; both consume and consumeFrom deliver it once
    val batch = Seq(Change(3, 10, 1, 2, 0.0), Change(3, 10, 1, 2, 0.0), Change(3, 20, 2, 1, 0.0))
    val fresh = run(Seq(batch))
    assert(fresh.map(d => (d.timeUs, d.eventId, d.seqNo)).sorted == Seq((10L, 1L, 1L), (20L, 2L, 2L)))
    val store = new InMemoryStateStore
    store.put(3L, StreamProgress(5L, 0L, 4L))
    val resumed = run(Seq(batch), Some(store))
    assert(resumed.map(d => (d.timeUs, d.eventId, d.seqNo)).sorted == Seq((10L, 1L, 5L), (20L, 2L, 6L)))
  }

  test("state isolates streams") {
    val out = run(Seq(
      Seq(Change(1, 100, 1, 2, 0.0)),
      Seq(Change(2, 50, 1, 2, 0.0)))) // earlier time, different stream → delivered
    assert(out.filter(_.streamId == 2).nonEmpty)
  }
}
