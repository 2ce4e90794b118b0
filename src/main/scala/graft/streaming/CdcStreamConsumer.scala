package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.cdc.ChangeOrder.{HasChangeId, freshInOrder, id, isAfter}

/** Structured-Streaming CDC consumer: per-stream ordered delivery with
  * checkpointable progress — exactly-once WITHIN the streaming Dataset
  * (state-store dedupe + checkpoint replay produce each change once in
  * `delivered`); the driver-callback path in [[GraftCdcConsumer]]
  * replays a failed micro-batch from its first change, i.e.
  * at-least-once to the callback, exactly like the reference worker
  * re-reading its window after an error.
  *
  * Reference semantics (scylla-cdc-base .../model/worker/Worker.java,
  * TaskAction.java, scylla-cdc-lib/CDCConsumer.java): a worker loops
  * per task — read the next window's changes in ChangeId order, hand
  * each to the consumer, remember lastConsumedChangeId so a restart
  * resumes without re-delivering.
  *
  * Spark-first re-expression: `groupByKey(stream_id)` +
  * `flatMapGroupsWithState` — the framework shuffles each stream's
  * changes to one task (the vnode→worker assignment), the state store
  * holds lastConsumed (the reference's TaskState/checkpoint), and
  * `writeStream.option("checkpointLocation", …)` makes resume exactly
  * the reference's saved-state restart. Scale: state is per-stream
  * (2^20 streams at 100 TB), partitioned by the shuffle — no
  * single-node state bottleneck.
  */
object CdcStreamConsumer {

  /** One CDC change addressed by (streamId, ChangeId=(timeUs, eventId)). */
  case class Change(streamId: Long, timeUs: Long, eventId: Long,
      operation: Int, value: Double) extends HasChangeId

  /** Per-stream checkpoint state: the reference's lastConsumedChangeId. */
  case class StreamProgress(lastTimeUs: Long, lastEventId: Long, delivered: Long)

  /** A delivered change, stamped with its per-stream sequence number. */
  case class Delivered(streamId: Long, timeUs: Long, eventId: Long,
      operation: Int, value: Double, seqNo: Long) extends HasChangeId

  /** Deliver one micro-batch's changes for a stream: sort to ChangeId
    * order, drop anything at or before the checkpoint (replays) and
    * any second copy within the batch (duplicates), advance the
    * checkpoint. */
  def deliverGroup(streamId: Long, changes: Iterator[Change],
      state: GroupState[StreamProgress]): Iterator[Delivered] = {
    val progress = state.getOption.getOrElse(StreamProgress(Long.MinValue, Long.MinValue, 0L))
    val ordered = freshInOrder(changes, progress.lastTimeUs, progress.lastEventId)
    ordered.lastOption.foreach(l =>
      state.update(StreamProgress(l.timeUs, l.eventId, progress.delivered + ordered.size)))
    stamp(ordered, progress.delivered)
  }

  /** Changes in ChangeId order as deliveries, seqNos continuing after
    * the stream's `delivered` count. */
  private def stamp(ordered: Seq[Change], delivered: Long): Iterator[Delivered] =
    ordered.iterator.zipWithIndex.map { case (c, i) =>
      Delivered(c.streamId, c.timeUs, c.eventId, c.operation, c.value, delivered + i + 1)
    }

  /** Wire a streaming Dataset of raw changes into ordered per-stream
    * delivery. Append-mode output; pair with
    * `.writeStream.option("checkpointLocation", dir)` for resume. */
  def consume(spark: SparkSession, changes: Dataset[Change]): Dataset[Delivered] = {
    import spark.implicits._
    changes.groupByKey(_.streamId)
      .flatMapGroupsWithState[StreamProgress, Delivered](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(deliverGroup)
  }

  /** [[consume]] seeded from EXTERNALLY-stored progress (a
    * [[CdcStateStore]] snapshot): a brand-new query — fresh Spark
    * checkpoint directory — resumes after the stored per-stream
    * lastConsumedChangeId instead of redelivering from the beginning.
    * This is the reference's restart-from-CDCStateStore path
    * (CDCConsumer reads TaskStates back through the transport on
    * startup); the distributed analogue feeds the store's map in as
    * flatMapGroupsWithState initial state, so seeding is a one-time
    * broadcast-sized exchange, not a per-change lookup. */
  def consumeFrom(spark: SparkSession, changes: Dataset[Change],
      store: CdcStateStore): Dataset[Delivered] = {
    import spark.implicits._
    val initial = store.all().toSeq
      .toDS()
      .groupByKey(_._1)
      .mapValues(_._2)
    changes.groupByKey(_.streamId)
      .flatMapGroupsWithState[StreamProgress, Delivered](
        OutputMode.Append, GroupStateTimeout.NoTimeout, initial)(deliverGroup)
  }

  /** Per-stream state for confidence-window delivery: the checkpoint
    * plus the buffer of changes still inside the confidence window. */
  case class BufferedProgress(lastTimeUs: Long, lastEventId: Long,
      delivered: Long, pending: Seq[Change])

  /** Confidence-window delivery (WorkerConfiguration
    * .confidenceWindowSizeMs): a change is only handed to the consumer
    * once the event-time watermark — now − confidence — has passed it,
    * so out-of-order arrivals WITHIN the confidence window are merged
    * back into ChangeId order instead of being dropped as stale.
    * Changes newer than the watermark wait in state (bounded by
    * arrival-rate × confidence, the reference's window buffer); an
    * event-time timeout re-invokes the group when the watermark
    * reaches the earliest pending change, so flushing doesn't depend
    * on more data arriving for the same stream. */
  def deliverGroupConfident(streamId: Long, changes: Iterator[Change],
      state: GroupState[BufferedProgress]): Iterator[Delivered] = {
    val p = state.getOption.getOrElse(
      BufferedProgress(Long.MinValue, Long.MinValue, 0L, Nil))
    val watermarkMs = state.getCurrentWatermarkMs()
    val watermarkUs = watermarkMs * 1000L
    // dedupe replays against BOTH the checkpoint and the buffer — an
    // at-least-once source can redeliver a change while its original
    // is still waiting out the confidence window
    val fresh = (p.pending ++ changes)
      .filter(c => isAfter(c.timeUs, c.eventId, p.lastTimeUs, p.lastEventId))
      .distinctBy(id)
    // watermark 0 = not yet established → everything stays buffered
    val (ready, hold) = fresh.partition(c => watermarkUs > 0 && c.timeUs <= watermarkUs)
    val ordered = ready.sortBy(id)
    val newProgress = ordered.lastOption match {
      case Some(lastC) => BufferedProgress(lastC.timeUs, lastC.eventId,
        p.delivered + ordered.size, hold)
      case None => p.copy(pending = hold)
    }
    state.update(newProgress)
    if (hold.nonEmpty) {
      // wake this group once the watermark passes its earliest change
      // (must be strictly beyond the current watermark)
      val wakeAtMs = math.max(hold.map(_.timeUs).min / 1000L, watermarkMs) + 1L
      state.setTimeoutTimestamp(wakeAtMs)
    }
    stamp(ordered, p.delivered)
  }

  /** [[consume]] with confidence-window buffering. Builds the
    * event-time watermark itself — Spark requires the watermarked
    * column to flow INTO the stateful operator, so the column rides
    * along through groupByKey and is dropped in the group function. */
  def consumeConfident(spark: SparkSession, changes: Dataset[Change],
      confidenceMs: Long): Dataset[Delivered] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val withTs = changes
      .withColumn("event_time", timestamp_micros(col("timeUs")))
      .withWatermark("event_time", s"$confidenceMs milliseconds")
      .as[TimedChange]
    withTs.groupByKey(_.streamId)
      .flatMapGroupsWithState[BufferedProgress, Delivered](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) { (sid, rows, state) =>
        deliverGroupConfident(sid,
          rows.map(r => Change(r.streamId, r.timeUs, r.eventId, r.operation, r.value)), state)
      }
  }

  /** [[Change]] plus its event-time column (kept so the watermark
    * reaches the stateful operator). */
  case class TimedChange(streamId: Long, timeUs: Long, eventId: Long,
      operation: Int, value: Double, event_time: java.sql.Timestamp)
}
