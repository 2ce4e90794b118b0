package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.cdc.ChangeOrder.{HasChangeId, freshInOrder}

/** Streaming replication of a non-frozen collection column — the
  * stateful twin of the batch epoch fold in
  * [[graft.cdc.CdcOps.collectionApplyFromLog]], with identical
  * semantics (UnpreparedUpdateOperationHandler.java:55-95: each change
  * is exactly one of putAll / removeAll(cdc$deleted_elements) /
  * whole-cell overwrite).
  *
  * Where the batch operator folds the full history with window
  * arithmetic, this consumer maintains the LIVE collection per key in
  * the state store and applies each change as it arrives, in ChangeId
  * order with checkpoint dedupe — the destination table a reference
  * replicator instance would hold, continuously. State size is
  * O(keys × live entries), the destination's own cardinality;
  * per-stream parallelism comes from the groupByKey shuffle exactly
  * like [[CdcStreamConsumer]].
  */
object CdcCollectionConsumer {

  /** One collection change (kinds are mutually exclusive per row, as
    * in the CDC log: overwrite=true → replace with `put`;
    * `del` non-empty → remove those keys; else merge `put`). */
  case class CollChange(userId: Long, timeUs: Long, eventId: Long,
      put: Map[Int, Double], del: Seq[Int], overwrite: Boolean) extends HasChangeId

  /** Per-key state: checkpoint + the live collection. */
  case class CollState(lastTimeUs: Long, lastEventId: Long,
      applied: Long, entries: Map[Int, Double])

  /** The collection after a change was applied (one row per applied
    * change — the replicator's write). */
  case class CollSnapshot(userId: Long, timeUs: Long, eventId: Long,
      applied: Long, entries: Map[Int, Double])

  /** Apply one micro-batch's changes for a key: ChangeId order,
    * checkpoint dedupe, fold, snapshot per applied change. */
  def applyGroup(userId: Long, changes: Iterator[CollChange],
      state: GroupState[CollState]): Iterator[CollSnapshot] = {
    var s = state.getOption.getOrElse(CollState(Long.MinValue, Long.MinValue, 0L, Map.empty))
    val ordered = freshInOrder(changes, s.lastTimeUs, s.lastEventId)
    val out = ordered.map { c =>
      val entries =
        if (c.overwrite) c.put                       // whole-cell tombstone + new value
        else if (c.del.nonEmpty) s.entries -- c.del  // removeAll
        else s.entries ++ c.put                      // putAll / addAll
      s = CollState(c.timeUs, c.eventId, s.applied + 1, entries)
      CollSnapshot(userId, c.timeUs, c.eventId, s.applied, entries)
    }
    if (ordered.nonEmpty) state.update(s)
    out.iterator
  }

  /** Wire a streaming Dataset of collection changes into per-key
    * stateful replication. Pair with
    * `.writeStream.option("checkpointLocation", dir)`; the state store
    * carries the live collections across restarts. */
  def consume(spark: SparkSession, changes: Dataset[CollChange]): Dataset[CollSnapshot] = {
    import spark.implicits._
    changes.groupByKey(_.userId)
      .flatMapGroupsWithState[CollState, CollSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(applyGroup)
  }

  // ---- list cells ----------------------------------------------------

  /** One LIST-cell change: a list is internally map<timeuuid, value>
    * (ListSetIdxTimeUUIDAssignment.java), so `put` keys are
    * timeuuid-like longs — fresh+monotone for appends, existing for
    * SET l[i]; `del` names victim timeuuids; overwrite is the
    * whole-cell tombstone + `put` as the replacement entries. */
  case class ListChange(userId: Long, timeUs: Long, eventId: Long,
      put: Map[Long, Double], del: Seq[Long], overwrite: Boolean) extends HasChangeId

  case class ListState(lastTimeUs: Long, lastEventId: Long,
      applied: Long, entries: Map[Long, Double])

  /** Snapshot after each applied change; `items` is the MATERIALIZED
    * list — surviving entries in timeuuid-key order (the reference's
    * TreeMap walk, UnpreparedUpdateOperationHandler.java:113-120). */
  case class ListSnapshot(userId: Long, timeUs: Long, eventId: Long,
      applied: Long, items: Seq[Double])

  def applyListGroup(userId: Long, changes: Iterator[ListChange],
      state: GroupState[ListState]): Iterator[ListSnapshot] = {
    var s = state.getOption.getOrElse(ListState(Long.MinValue, Long.MinValue, 0L, Map.empty))
    val ordered = freshInOrder(changes, s.lastTimeUs, s.lastEventId)
    val out = ordered.map { c =>
      val entries =
        if (c.overwrite) c.put
        else if (c.del.nonEmpty) s.entries -- c.del
        else s.entries ++ c.put
      s = ListState(c.timeUs, c.eventId, s.applied + 1, entries)
      ListSnapshot(userId, c.timeUs, c.eventId, s.applied,
        entries.toSeq.sortBy(_._1).map(_._2))
    }
    if (ordered.nonEmpty) state.update(s)
    out.iterator
  }

  def consumeList(spark: SparkSession, changes: Dataset[ListChange]): Dataset[ListSnapshot] = {
    import spark.implicits._
    changes.groupByKey(_.userId)
      .flatMapGroupsWithState[ListState, ListSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(applyListGroup)
  }

  // ---- UDT cells -----------------------------------------------------

  /** One UDT-cell change (UdtSetFieldAssignment.java semantics):
    * per field index, Some = per-field set, index in `delIdx` (field
    * None) = per-field delete, None otherwise = untouched; overwrite
    * replaces the whole cell with exactly this change's fields. */
  case class UdtChange(userId: Long, timeUs: Long, eventId: Long,
      f0: Option[Double], f1: Option[Long], f2: Option[String],
      delIdx: Seq[Int], overwrite: Boolean) extends HasChangeId

  case class UdtState(lastTimeUs: Long, lastEventId: Long, applied: Long,
      f0: Option[Double], f1: Option[Long], f2: Option[String])

  case class UdtSnapshot(userId: Long, timeUs: Long, eventId: Long,
      applied: Long, f0: Option[Double], f1: Option[Long], f2: Option[String])

  private def fold[T](prev: Option[T], next: Option[T], deleted: Boolean): Option[T] =
    if (next.isDefined) next else if (deleted) None else prev

  def applyUdtGroup(userId: Long, changes: Iterator[UdtChange],
      state: GroupState[UdtState]): Iterator[UdtSnapshot] = {
    var s = state.getOption.getOrElse(
      UdtState(Long.MinValue, Long.MinValue, 0L, None, None, None))
    val ordered = freshInOrder(changes, s.lastTimeUs, s.lastEventId)
    val out = ordered.map { c =>
      val (p0, p1, p2) =
        if (c.overwrite) (None, None, None) else (s.f0, s.f1, s.f2)
      s = UdtState(c.timeUs, c.eventId, s.applied + 1,
        fold(p0, c.f0, c.delIdx.contains(0)),
        fold(p1, c.f1, c.delIdx.contains(1)),
        fold(p2, c.f2, c.delIdx.contains(2)))
      UdtSnapshot(userId, c.timeUs, c.eventId, s.applied, s.f0, s.f1, s.f2)
    }
    if (ordered.nonEmpty) state.update(s)
    out.iterator
  }

  def consumeUdt(spark: SparkSession, changes: Dataset[UdtChange]): Dataset[UdtSnapshot] = {
    import spark.implicits._
    changes.groupByKey(_.userId)
      .flatMapGroupsWithState[UdtState, UdtSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(applyUdtGroup)
  }
}
