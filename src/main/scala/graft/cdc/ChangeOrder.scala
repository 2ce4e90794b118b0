package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ChangeId order — the one rule every CDC operator here orders by,
  * batch and streaming: per stream, changes are delivered and
  * replicated time first, the change's id breaking ties (the
  * reference's ChangeId = (stream, time) order; the event id stands in
  * for the timeuuid's clock sequence).
  *
  * On top of the order sits the one last-writer-wins fold,
  * [[latestPerKey]]: the newest change per key, tombstones kept. Every
  * replicator verdict — snapshot, slice, time-travel cut, compaction —
  * is that fold, and live state is its result minus the keys whose
  * newest change is a delete ([[livePerKey]]). The delete filter runs
  * AFTER the window, never before it: filtering first would let a
  * deleted key's older write win and resurrect the row. */
object ChangeOrder {

  /** Anything addressed by a CDC ChangeId (timeUs, eventId). */
  trait HasChangeId { def timeUs: Long; def eventId: Long }

  /** A change's ChangeId as a sort / dedupe key. */
  def id(c: HasChangeId): (Long, Long) = (c.timeUs, c.eventId)

  /** Change id (timeUs, eventId) comes strictly after
    * (lastTimeUs, lastEventId): time first, the event id breaking ties. */
  def isAfter(timeUs: Long, eventId: Long, lastTimeUs: Long, lastEventId: Long): Boolean =
    timeUs > lastTimeUs || (timeUs == lastTimeUs && eventId > lastEventId)

  /** [[isAfter]] as a Column (null when an operand is null). */
  def isAfter(time: Column, event: Column, lastTime: Column, lastEvent: Column): Column =
    time > lastTime || (time === lastTime && event > lastEvent)

  /** The row writes of a log: ROW_UPDATE / INSERT / DELETE, the changes
    * every last-writer-wins state is folded from. Pre- and post-image
    * rows describe a write, they are not one. */
  def rowWrites(log: DataFrame): DataFrame =
    log.filter(col("cdc_operation").isin(CdcSchema.RowUpdate, CdcSchema.RowInsert,
      CdcSchema.RowDelete))

  /** Log sort columns in delivery order, oldest change first. */
  val oldestFirst: Seq[Column] = Seq(col("time_us"), col("event_id"))

  /** Log sort columns newest change first — the last-writer-wins order. */
  val newestFirst: Seq[Column] = Seq(col("time_us").desc, col("event_id").desc)

  /** Aggregate: the newest (time, event, carry…) struct of a group —
    * ChangeId order, the carried columns breaking exact ties. */
  def newest(time: Column, event: Column, carry: Column*): Column =
    max(struct(time +: event +: carry: _*))

  /** The newest change per key of a conforming log (`time_us`,
    * `event_id`), every column kept, tombstones included. One window
    * partitioned on the keys: one exchange on the key, partition-local
    * after it. */
  def latestPerKey(changes: DataFrame, keys: String*): DataFrame =
    pickNewest(changes, keys)(identity)

  /** [[latestPerKey]] plus `n_changes`, each key's change count —
    * counted over the same key partitioning before the pick. */
  def latestPerKeyCounted(changes: DataFrame, keys: String*): DataFrame =
    pickNewest(changes, keys)(
      _.withColumn("n_changes", count(lit(1)).over(Window.partitionBy(keys.map(col): _*))))

  /** Live state: [[latestPerKey]] minus the keys whose newest change is
    * a ROW_DELETE. */
  def livePerKey(changes: DataFrame, keys: String*): DataFrame =
    latestPerKey(changes, keys: _*).filter(col("cdc_operation") =!= CdcSchema.RowDelete)

  private def pickNewest(changes: DataFrame, keys: Seq[String])(
      beforePick: DataFrame => DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(newestFirst: _*)
    beforePick(changes.withColumn("rn", row_number().over(w)))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** One group's changes after the mark (lastTimeUs, lastEventId), each
    * change id once, in ChangeId order — the Scala side of the rule,
    * behind every per-stream and per-key consumer fold. */
  def freshInOrder[C <: HasChangeId](changes: Iterator[C],
      lastTimeUs: Long, lastEventId: Long): Seq[C] =
    changes.toSeq
      .filter(c => isAfter(c.timeUs, c.eventId, lastTimeUs, lastEventId))
      .distinctBy(id)
      .sortBy(id)
}
