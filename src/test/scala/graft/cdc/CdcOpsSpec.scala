package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Edge-semantics spec for the replication operators over
  * hand-crafted logs — behaviors the reference's operation handlers
  * define (replicator operations package) that the synthetic-data
  * oracle exercises only statistically:
  * resurrection after partition delete, range-bound inclusivity,
  * postimage-wins, delete-wins-over-older-write. */
class CdcOpsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import CdcSchema._

  /** Build a conforming log from (stream, timeUs, eventId, op, user, value). */
  private def mkLog(rows: Seq[(Long, Long, Long, Int, Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("cdc_stream_id", "time_us", "event_id", "cdc_operation", "user_id", "value")
      .withColumn("props", lit("{}"))
      .withColumn("cdc_ttl", lit(null).cast("long"))
      .withColumn("cdc_batch_seq_no", (col("event_id") % 4).cast("int"))
      .withColumn("cdc_end_of_batch", col("event_id") % 4 === 3)
      .withColumn("cdc_deleted_value", lit(false))
  }

  test("partition delete masks older rows; later writes resurrect") {
    // user 1: write ck=2 at t=10, partition delete at t=50, write ck=6 at t=100
    val log = mkLog(Seq(
      (1L, 10L, 2L, RowInsert, 1L, 1.0),
      (1L, 50L, 100L, PartitionDelete, 1L, 0.0),
      (1L, 100L, 6L, RowInsert, 1L, 2.0)))
    val out = CdcOps.partitionDeleteFromLog(log).collect()
    assert(out.map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("ck"))).toSeq ==
      Seq((1L, 6))) // ck=2 masked (10 <= 50), ck=6 resurrected (100 > 50)
  }

  test("LWW: newest write wins per key; a newer delete kills the row") {
    val log = mkLog(Seq(
      (1L, 10L, 1L, RowInsert, 1L, 1.0),
      (1L, 20L, 2L, RowUpdate, 1L, 2.0),   // user 1: newest write → 2.0
      (2L, 10L, 3L, RowInsert, 2L, 3.0),
      (2L, 20L, 4L, RowDelete, 2L, 0.0)))  // user 2: newest op is delete → gone
    val out = CdcOps.replicateLwwFromLog(log).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("user_id") == 1L)
    assert(out.head.getAs[Double]("value") == 2.0)
  }

  test("range delete respects bound inclusivity and apply time") {
    // bounds pair on stream 7: left INCLUSIVE ck=4 (event 20), right EXCLUSIVE ck=8 (event 24)
    // rows: ck 4 (masked, inclusive), ck 5 (masked), ck 8 (kept, exclusive right),
    //       ck 6 written AFTER the tombstone (kept)
    val log = mkLog(Seq(
      (7L, 10L, 4L, RowInsert, 7L, 1.0),   // ck 4
      (7L, 11L, 5L, RowInsert, 7L, 2.0),   // ck 5
      (7L, 12L, 8L, RowInsert, 7L, 3.0),   // ck 8
      (7L, 50L, 20L, RangeDeleteInclLeft, 7L, 0.0),  // left bound ck=20%16=4 incl
      (7L, 51L, 24L, RangeDeleteExclRight, 7L, 0.0), // right bound ck=24%16=8 excl
      (7L, 90L, 6L, RowInsert, 7L, 4.0)))  // ck 6 after tombstone
    val out = CdcOps.replicateFullFromLog(log).collect()
      .map(r => (r.getAs[Int]("ck"), r.getAs[Double]("value"))).toSet
    assert(out == Set((8, 3.0), (6, 4.0)))
  }

  test("range delete masks only its own stream's write; the broadcast hashes user_id alone") {
    // user 5 writes ck 4 on stream 2; a paired range delete of user 5
    // covers ck 4 (left inclusive ck 4, right exclusive ck 8)
    def log(rdStream: Long) = mkLog(Seq(
      (2L, 10L, 4L, RowInsert, 5L, 1.0),
      (rdStream, 50L, 20L, RangeDeleteInclLeft, 5L, 0.0),
      (rdStream, 51L, 24L, RangeDeleteExclRight, 5L, 0.0)))
    def cks(df: DataFrame) = df.collect().map(_.getAs[Int]("ck")).toSeq
    // replicateFullSql pairs a write with a range delete of its own stream
    assert(cks(CdcOps.replicateFullFromLog(log(3L))) == Seq(4))
    val sameStream = CdcOps.replicateFullFromLog(log(2L))
    assert(cks(sameStream).isEmpty)
    // the stream match stays a residual predicate: one bigint key keeps
    // the broadcast a LongHashedRelation, where two keys build an
    // UnsafeHashedRelation with a fixed 16 MB page
    val plan = sameStream.queryExecution.executedPlan
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan)
    val rangeJoins = collect(plan) { case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j }
    assert(rangeJoins.size == 1, plan)
    assert(rangeJoins.head.leftKeys.size == 1, rangeJoins.head)
  }

  test("snapshot merge equals full replay at any cutoff; actions are honest") {
    // user 1: snapshot-era insert, batch update        → updated
    // user 2: snapshot-era insert, no batch change     → carried
    // user 3: first write in the batch                 → inserted
    // user 4: snapshot-era insert, batch delete        → gone
    // user 5: deleted in snapshot era, batch re-insert → inserted
    val log = mkLog(Seq(
      (1L, 10L, 1L, RowInsert, 1L, 1.0),
      (1L, 80L, 2L, RowUpdate, 1L, 1.5),
      (2L, 20L, 3L, RowInsert, 2L, 2.0),
      (3L, 70L, 4L, RowInsert, 3L, 3.0),
      (4L, 30L, 5L, RowInsert, 4L, 4.0),
      (4L, 90L, 6L, RowDelete, 4L, 0.0),
      (5L, 10L, 7L, RowInsert, 5L, 5.0),
      (5L, 40L, 8L, RowDelete, 5L, 0.0),
      (5L, 60L, 9L, RowInsert, 5L, 5.5)))
    val merged = CdcOps.snapshotMergeFromLog(log, cutoffUs = 50L).collect()
    val actions = merged.map(r =>
      r.getAs[Long]("user_id") -> r.getAs[String]("merge_action")).toMap
    assert(actions == Map(1L -> "updated", 2L -> "carried", 3L -> "inserted", 5L -> "inserted"))

    // merged state (any cutoff) must equal the full LWW replay
    val replay = CdcOps.replicateLwwFromLog(log).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
        r.getAs[Long]("last_write_us"), r.getAs[Double]("value"))).toSet
    for (cutoff <- Seq(0L, 50L, 1000L)) {
      val m = CdcOps.snapshotMergeFromLog(log, cutoff).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
          r.getAs[Long]("last_write_us"), r.getAs[Double]("value"))).toSet
      assert(m == replay, s"cutoff $cutoff")
    }
    // degenerate cutoffs: everything inserted / everything carried
    assert(CdcOps.snapshotMergeFromLog(log, 0L).collect()
      .forall(_.getAs[String]("merge_action") == "inserted"))
    assert(CdcOps.snapshotMergeFromLog(log, 1000L).collect()
      .forall(_.getAs[String]("merge_action") == "carried"))
  }

  test("compacted log replays to exactly the full log's LWW state") {
    val log = mkLog(Seq(
      (1L, 10L, 1L, RowInsert, 1L, 1.0),
      (1L, 20L, 2L, RowUpdate, 1L, 2.0),
      (1L, 30L, 3L, RowUpdate, 1L, 3.0),   // user 1: 2 superseded
      (2L, 10L, 4L, RowInsert, 2L, 4.0),
      (2L, 40L, 5L, RowDelete, 2L, 0.0),   // user 2: tombstone survives
      (3L, 15L, 6L, RowInsert, 3L, 5.0)))  // user 3: nothing superseded
    val compacted = CdcOps.compactionFromLog(log)
    val byUser = compacted.collect().map(r => r.getAs[Long]("user_id") ->
      (r.getAs[Boolean]("is_tombstone"), r.getAs[Long]("n_superseded"))).toMap
    assert(byUser == Map(1L -> (false, 2L), 2L -> (true, 1L), 3L -> (false, 0L)))

    // replaying the compacted log reproduces the full log's LWW state
    val replayable = compacted.select(
      col("user_id"), col("last_event_id").as("event_id"),
      col("last_write_us").as("time_us"), col("last_op").as("cdc_operation"),
      col("value"), col("props"))
    val fromCompacted = CdcOps.replicateLwwFromLog(replayable).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value"))).toSet
    val fromFull = CdcOps.replicateLwwFromLog(log).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value"))).toSet
    assert(fromCompacted == fromFull)
  }

  test("TTL expiry: a write is dead exactly when write_time + ttl <= now") {
    import org.apache.spark.sql.functions.{col, when, lit}
    val boundary = CdcOps.NowUs - 86400L * 1000000L // expires exactly at NowUs
    val log = mkLog(Seq(
      (1L, boundary, 1L, RowInsert, 1L, 1.0),       // expired (== now)
      (1L, boundary + 1, 17L, RowInsert, 2L, 2.0))) // alive by 1 µs
      .withColumn("cdc_ttl", when(col("event_id").isin(1L, 17L), lit(86400L)))
    val out = CdcOps.replicateTtlFromLog(log).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Boolean]("is_expired")).toMap
    assert(out(1L) && !out(2L))
  }

  test("postimage is authoritative like an upsert") {
    val log = mkLog(Seq(
      (2L, 10L, 3L, RowInsert, 2L, 1.0),
      (2L, 20L, 3L, PostImage, 2L, 9.0)))  // same key, newer postimage
    val out = CdcOps.replicateFullFromLog(log).collect()
    assert(out.length == 1 && out.head.getAs[Double]("value") == 9.0)
  }

  test("pairing consumes the most recent unconsumed left bound") {
    val log = mkLog(Seq(
      (3L, 10L, 21L, RangeDeleteInclLeft, 3L, 0.0), // left A (ck 5)
      (3L, 20L, 37L, RangeDeleteExclLeft, 3L, 0.0), // left B (ck 5) — most recent
      (3L, 30L, 23L, RangeDeleteInclRight, 3L, 0.0))) // right pairs with B
    val pairs = CdcOps.rangeDeleteFromLog(log).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("left_event_id") == 37L)
    assert(!pairs.head.getAs[Boolean]("left_inclusive")) // B was exclusive
  }

  test("a left bound is consumed at most once: a second right yields no pair") {
    // reference: consumeStart REMOVES the start; a second end has no
    // start (IllegalStateException) — relationally, no pair
    val log = mkLog(Seq(
      (3L, 10L, 21L, RangeDeleteInclLeft, 3L, 0.0),   // left (ck 5)
      (3L, 20L, 24L, RangeDeleteInclRight, 3L, 0.0),  // right 1 → pairs
      (3L, 30L, 28L, RangeDeleteExclRight, 3L, 0.0))) // right 2 → NO pair
    val pairs = CdcOps.rangeDeleteFromLog(log).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("right_event_id") == 24L)
  }

  test("time travel: snapshots stop at their cutoff; the head snapshot is the LWW state") {
    val dir = "/root/testdata/sf0.001"
    val rows = CdcOps.timeTravel(spark, dir).collect()
    val byCut = rows.groupBy(_.getAs[String]("as_of"))
    assert(byCut.keySet == CdcOps.TimeTravelCutoffs.map(_._1).toSet)
    // every snapshot row's last write precedes its cutoff
    val cutoffUs = CdcOps.TimeTravelCutoffs.toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("last_write_us") < cutoffUs(r.getAs[String]("as_of")))
    }
    // the head snapshot IS replicate_lww's final state, row for row
    val head = byCut("head")
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
        r.getAs[Long]("last_write_us"))).toSet
    val lww = CdcOps.replicateLww(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
        r.getAs[Long]("last_write_us"))).toSet
    assert(head == lww)
    // an earlier snapshot never reflects a write at/after its cutoff,
    // and each user's state only moves FORWARD across cutoffs
    val g1 = byCut("gen1_switch").map(r =>
      r.getAs[Long]("user_id") -> r.getAs[Long]("last_write_us")).toMap
    val g2 = byCut("gen2_switch").map(r =>
      r.getAs[Long]("user_id") -> r.getAs[Long]("last_write_us")).toMap
    g1.foreach { case (u, t1) => g2.get(u).foreach(t2 => assert(t2 >= t1)) }
  }
}
