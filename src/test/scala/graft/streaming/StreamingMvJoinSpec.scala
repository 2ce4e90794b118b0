package graft.streaming

import graft.SparkSpec
import graft.cdc.{CdcOps, CdcSchema}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** StreamingMvJoin contract: the streaming join-view maintainer must
  * equal the oracle-gated batch operator at every micro-batch
  * boundary — including the join-MV-only cases happening LIVE (a
  * dimension write moving its whole cohort with no fact write in the
  * batch; a dimension delete dropping the cohort) — replays must be
  * zero-delta, and a randomized two-relation sweep must match the
  * batch recompute across seeds, collisions and tombstones. */
class StreamingMvJoinSpec extends SparkSpec {

  import CdcSchema._

  // attach() defaults: dim writes are event_id % 17 == 0, keyed by
  // user_id % 100
  private def factLog(df: DataFrame, isDim: Column, segmentOf: Column): DataFrame =
    df.filter(!isDim)
      .select(col("user_id"), segmentOf.as("segment_id"), col("event_id"),
        col("time_us"), col("cdc_operation"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))

  private def dimLog(df: DataFrame, isDim: Column, segmentOf: Column): DataFrame =
    df.filter(isDim)
      .select(segmentOf.as("segment_id"), col("event_id"), col("time_us"),
        col("cdc_operation"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("tier_cents"))

  private def replayMv(prefix: Seq[MvChange], isDim: Column,
      segmentOf: Column): Set[(Long, Long, Double)] = {
    import spark.implicits._
    val df = prefix.toDF()
    CdcOps.mvJoinMaintainFromLogs(
        factLog(df, isDim, segmentOf), dimLog(df, isDim, segmentOf), cutoffUs = -1L)
      .filter(col("n_rows") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
  }

  private def view(store: StreamingMvJoin.InMemoryMvStore): Set[(Long, Long, Double)] =
    store.readView().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private val batches: Seq[Seq[MvChange]] = Seq(
    // tier groups are floor(tier / 20.00)
    Seq(MvChange(101L, 1L, 10L, RowInsert, 10.00, "{}"),  // fact seg 1
      MvChange(201L, 2L, 20L, RowInsert, 20.00, "{}"),    // fact seg 1
      MvChange(102L, 3L, 30L, RowInsert, 30.00, "{}"),    // fact seg 2
      MvChange(105L, 4L, 40L, RowInsert, 50.00, "{}"),    // fact seg 5
      MvChange(1L, 17L, 50L, RowInsert, 20.00, "{}"),     // dim seg 1 → t1
      MvChange(2L, 34L, 60L, RowInsert, 40.00, "{}"),     // dim seg 2 → t2
      MvChange(5L, 51L, 70L, RowInsert, 60.00, "{}")),    // dim seg 5 → t3
    // the cohort move LIVE: one dimension write, zero fact writes
    Seq(MvChange(1L, 68L, 110L, RowUpdate, 90.00, "{}")), // seg 1 → t4
    // dimension delete drops the cohort; a fact insert into the
    // deleted segment contributes nothing (inner-join semantics)
    Seq(MvChange(2L, 85L, 120L, RowDelete, 0.0, "{}"),
      MvChange(302L, 8L, 125L, RowInsert, 70.00, "{}")),
    // stale late arrivals: older than what already merged → zero delta
    Seq(MvChange(101L, 9L, 5L, RowUpdate, 99.00, "{}"),
      MvChange(1L, 102L, 30L, RowUpdate, 10.00, "{}")),
    // a fact update inside the surviving cohort
    Seq(MvChange(201L, 10L, 200L, RowUpdate, 25.00, "{}"))
  )

  test("maintained join MV ≡ batch operator at EVERY micro-batch boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val isDim = col("event_id") % 17 === 0
    val segOf = col("user_id") % 100
    val input = MemoryStream[MvChange]
    val factStore = new StreamingSnapshotMerge.InMemorySnapshotStore(spark)
    val dimStore = new StreamingSnapshotMerge.InMemorySnapshotStore(spark)
    val mvStore = new StreamingMvJoin.InMemoryMvStore(spark)
    val q = StreamingMvJoin.attach(input.toDF(), factStore, dimStore, mvStore)
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        input.addData(b); q.processAllAvailable()
        val got = view(mvStore)
        val expected = replayMv(batches.take(i + 1).flatten, isDim, segOf)
        assert(got == expected, s"after batch $i: $got vs $expected")
        if (i == 1) // the join-MV-only case, pinned live
          assert(got.contains((4L, 2L, 30.00)) && !got.exists(_._1 == 1L),
            s"dimension write did not move its cohort: $got")
        if (i == 2)
          assert(!got.exists(_._1 == 2L),
            s"dimension delete did not drop its cohort: $got")
      }
    } finally q.stop()
    assert(view(mvStore) == Set((4L, 2L, 35.00), (3L, 1L, 50.00)))
  }

  test("at-least-once: replaying an already-applied batch is a zero delta") {
    import spark.implicits._
    val isDim = col("event_id") % 17 === 0
    val segOf = col("user_id") % 100
    val all = batches.flatten.toDF()
    def reduceF(df: DataFrame) = StreamingSnapshotMerge.reduceSlice(df.filter(!isDim))
    def reduceD(df: DataFrame) = StreamingSnapshotMerge.reduceSlice(
      df.filter(isDim).withColumn("user_id", segOf))
    val empty = StreamingSnapshotMerge.emptySnapshot(spark)
    val fR = reduceF(all).localCheckpoint()
    val dR = reduceD(all).localCheckpoint()
    val fState = StreamingSnapshotMerge.mergeReduced(empty, fR).localCheckpoint()
    val dState = StreamingSnapshotMerge.mergeReduced(empty, dR).localCheckpoint()
    val mv = StreamingMvJoin.applyBatch(StreamingMvJoin.emptyMv(spark),
      empty, fState, empty, dState,
      fR.select(col("user_id")), dR.select(col("user_id").as("segment_id")),
      segOf).localCheckpoint()
    // replay the last batch against the settled state
    val lastDf = batches.last.toDF()
    val fR2 = reduceF(lastDf).localCheckpoint()
    val dR2 = reduceD(lastDf).localCheckpoint()
    val fPost = StreamingSnapshotMerge.mergeReduced(fState, fR2)
    val dPost = StreamingSnapshotMerge.mergeReduced(dState, dR2)
    val mvAfter = StreamingMvJoin.applyBatch(mv, fState, fPost, dState, dPost,
      fR2.select(col("user_id")), dR2.select(col("user_id").as("segment_id")), segOf)
    assert(mvAfter.collect().toSet == mv.collect().toSet)
  }

  test("randomized sweep: maintainer ≡ batch recompute across seeds, collisions, tombstones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // custom split: dim writes every 5th event id, six segments
    val isDim = col("event_id") % 5 === 0
    val segOf = col("user_id") % 6
    for (seed <- Seq(13, 37)) {
      val rnd = new scala.util.Random(seed)
      var eid = 0L
      val ops = (1 to 4).map { _ =>
        (1 to 60).map { _ =>
          eid += 1
          val op = if (rnd.nextInt(5) == 0) RowDelete else RowInsert
          MvChange(rnd.nextInt(30).toLong, eid, rnd.nextInt(500).toLong, op,
            (rnd.nextInt(200) - 40).toDouble, "{}")
        }
      }
      val input = MemoryStream[MvChange]
      val factStore = new StreamingSnapshotMerge.InMemorySnapshotStore(spark)
      val dimStore = new StreamingSnapshotMerge.InMemorySnapshotStore(spark)
      val mvStore = new StreamingMvJoin.InMemoryMvStore(spark)
      val q = StreamingMvJoin.attach(input.toDF(), factStore, dimStore, mvStore,
        isDim, segOf)
      try {
        ops.zipWithIndex.foreach { case (b, i) =>
          input.addData(b); q.processAllAvailable()
          val got = view(mvStore)
          val expected = replayMv(ops.take(i + 1).flatten, isDim, segOf)
          assert(got == expected, s"seed $seed batch $i: $got vs $expected")
        }
      } finally q.stop()
    }
  }

  test("an image row newest in the fact and the dimension slice is no write, batch and twin alike") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val isDim = col("event_id") % 17 === 0
    val segOf = col("user_id") % 100
    val changes = Seq(
      MvChange(101L, 1L, 10L, RowInsert, 10.00, "{}"),  // fact seg 1
      MvChange(102L, 2L, 20L, RowInsert, 30.00, "{}"),  // fact seg 2
      MvChange(1L, 17L, 30L, RowInsert, 20.00, "{}"),   // dim seg 1 → t1
      MvChange(2L, 34L, 40L, RowInsert, 40.00, "{}"),   // dim seg 2 → t2
      // the newest change of fact key 101 and of dimension segment 2
      // is an image row: it describes a write, it is not one
      MvChange(101L, 3L, 50L, PostImage, 500.00, "{}"),
      MvChange(2L, 51L, 60L, PreImage, 900.00, "{}"))
    val input = MemoryStream[MvChange]
    val factStore = new StreamingSnapshotMerge.InMemorySnapshotStore(spark)
    val dimStore = new StreamingSnapshotMerge.InMemorySnapshotStore(spark)
    val mvStore = new StreamingMvJoin.InMemoryMvStore(spark)
    val q = StreamingMvJoin.attach(input.toDF(), factStore, dimStore, mvStore)
    try { input.addData(changes); q.processAllAvailable() } finally q.stop()
    val batch = replayMv(changes, isDim, segOf)
    assert(batch == Set((1L, 1L, 10.00), (2L, 1L, 30.00)), batch)
    assert(view(mvStore) == batch)
  }
}
