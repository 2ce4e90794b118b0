package graft.streaming

import graft.cdc.MvAlgebra.{Cents, asValue, foldLive, joinInsert, joinRetract}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** STREAMING twin of [[graft.cdc.CdcOps.mvJoinMaintainFromLogs]] —
  * the JOIN view (`t → COUNT, SUM over fact ⋈ dim`) maintained
  * continuously from the CDC stream. Completes the batch/streaming
  * symmetry for the family's multi-relation case the way
  * [[StreamingMvMaintain]] (SUM/COUNT) and [[StreamingMvMinMax]]
  * (MIN/MAX) did for the single-relation cases.
  *
  * TWO key states, one per relation — both are
  * [[StreamingSnapshotMerge]]'s idempotent merged snapshots (the
  * dimension log rides the same machinery keyed by segment). Per
  * micro-batch the maintainer applies the join delta rules with the
  * PRE/POST state pair as the preimage/postimage stores: the affected
  * fact keys are the batch's touched users ∪ the COHORT (fact rows of
  * touched segments, read from both state editions); their PRE
  * contributions (pre-fact ⋈ pre-dim) retract and their POST
  * contributions (post-fact ⋈ post-dim) insert. A dimension write
  * therefore moves its whole cohort between MV groups with no fact
  * row in the batch, and a dimension delete drops the cohort —
  * inner-join semantics, exactly the batch operator: the retract /
  * insert rules and the fold are its own, from [[graft.cdc.MvAlgebra]].
  *
  * Idempotency is INHERITED: a replayed batch merges as a no-op, so
  * pre ≡ post, retract ≡ insert, and the delta is exactly zero.
  * Cost per batch: O(batch + fact rows of touched segments + |MV|),
  * never O(log) and never a full re-join.
  *
  * The driver-entry segment contract ([[graft.cdc.CdcOps.mvJoinMaintain]])
  * is the default here too: dimension writes are the `event_id % 17`
  * rows keyed by `user_id % 100`. A production fact table carrying an
  * explicit segment column swaps the two `Column` parameters — the
  * delta algebra does not change. */
object StreamingMvJoin {

  val mvSchema: StructType = StructType(Seq(
    StructField("t", LongType),
    StructField("n_rows", LongType),
    StructField("sum_cents", LongType)))

  def emptyMv(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], mvSchema)

  /** Live fact rows of a merged key state: (user_id, segment_id,
    * cents) in exact integer cents. */
  private def factRows(state: DataFrame, segmentOf: Column): DataFrame =
    state.filter(!col("deleted"))
      .withColumn("cents", Cents)
      .withColumn("segment_id", segmentOf)
      .select(col("user_id"), col("segment_id"), col("cents"))

  /** Live dimension rows of a merged key state (stored keyed as
    * `user_id` = segment): (segment_id, tier_cents). */
  private def dimRows(state: DataFrame): DataFrame =
    state.filter(!col("deleted"))
      .select(col("user_id").as("segment_id"), Cents.as("tier_cents"))

  /** One micro-batch of the join delta rules over the pre/post state
    * pairs. `touchedUsers`: the fact batch's keys; `touchedSegs`: the
    * dimension batch's keys (one column, `segment_id`). */
  def applyBatch(mv: DataFrame,
      preFact: DataFrame, postFact: DataFrame,
      preDim: DataFrame, postDim: DataFrame,
      touchedUsers: DataFrame, touchedSegs: DataFrame,
      segmentOf: Column): DataFrame = {
    val preF = factRows(preFact, segmentOf)
    val postF = factRows(postFact, segmentOf)
    val affected = touchedUsers
      .unionByName(preF.join(touchedSegs, Seq("segment_id"), "left_semi")
        .select(col("user_id")))
      .unionByName(postF.join(touchedSegs, Seq("segment_id"), "left_semi")
        .select(col("user_id")))
      .distinct()
    val retract = joinRetract(preF.join(affected, Seq("user_id"), "left_semi"), dimRows(preDim))
    val insert = joinInsert(postF.join(affected, Seq("user_id"), "left_semi"), dimRows(postDim))
    foldLive(mv, retract.unionByName(insert), "t", "sum_cents")
  }

  /** Driver-held MV for specs/smoke runs (production swaps into a
    * transactional table keyed on `t`). Its view: (t, n_rows,
    * sum_value). */
  final class InMemoryMvStore(spark: SparkSession) extends FrameStore(emptyMv(spark), _
    .select(col("t"), col("n_rows"), asValue("sum_cents").as("sum_value"))
    .orderBy(col("t")))

  /** Attach the maintainer to a streaming CDC-log DataFrame
    * (conforming columns: user_id, event_id, time_us, cdc_operation,
    * value, props). Each micro-batch: split fact/dimension writes →
    * merge both key states → join delta rules → swap all three. */
  def attach(changes: DataFrame,
      factStore: StreamingSnapshotMerge.InMemorySnapshotStore,
      dimStore: StreamingSnapshotMerge.InMemorySnapshotStore,
      mvStore: InMemoryMvStore,
      isDim: Column = col("event_id") % 17 === 0,
      segmentOf: Column = col("user_id") % 100): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val fReduced = StreamingSnapshotMerge.reduceSlice(df.filter(!isDim))
          .localCheckpoint()
        // the dimension log rides the same merge machinery keyed by
        // segment: rebase user_id to the segment key BEFORE reducing
        val dReduced = StreamingSnapshotMerge.reduceSlice(
            df.filter(isDim).withColumn("user_id", segmentOf))
          .localCheckpoint()
        val preF = factStore.read()
        val postF = StreamingSnapshotMerge.mergeReduced(preF, fReduced).localCheckpoint()
        val preD = dimStore.read()
        val postD = StreamingSnapshotMerge.mergeReduced(preD, dReduced).localCheckpoint()
        mvStore.swap(applyBatch(mvStore.read(), preF, postF, preD, postD,
          fReduced.select(col("user_id")),
          dReduced.select(col("user_id").as("segment_id")),
          segmentOf).localCheckpoint())
        factStore.swap(postF)
        dimStore.swap(postD)
      }
      .start()
}
