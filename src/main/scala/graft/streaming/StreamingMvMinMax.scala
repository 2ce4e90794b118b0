package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.cdc.MvAlgebra.{asValue, minMax, recomputeFromStates}

/** STREAMING twin of [[graft.cdc.CdcOps.mvMinMaxFromLog]] — the
  * NON-self-maintainable MV (`bucket → COUNT, MIN, MAX`) maintained
  * continuously from the CDC stream. Completes the batch/streaming
  * symmetry [[StreamingMvMaintain]] established for the SUM/COUNT
  * algebra: same composition (the key state IS
  * [[StreamingSnapshotMerge]]'s idempotent merged snapshot, the body
  * is its shared [[StreamingSnapshotMerge.attachMv]]), same per-batch
  * cost bound, but deletion of a bucket's extremum cannot be
  * retracted from a delta stream — the runner-up lives only in the
  * full key state. So per batch the maintainer RECOMPUTES exactly the
  * touched buckets (the batch operator's answer, CdcOps.scala
  * mvMinMaxFromLog) from the POST-merge state and carries every other
  * MV row untouched ([[graft.cdc.MvAlgebra.recomputeFromStates]]): cost
  * O(batch + rows of touched buckets + |MV|), never O(log) and never
  * a full-state re-aggregation. */
object StreamingMvMinMax {

  val mvSchema: StructType = StructType(Seq(
    StructField("bucket", LongType),
    StructField("n_rows", LongType),
    StructField("mn_cents", LongType),
    StructField("mx_cents", LongType)))

  def emptyMv(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], mvSchema)

  /** One micro-batch: recompute the touched buckets from the
    * POST-merge state, carry the rest of the MV verbatim. */
  def applyBatch(mv: DataFrame, preState: DataFrame, postState: DataFrame,
      touched: DataFrame): DataFrame =
    recomputeFromStates(mv, preState, postState, touched)(
      minMax(_, "c")("n_rows", "mn_cents", "mx_cents"))

  /** Driver-held MV for specs/smoke runs (production swaps into a
    * transactional table bucketed on `bucket` — the
    * [[graft.cdc.CdcOps.writeMvSnapshot]] layout). Its view: (bucket,
    * n_rows, min_value, max_value). */
  final class InMemoryMvStore(spark: SparkSession) extends FrameStore(emptyMv(spark), _
    .select(col("bucket"), col("n_rows"),
      asValue("mn_cents").as("min_value"), asValue("mx_cents").as("max_value"))
    .orderBy(col("bucket")))

  /** Attach the maintainer to a streaming CDC-log DataFrame
    * (conforming columns: user_id, event_id, time_us, cdc_operation,
    * value, props) through the shared body. */
  def attach(changes: DataFrame, keyStore: StreamingSnapshotMerge.InMemorySnapshotStore,
      mvStore: InMemoryMvStore): StreamingQuery =
    StreamingSnapshotMerge.attachMv(changes, keyStore, mvStore)(applyBatch)
}
