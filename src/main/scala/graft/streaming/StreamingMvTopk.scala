package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.cdc.MvAlgebra.{asValue, recomputeFromStates, topK}

/** STREAMING twin of [[graft.cdc.CdcOps.mvTopkFromLog]] — the TOP-K
  * MV (`bucket → K largest values`) maintained continuously from the
  * CDC stream, completing the MV family's batch/streaming matrix
  * (SUM/COUNT [[StreamingMvMaintain]], MIN/MAX [[StreamingMvMinMax]],
  * JOIN [[StreamingMvJoin]], TOP-K here).
  *
  * Top-k is the bounded-rank generalization of MIN/MAX (top-1 from
  * both ends) and shares its non-self-maintainability: an insert
  * merges into a K-buffer, but a delete of a RANKED value needs the
  * (K+1)-th — which no delta stream carries; it lives only in the
  * full key state. So it shares the MIN/MAX twin's composition too:
  * the body [[StreamingSnapshotMerge.attachMv]], and per micro-batch
  * a recompute of exactly the touched buckets' rank lists from the
  * POST-merge state ([[graft.cdc.MvAlgebra.recomputeFromStates]]), every
  * other bucket's rank rows carried verbatim: cost O(batch + rows of
  * touched buckets + K·|MV|), never O(log) and never a full-state
  * re-rank. */
object StreamingMvTopk {

  val mvSchema: StructType = StructType(Seq(
    StructField("bucket", LongType),
    StructField("rk", LongType),
    StructField("cents", LongType)))

  def emptyMv(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], mvSchema)

  /** One micro-batch: recompute the touched buckets' rank lists from
    * the POST-merge state, carry the rest of the MV verbatim. The
    * rank tiebreak is the batch operator's (cents DESC, user_id DESC),
    * so maintained and recomputed editions are value-identical. */
  def applyBatch(mv: DataFrame, preState: DataFrame, postState: DataFrame,
      touched: DataFrame): DataFrame =
    recomputeFromStates(mv, preState, postState, touched)(topK(_, "c")
      .select(col("bucket"), col("rk").cast("long").as("rk"), col("c").as("cents")))

  /** Driver-held MV for specs/smoke runs (production swaps into a
    * transactional table bucketed on `bucket` — the
    * [[graft.cdc.CdcOps.writeMvSnapshot]] layout). Its view: (bucket,
    * rk, value). */
  final class InMemoryMvStore(spark: SparkSession) extends FrameStore(emptyMv(spark), _
    .select(col("bucket"), col("rk"), asValue("cents").as("value"))
    .orderBy(col("bucket"), col("rk")))

  /** Attach the maintainer to a streaming CDC-log DataFrame
    * (conforming columns: user_id, event_id, time_us, cdc_operation,
    * value, props) through the shared body. */
  def attach(changes: DataFrame, keyStore: StreamingSnapshotMerge.InMemorySnapshotStore,
      mvStore: InMemoryMvStore): StreamingQuery =
    StreamingSnapshotMerge.attachMv(changes, keyStore, mvStore)(applyBatch)
}
