package graft.streaming

import graft.cdc.MvAlgebra.{asValue, foldLive, insert, liveBucketed, retract}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** STREAMING twin of [[graft.cdc.CdcOps.mvMaintainFromLog]] (SURVEY
  * §5 sketch, made concrete): continuously maintain the aggregate MV
  * `bucket → (COUNT(*), SUM(value))` over the live LWW table from the
  * CDC stream, with per-batch cost O(batch + touched keys + |MV|) —
  * never a log replay.
  *
  * Composition is the whole design: the KEY state is exactly
  * [[StreamingSnapshotMerge]]'s snapshot (reduce → idempotent
  * out-of-order-safe merge, in the shared body
  * [[StreamingSnapshotMerge.attachMv]]), and the MV delta per batch is
  * the batch operator's algebra — for every key the batch TOUCHED,
  * retract its pre-merge contribution and insert its post-merge one.
  * Read from the MERGED state (not the batch row), a stale or replayed
  * change whose merge is a no-op produces a zero delta.
  *
  * The contributions, their fold and the exact-cents arithmetic are
  * the batch operator's own, from [[graft.cdc.MvAlgebra]], so the
  * maintained MV is bit-equal to a full recompute at every batch
  * boundary (spec-asserted against [[graft.cdc.CdcOps
  * .mvMaintainFromLog]] and a local replay). */
object StreamingMvMaintain {

  val mvSchema: StructType = StructType(Seq(
    StructField("bucket", LongType),
    StructField("n_rows", LongType),
    StructField("cents", LongType)))

  def emptyMv(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], mvSchema)

  /** Apply one batch's worth of deltas: retract the touched keys'
    * contributions from the PRE-merge state, insert them from the
    * POST-merge state, fold into the MV, drop emptied buckets. */
  def applyBatch(mv: DataFrame, preState: DataFrame, postState: DataFrame,
      touched: DataFrame): DataFrame = {
    def touchedRows(state: DataFrame) =
      liveBucketed(state).join(touched, Seq("user_id"), "left_semi")
    foldLive(mv, retract(touchedRows(preState), col("bucket"), "c")
      .unionByName(insert(touchedRows(postState), col("bucket"), "c")), "bucket", "cents")
  }

  /** Driver-held MV for specs/smoke runs (production swaps into a
    * transactional table bucketed on `bucket`). Its view: (bucket,
    * n_rows, sum_value). */
  final class InMemoryMvStore(spark: SparkSession) extends FrameStore(emptyMv(spark), _
    .select(col("bucket"), col("n_rows"), asValue("cents").as("sum_value"))
    .orderBy(col("bucket")))

  /** Attach the maintainer to a streaming CDC-log DataFrame
    * (conforming columns: user_id, event_id, time_us, cdc_operation,
    * value, props) through the shared body. */
  def attach(changes: DataFrame, keyStore: StreamingSnapshotMerge.InMemorySnapshotStore,
      mvStore: InMemoryMvStore): StreamingQuery =
    StreamingSnapshotMerge.attachMv(changes, keyStore, mvStore)(applyBatch)
}
