package graft.streaming

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
  * Arithmetic is the batch operator's exact integer cents, so the
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

  /** Live snapshot rows with their exact-cents bucket (floor
    * division — the batch operator's `//`-compatible semantics):
    * (user_id, bucket, c). The bucket rule of every single-relation
    * MV twin. */
  private[streaming] def bucketed(state: DataFrame): DataFrame =
    state.filter(!col("deleted"))
      .withColumn("c", (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("bucket",
        expr(graft.cdc.CdcOps.floorDivSql("c", graft.cdc.CdcOps.MvBucketCents)))
      .select(col("user_id"), col("bucket"), col("c"))

  /** The non-self-maintainable twins' batch rule (MIN/MAX, top-k):
    * the touched buckets' rows of the POST-merge state go through
    * `recompute`, every other MV row is carried verbatim. A bucket is
    * touched when a touched key sat in it before the merge (where a
    * value leaves) or sits in it after (where it lands), so a
    * cross-bucket update repairs both ends. */
  private[streaming] def recomputeTouched(mv: DataFrame, preState: DataFrame,
      postState: DataFrame, touched: DataFrame)(recompute: DataFrame => DataFrame): DataFrame = {
    val post = bucketed(postState)
    val touchedBuckets = bucketed(preState).join(touched, Seq("user_id"), "left_semi")
      .select(col("bucket"))
      .unionByName(post.join(touched, Seq("user_id"), "left_semi").select(col("bucket")))
      .distinct()
    mv.join(touchedBuckets, Seq("bucket"), "left_anti")
      .unionByName(recompute(post.join(touchedBuckets, Seq("bucket"), "left_semi")))
  }

  /** The touched keys' live rows as MV deltas: (bucket, ±1, ±cents). */
  private def contributions(state: DataFrame, touched: DataFrame, sign: Int): DataFrame =
    bucketed(state).join(touched, Seq("user_id"), "left_semi")
      .select(col("bucket"), lit(sign.toLong).as("d_n"), (col("c") * sign).as("d_cents"))

  /** Apply one batch's worth of deltas: retract the touched keys'
    * contributions from the PRE-merge state, insert them from the
    * POST-merge state, fold into the MV, drop emptied buckets. */
  def applyBatch(mv: DataFrame, preState: DataFrame, postState: DataFrame,
      touched: DataFrame): DataFrame =
    foldDelta(mv, contributions(preState, touched, -1)
      .unionByName(contributions(postState, touched, 1)), "bucket", "cents")

  /** Fold (key, d_n, d_cents) delta rows into a (key, n_rows, cents)
    * MV, dropping emptied groups — the SUM/COUNT algebra shared with
    * [[StreamingMvJoin]]. */
  private[streaming] def foldDelta(mv: DataFrame, deltaRows: DataFrame, key: String,
      cents: String): DataFrame = {
    val delta = deltaRows.groupBy(col(key))
      .agg(sum(col("d_n")).as("d_n"), sum(col("d_cents")).as("d_cents"))
    mv.join(delta, Seq(key), "full_outer")
      .select(col(key),
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_rows"),
        (coalesce(col(cents), lit(0L)) + coalesce(col("d_cents"), lit(0L))).as(cents))
      .filter(col("n_rows") > 0)
  }

  /** Driver-held MV for specs/smoke runs (production swaps into a
    * transactional table bucketed on `bucket`). Its view: (bucket,
    * n_rows, sum_value). */
  final class InMemoryMvStore(spark: SparkSession) extends FrameStore(emptyMv(spark), _
    .select(col("bucket"), col("n_rows"), (col("cents").cast("double") / 100.0).as("sum_value"))
    .orderBy(col("bucket")))

  /** Attach the maintainer to a streaming CDC-log DataFrame
    * (conforming columns: user_id, event_id, time_us, cdc_operation,
    * value, props) through the shared body. */
  def attach(changes: DataFrame, keyStore: StreamingSnapshotMerge.InMemorySnapshotStore,
      mvStore: InMemoryMvStore): StreamingQuery =
    StreamingSnapshotMerge.attachMv(changes, keyStore, mvStore)(applyBatch)
}
