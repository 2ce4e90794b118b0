package graft.streaming

import graft.cdc.CdcSchema
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** STREAMING twin of [[graft.cdc.CdcOps.snapshotMergeFromLog]] — the
  * continuous CDC→lakehouse materializer: each micro-batch of the CDC
  * log is reduced to one winning change per key and merged onto a
  * stored snapshot, so the snapshot tracks the source table with
  * replay cost O(new changes + snapshot), never O(log).
  *
  * Ordering honesty across micro-batches: the merge NEVER lets the
  * batch blindly win — the survivor per key is the larger
  * (last_write_us, last_event_id), so late (out-of-order) changes
  * delivered in a later micro-batch cannot clobber a newer write that
  * arrived earlier, and re-merging a replayed batch is a no-op
  * (idempotent under at-least-once delivery). Deleted keys persist as
  * TOMBSTONES so a late older write cannot resurrect them; tombstones
  * age out after the confidence window (the reference's TTL-trim
  * analogue, Worker.java:60-90 trimTaskState), which bounds snapshot
  * size at O(live keys + recently-deleted keys).
  *
  * Scale: reduceSlice shuffles only the micro-batch (one window on the
  * key); the merge is a key-keyed full-outer join where AQE broadcasts
  * the reduced batch when it fits (the common case). The in-memory
  * store below is the spec/smoke harness; production swaps each merged
  * snapshot into a transactional table (bucketed by key, so the
  * snapshot-side exchange vanishes too).
  */
object StreamingSnapshotMerge {

  import CdcSchema._

  val snapshotSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("last_event_id", LongType),
    StructField("last_write_us", LongType),
    StructField("last_op", IntegerType),
    StructField("value", DoubleType),
    StructField("props", StringType),
    StructField("deleted", BooleanType)))

  def emptySnapshot(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], snapshotSchema)

  /** Reduce a raw CDC-log slice to its one winning change per key
    * (row writes only; deletes become tombstone rows). */
  def reduceSlice(slice: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("time_us").desc, col("event_id").desc)
    slice
      .filter(col("cdc_operation").isin(RowUpdate, RowInsert, RowDelete))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("time_us").as("last_write_us"), col("cdc_operation").as("last_op"),
        col("value"), col("props"),
        (col("cdc_operation") === RowDelete).as("deleted"))
  }

  /** Merge a reduced slice onto a snapshot — pure and idempotent;
    * per key the larger (last_write_us, last_event_id) survives. */
  def mergeReduced(snapshot: DataFrame, reduced: DataFrame): DataFrame = {
    val dataCols = snapshotSchema.fieldNames.filterNot(_ == "user_id")
    val s = dataCols.foldLeft(snapshot) { (df, c) => df.withColumnRenamed(c, s"s_$c") }
    val b = dataCols.foldLeft(reduced) { (df, c) => df.withColumnRenamed(c, s"b_$c") }
    val batchWins = col("s_last_event_id").isNull ||
      (col("b_last_event_id").isNotNull &&
        struct(col("b_last_write_us"), col("b_last_event_id")) >
          struct(col("s_last_write_us"), col("s_last_event_id")))
    s.join(b, Seq("user_id"), "full_outer")
      .select(col("user_id") +: dataCols.map(c =>
        when(batchWins, col(s"b_$c")).otherwise(col(s"s_$c")).as(c)): _*)
  }

  /** Drop tombstones older than `nowUs - confidenceUs` — late changes
    * beyond the confidence window are out of contract, so their
    * anti-resurrection guard can go. */
  def trim(snapshot: DataFrame, nowUs: Long, confidenceUs: Long): DataFrame =
    snapshot.filter(!col("deleted") || col("last_write_us") > nowUs - confidenceUs)

  /** The snapshot as a user would read it: live rows only. */
  def liveView(snapshot: DataFrame): DataFrame =
    snapshot.filter(!col("deleted")).drop("deleted")

  /** Driver-held snapshot for specs/smoke runs. */
  final class InMemorySnapshotStore(spark: SparkSession) extends FrameStore(emptySnapshot(spark))

  /** Attach the merger to a streaming CDC-log DataFrame (conforming
    * columns: user_id, event_id, time_us, cdc_operation, value,
    * props). Each micro-batch: reduce → merge → trim → swap. */
  def attach(changes: DataFrame, store: InMemorySnapshotStore,
      confidenceUs: Long): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        // checkpoint the merged frame ONCE: both the trim clock below
        // and the stored snapshot read it — without the checkpoint the
        // reduce+merge (and the batch source read) would execute twice
        // per micro-batch, and lineage would grow across batches
        val merged = mergeReduced(store.read(), reduceSlice(df)).localCheckpoint()
        // one-scalar action: the snapshot's own clock drives the trim
        val now = merged.agg(max(col("last_write_us"))).head()
        if (!now.isNullAt(0)) store.swap(trim(merged, now.getLong(0), confidenceUs))
        else store.swap(merged)
      }
      .start()

  /** The micro-batch body of the single-relation MV twins
    * ([[StreamingMvMaintain]], [[StreamingMvMinMax]],
    * [[StreamingMvTopk]]), which differ only in `applyBatch`: reduce
    * → merge key state → `applyBatch(mv, preState, postState,
    * touchedKeys)` → swap both stores. `applyBatch` reads the MERGED
    * state, so a replayed or stale batch whose merge is a no-op leaves
    * the MV as it was: every twin inherits the snapshot's idempotency. */
  def attachMv(changes: DataFrame, keyStore: InMemorySnapshotStore, mvStore: FrameStore)(
      applyBatch: (DataFrame, DataFrame, DataFrame, DataFrame) => DataFrame): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val reduced = reduceSlice(df).localCheckpoint()
        val pre = keyStore.read()
        val post = mergeReduced(pre, reduced).localCheckpoint()
        val touched = reduced.select(col("user_id"))
        mvStore.swap(applyBatch(mvStore.read(), pre, post, touched).localCheckpoint())
        keyStore.swap(post)
      }
      .start()
}
