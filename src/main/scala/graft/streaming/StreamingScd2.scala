package graft.streaming

import graft.cdc.{CdcSchema, ChangeOrder}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** STREAMING twin of [[graft.cdc.CdcOps.scd2HistoryFromLog]] — the
  * continuously-maintained SCD-Type-2 dimension history (round-8
  * verdict directive #7, the one major batch materialization that had
  * no streaming counterpart). Each write opens a version valid
  * [t, next write), DELETE closes silently, the open version is
  * flagged current — exactly the batch operator's contract, held live
  * against a micro-batched CDC log with LATE-ARRIVAL CORRECTION
  * inside the confidence window: an out-of-order write whose event
  * time lands between two already-materialized versions SPLITS the
  * covering version (its valid_to snaps to the late time, a new
  * version opens at it, version numbers renumber), identically to
  * what the batch operator would have produced had the write been on
  * time.
  *
  * Confidence-window state discipline (the
  * [[StreamingSnapshotMerge]] posture applied to versioned history,
  * per WorkerConfiguration.confidenceWindowSizeMs): let `freeze` =
  * max-seen event time − confidence.
  *  - Versions whose `valid_to ≤ freeze` are FROZEN — no in-contract
  *    late write can ever land inside them (it would need event time
  *    < freeze), so they move to an append-only final store and are
  *    never recomputed.
  *  - A write is retained in active state only while the NEXT write
  *    of its user is above the freeze line (i.e. while the version it
  *    opens is still correctable); everything older is dropped. Per
  *    user that leaves the writes inside the confidence window plus
  *    ONE anchor (the newest write at-or-below freeze, whose version
  *    extends into the correctable region).
  *  - A late write at-or-below the freeze line is OUT OF CONTRACT and
  *    ignored (the reference's confidence-window semantics; feed it
  *    to the DLQ classifier upstream if it must be accounted).
  * Active state is therefore O(users + confidence-window writes),
  * never O(log) — the same bound the snapshot merger holds.
  *
  * Per micro-batch work: dedupe-by-(user, event) union (idempotent
  * under at-least-once replay), then version recompute for TOUCHED
  * users only — one user-keyed window over their retained writes,
  * with frozen-version counts joined back as numbering offsets (an
  * AQE-planned user-grain join, no hint: the offset relation grows
  * with users). Untouched users' active versions carry over
  * unchanged; the freeze sweep applies to them too (freezing needs no
  * recompute — their versions were already correct).
  *
  * The in-memory store is the spec/smoke harness; production swaps
  * frozen appends into a transactional table partitioned on
  * valid_to month (queries prune to their as-of range) and keeps the
  * small active set wherever the snapshot merger keeps its snapshot.
  */
object StreamingScd2 {

  import CdcSchema._

  val versionSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("version_no", IntegerType),
    StructField("write_event_id", LongType),
    StructField("valid_from_us", LongType),
    StructField("valid_to_us", LongType),
    StructField("is_current", BooleanType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private val writeCols =
    Seq("user_id", "event_id", "time_us", "cdc_operation", "value", "props")

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def emptyWrites(spark: SparkSession): DataFrame =
    emptyOf(spark, StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("time_us", LongType), StructField("cdc_operation", IntegerType),
      StructField("value", DoubleType), StructField("props", StringType))))

  /** Driver-held history for specs/smoke runs: frozen (final) version
    * rows, the still-correctable active versions, and the retained
    * writes they recompute from. All swapped frames are
    * lineage-truncated per batch. */
  final class InMemoryScd2Store(spark: SparkSession) {
    @volatile private[streaming] var frozen: DataFrame = emptyOf(spark, versionSchema)
    @volatile private[streaming] var activeVersions: DataFrame = emptyOf(spark, versionSchema)
    @volatile private[streaming] var activeWrites: DataFrame = emptyWrites(spark)
    @volatile private[streaming] var maxSeenUs: Long = Long.MinValue
    /** The full SCD2 table as a user would read it — frozen history
      * plus the correctable tail, batch-operator column contract. */
    def read(): DataFrame =
      frozen.unionByName(activeVersions)
        .orderBy(col("user_id"), col("version_no"))
    /** Final-only view: rows that can never change again. */
    def frozenView(): DataFrame = frozen
  }

  /** Version rows for the given writes (already filtered to row
    * ops), numbered ABOVE each user's frozen count. */
  private def versionsOf(writes: DataFrame, offsets: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("time_us"), col("event_id"))
    writes
      .withColumn("valid_to_us", lead(col("time_us"), 1).over(w))
      .filter(col("cdc_operation") =!= RowDelete)
      .withColumn("rn", row_number().over(w))
      .join(offsets, Seq("user_id"), "left")
      .select(col("user_id"),
        (col("rn") + coalesce(col("n_frozen"), lit(0L))).cast("int").as("version_no"),
        col("event_id").as("write_event_id"),
        col("time_us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"),
        col("value"), col("props"))
  }

  /** Attach the maintainer to a streaming CDC-log DataFrame
    * (conforming columns: user_id, event_id, time_us, cdc_operation,
    * value, props). Each micro-batch: dedupe-union → recompute
    * touched users → freeze → trim. */
  def attach(changes: DataFrame, store: InMemoryScd2Store,
      confidenceUs: Long): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val batchW = ChangeOrder.rowWrites(df)
          .select(writeCols.map(col): _*)
          .localCheckpoint() // one source read: feeds clock, fresh, touched
        val mx = batchW.agg(max(col("time_us"))).head()
        if (!mx.isNullAt(0)) {
          // Admission uses the PREVIOUS batch's line (Spark's own
          // watermark discipline: a batch never drops the rows that
          // advanced it) — otherwise one batch spanning more than the
          // confidence window would reject its own oldest writes. The
          // freeze sweep and trim below use the ADVANCED line; the
          // next batch admits against exactly that line, so
          // everything at-or-below it is final and everything above
          // is still correctable — one consistent boundary.
          val admitUs =
            if (store.maxSeenUs == Long.MinValue) Long.MinValue
            else store.maxSeenUs - confidenceUs
          store.maxSeenUs = math.max(store.maxSeenUs, mx.getLong(0))
          val freezeUs = store.maxSeenUs - confidenceUs
          val fresh =
            if (admitUs == Long.MinValue) batchW
            else batchW.filter(col("time_us") > admitUs)
          val touched = fresh.select(col("user_id")).distinct()
          val aw = store.activeWrites.unionByName(fresh)
            .dropDuplicates("user_id", "event_id") // at-least-once replay safe
            .localCheckpoint()
          val offsets = store.frozen.groupBy(col("user_id"))
            .agg(count(lit(1)).as("n_frozen"))
          val recomputed = versionsOf(aw.join(touched, Seq("user_id"), "left_semi"), offsets)
          val allActive = recomputed
            .unionByName(store.activeVersions.join(touched, Seq("user_id"), "left_anti"))
            .localCheckpoint()
          // freeze sweep: versions wholly below the line are final
          val line = col("valid_to_us").isNotNull && col("valid_to_us") <= freezeUs
          store.frozen = store.frozen.unionByName(allActive.filter(line)).localCheckpoint()
          store.activeVersions = allActive.filter(!line).localCheckpoint()
          // retained writes: next-write time still above the line
          // (version still correctable) or no next write yet
          val wn = Window.partitionBy(col("user_id")).orderBy(col("time_us"), col("event_id"))
          store.activeWrites = aw
            .withColumn("nxt", lead(col("time_us"), 1).over(wn))
            .filter(col("nxt").isNull || col("nxt") > freezeUs)
            .drop("nxt").localCheckpoint()
        }
      }
      .start()
}
