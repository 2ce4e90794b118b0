package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** STREAMING twin of [[graft.analytics.TimeSeries.tsAnomaly]] — the
  * anomaly detector run the way monitoring actually runs: maintain
  * the day-grain totals continuously from the event stream, re-score
  * ONLY on the maintained day-grain frame per micro-batch (never a
  * log replay), and let a late event revise its own day's total —
  * and possibly flip that day's verdict — the moment it lands.
  *
  * State is the (event_type, day, tot) frame: corpus-scale reduction
  * BEFORE state, so state size is days × event-types whatever the
  * event volume. Day totals are SUMS — unlike the MV family's
  * LWW-merged key state they are not naturally idempotent — so
  * replay safety comes from the OTHER standard discipline:
  * exactly-once-by-batch-id. `foreachBatch` batch ids are stable
  * across a checkpoint-restart replay (the Spark contract), the
  * store records the high-water batch id, and a replayed id is a
  * committed no-op. Scoring is [[graft.analytics.TimeSeries
  * .anomalyOfDaily]] — byte-identical arithmetic to the oracle-gated
  * batch operator, so maintained ≡ recomputed at every boundary is
  * structural (same daily totals by sum associativity, same scoring
  * code path; spec-pinned). */
object StreamingTsAnomaly {

  val dailySchema: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("day", LongType),
    StructField("tot", DecimalType(18, 2))))

  def emptyDaily(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], dailySchema)

  /** One micro-batch: reduce the batch to day grain, merge into the
    * maintained frame by summation (re-cast to the state's scale —
    * day totals are far inside DECIMAL(18,2) at any realistic
    * volume). */
  def applyBatch(daily: DataFrame, batch: DataFrame): DataFrame = {
    val b = batch
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("v")).as("b_tot"))
    daily.join(b, Seq("event_type", "day"), "full_outer")
      .select(col("event_type"), col("day"),
        (coalesce(col("tot"), lit(java.math.BigDecimal.ZERO)) +
          coalesce(col("b_tot"), lit(java.math.BigDecimal.ZERO)))
          .cast("decimal(18,2)").as("tot"))
  }

  /** Driver-held day-grain state + the exactly-once batch-id
    * high-water mark (production swaps into a transactional
    * day-partitioned table and stores the batch id in the same
    * transaction — the classic foreachBatch idempotent-sink rule).
    * Its view is the monitor's: the batch detector's scoring over the
    * maintained day-grain frame. */
  final class InMemoryDailyStore(spark: SparkSession)
      extends FrameStore(emptyDaily(spark), graft.analytics.TimeSeries.anomalyOfDaily) {
    @volatile private var lastBatchId: Long = -1L
    def appliedThrough: Long = lastBatchId
    def anomalies(): DataFrame = readView()
    def swap(next: DataFrame, batchId: Long): Unit = { swap(next); lastBatchId = batchId }
  }

  /** Attach the monitor to a streaming events-shaped DataFrame
    * (event_type, ts, value). A batch id at or below the high-water
    * mark is a replay of work already committed — skipped whole, the
    * exactly-once-by-batch-id contract. */
  def attach(events: DataFrame, store: InMemoryDailyStore): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        if (batchId > store.appliedThrough)
          store.swap(applyBatch(store.read(), df).localCheckpoint(), batchId)
      }
      .start()
}
