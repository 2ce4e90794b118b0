package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{ChangeOrder, DebeziumAdapter}

/** STREAMING twin of [[graft.cdc.DebeziumAdapter.toDebeziumEnvelopes]]
  * — the source connector's steady state: consume the CDC stream and
  * PUBLISH Debezium envelopes continuously, each micro-batch emitted
  * as [[graft.cdc.DebeziumAdapter.envelopeKafkaFrame]] rows (stream-
  * keyed, source-offset headers) so an external Kafka consumer tails
  * the topic and resumes from header high-water marks.
  *
  * Per micro-batch the emit is the BATCH operator applied to the
  * batch's rows — the pre/postimage pairing window runs inside the
  * batch, which is exactly the native arrival contract: a Scylla
  * batch's image rows share their delta's (stream, time, key) and are
  * read together (the reference consumer surfaces one Task per
  * batch). An image row SPLIT from its delta across micro-batch
  * boundaries degrades loudly, not silently: the delta still emits
  * (with its own row image), and the orphaned image lands in the
  * [[graft.cdc.DebeziumAdapter.emitLanes]] orphan lane of its own
  * batch — spec-pinned. Stateless by design: no cross-batch buffering
  * means no state store to size, and the degradation is exactly the
  * documented key-only/delta-image classes the wire format already
  * tolerates.
  *
  * At-least-once: a replayed micro-batch re-emits byte-identical
  * envelopes (the emit is deterministic row arithmetic), and the
  * header offsets let the external consumer drop them — the
  * [[CdcKafkaSink.resumeAfter]] discipline, spec-pinned here via
  * [[resumeAfter]]. */
object StreamingDebeziumEmit {

  /** Kafka-frame projection of one micro-batch of conforming CDC-log
    * rows: batch emit → publish frame. */
  def frameOf(changes: DataFrame, topic: String): DataFrame =
    DebeziumAdapter.envelopeKafkaFrame(
      DebeziumAdapter.toDebeziumEnvelopes(changes), topic)

  /** Header-based resume for an external consumer re-reading the
    * topic: keep frames strictly newer than the per-stream
    * (timeUs, eventId) high-water marks read from the `cdc.*`
    * headers — change-id comparison, the [[CdcKafkaSink.resumeAfter]]
    * rule applied to the envelope frame. */
  def resumeAfter(frames: DataFrame, marks: Map[Long, (Long, Long)]): DataFrame = {
    def header(name: String) =
      element_at(map_from_entries(col("headers")), name).cast("string")
    val sid = header("cdc.streamId").cast("long")
    val t = header("cdc.timeUs").cast("long")
    val e = header("cdc.eventId").cast("long")
    if (marks.isEmpty) frames
    else {
      val markRows = marks.toSeq.map { case (s, (mt, me)) => (s, mt, me) }
      val spark = frames.sparkSession
      import spark.implicits._
      val m = markRows.toDF("m_sid", "m_t", "m_e")
      frames
        .withColumn("h_sid", sid).withColumn("h_t", t).withColumn("h_e", e)
        .join(broadcast(m), col("h_sid") === col("m_sid"), "left")
        .filter(col("m_sid").isNull ||
          ChangeOrder.isAfter(col("h_t"), col("h_e"), col("m_t"), col("m_e")))
        .select(col("key"), col("value"), col("topic"), col("headers"))
    }
  }

  /** Driver-held published topic for specs/smoke runs (production is
    * one `writeStream.format("kafka")` with includeHeaders=true). */
  final class InMemoryTopic(spark: SparkSession) {
    @volatile private var frames: Vector[DataFrame] = Vector.empty
    def publish(df: DataFrame): Unit = synchronized { frames :+= df }
    def read(): DataFrame =
      if (frames.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          graft.cdc.DebeziumAdapter.envelopeKafkaFrame(
            graft.cdc.DebeziumAdapter.toDebeziumEnvelopes(
              emptyLog(spark)), "t").schema)
      else frames.reduce(_ unionByName _)
  }

  private def emptyLog(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("cdc_stream_id", LongType), StructField("time_us", LongType),
        StructField("cdc_batch_seq_no", IntegerType), StructField("cdc_operation", IntegerType),
        StructField("user_id", LongType), StructField("event_id", LongType),
        StructField("value", DoubleType), StructField("props", StringType),
        StructField("cdc_deleted_value", BooleanType))))
  }

  /** Attach the emitter to a streaming conforming CDC-log DataFrame.
    * Each micro-batch: batch emit → frame → publish (localCheckpoint
    * pins the emitted rows — a Kafka sink gives the same durability). */
  def attach(changes: DataFrame, topic: String, sink: InMemoryTopic): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        sink.publish(frameOf(df, topic).localCheckpoint())
      }
      .start()
}
