package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import CdcStreamConsumer.{Delivered, isAfter}

/** Kafka-ready projection of delivered changes — the essence of the
  * reference's scylla-cdc-kafka-connect module (a source connector
  * that publishes each change keyed by stream with a structured
  * payload). Spark-side, publishing IS `writeStream.format("kafka")`;
  * what the module contributes is the (key, value, topic) frame and
  * key choice:
  *
  *  - key = the stream id → one Kafka partition consumes each stream
  *    in order (the connector keys by partition key the same way)
  *  - value = JSON of the full change + its delivery sequence
  *  - headers = the SOURCE OFFSET (streamId, timeUs, eventId) as
  *    individual Kafka headers — the analogue of the connector's
  *    per-task source offsets. Spark's own checkpoint already resumes
  *    the producing query; the headers exist for EXTERNAL (non-Spark)
  *    consumers, which can read a partition's last headers and resume
  *    from that change id without parsing JSON payloads
  *    (see [[resumeAfter]]).
  *
  * Keeping this as a pure projection makes it testable with no broker;
  * wiring it is one `.writeStream.format("kafka")` call (Kafka sink
  * option `includeHeaders=true`). */
object CdcKafkaSink {

  private def header(name: String, v: Column) =
    struct(lit(name).as("key"), v.cast("string").cast("binary").as("value"))

  def toKafkaFrame(changes: Dataset[Delivered], topic: String): DataFrame =
    changes.select(
      col("streamId").cast("string").as("key"),
      to_json(struct(col("streamId"), col("timeUs"), col("eventId"),
        col("operation"), col("value"), col("seqNo"))).as("value"),
      lit(topic).as("topic"),
      array(
        header("cdc.streamId", col("streamId")),
        header("cdc.timeUs", col("timeUs")),
        header("cdc.eventId", col("eventId"))).as("headers"))

  /** Inverse projection: parse a Kafka (key, value) frame back into
    * delivered changes — the consumer side of the connector topic
    * (a downstream pipeline reading the CDC topic gets typed rows
    * back; `readStream.format("kafka")` + this projection). Rows whose
    * value fails to parse — including valid-JSON foreign messages that
    * lack any required field — are dropped, matching the connector's
    * tolerance of foreign messages on the topic. Every Delivered field
    * is a primitive, so each must be checked: a partial JSON object
    * passes from_json with nulls and would NPE at decode. */
  def fromKafkaFrame(frame: DataFrame): Dataset[Delivered] = {
    import frame.sparkSession.implicits._
    val schema = org.apache.spark.sql.Encoders.product[Delivered].schema
    val required = schema.fieldNames.map(f => col(s"c.$f").isNotNull).reduce(_ && _)
    frame
      .select(from_json(col("value").cast("string"), schema).as("c"))
      .filter(col("c").isNotNull && required)
      .select(col("c.*"))
      .as[Delivered]
  }

  /** The header-based resume filter for an external consumer: given
    * the (streamId → change id) high-water marks it last observed —
    * e.g. read from the `cdc.*` headers of each partition's tail —
    * keep only the strictly-newer changes of a re-read topic frame.
    * ChangeId comparison, never seqNo (seqNo restarts under a fresh
    * producing query; the change id is globally stable). */
  def resumeAfter(changes: Dataset[Delivered],
      marks: Map[Long, (Long, Long)]): Dataset[Delivered] =
    changes.filter(d =>
      marks.get(d.streamId).forall { case (t, e) => isAfter(d.timeUs, d.eventId, t, e) })
}
