package graft.streaming

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import CdcStreamConsumer.{StreamProgress, isAfter}

/** External checkpoint store for per-stream consumer progress — the
  * analogue of the reference's pluggable `CDCStateStore`
  * (scylla-cdc-lib .../transport/CDCStateStore.java:1-174, whose
  * default is InMemoryStateStore and whose Redis example is
  * examples/scylla-cdc-state-redis/.../RedisStateStore.java:1-209).
  *
  * Spark's own state store already checkpoints progress inside the
  * streaming checkpoint directory; this trait EXTERNALIZES the same
  * per-stream `lastConsumedChangeId` so operators can inspect lag,
  * migrate a pipeline between clusters, or resume a NEW query (fresh
  * checkpoint dir) from externally-stored progress via
  * [[CdcStreamConsumer.consumeFrom]].
  *
  * Implementations must be thread-safe: [[CdcCheckpoints.record]]
  * writes from a foreachBatch callback which may overlap a reader.
  */
trait CdcStateStore {
  def get(streamId: Long): Option[StreamProgress]
  def put(streamId: Long, p: StreamProgress): Unit
  def all(): Map[Long, StreamProgress]
  def clear(): Unit
}

/** Default in-process store (reference InMemoryStateStore). */
final class InMemoryStateStore extends CdcStateStore {
  private val m = new ConcurrentHashMap[Long, StreamProgress]()
  override def get(streamId: Long): Option[StreamProgress] = Option(m.get(streamId))
  override def put(streamId: Long, p: StreamProgress): Unit = m.put(streamId, p)
  override def all(): Map[Long, StreamProgress] = m.asScala.toMap
  override def clear(): Unit = m.clear()
}

/** Byte-level serde for externalizing progress to stores that speak
  * bytes/strings (the reference's TaskStateSerde, which the Redis
  * example round-trips per task). Fixed 32-byte big-endian wire
  * format: streamId | lastTimeUs | lastEventId | delivered. */
object TaskStateSerde {

  val WireBytes = 32

  def serialize(streamId: Long, p: StreamProgress): Array[Byte] = {
    val b = ByteBuffer.allocate(WireBytes)
    b.putLong(streamId).putLong(p.lastTimeUs).putLong(p.lastEventId).putLong(p.delivered)
    b.array()
  }

  def deserialize(bytes: Array[Byte]): (Long, StreamProgress) = {
    require(bytes.length == WireBytes, s"expected $WireBytes bytes, got ${bytes.length}")
    val b = ByteBuffer.wrap(bytes)
    (b.getLong(), StreamProgress(b.getLong(), b.getLong(), b.getLong()))
  }
}

/** DURABLE file-backed store — the reference's external-store example
  * (examples/scylla-cdc-state-redis/.../RedisStateStore.java:1-209,
  * which round-trips TaskStateSerde records through Redis) re-expressed
  * for the shared filesystem a Spark cluster already has: every
  * stream's progress as one fixed [[TaskStateSerde.WireBytes]]-byte
  * record in a single file, rewritten ATOMICALLY (temp + rename) on
  * each write, so a crash never leaves a torn state file and a NEW
  * process — or a different cluster — re-opens the path and resumes
  * via [[CdcStreamConsumer.consumeFrom]].
  *
  * Scale: the file is O(streams) — per-stream progress is cluster
  * metadata (64k streams × 32 B = 2 MB), never data; one rewrite per
  * micro-batch is noise next to the batch itself. */
final class FileStateStore(path: java.nio.file.Path) extends CdcStateStore {
  import java.nio.file.{Files, StandardCopyOption}

  private val m = new ConcurrentHashMap[Long, StreamProgress]()
  if (Files.exists(path)) {
    val bytes = Files.readAllBytes(path)
    require(bytes.length % TaskStateSerde.WireBytes == 0,
      s"corrupt state file $path: ${bytes.length} bytes is not a whole number of records")
    bytes.grouped(TaskStateSerde.WireBytes).foreach { rec =>
      val (id, p) = TaskStateSerde.deserialize(rec)
      m.put(id, p)
    }
  }

  private def flush(): Unit = synchronized {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    val out = m.asScala.toSeq.sortBy(_._1)
      .flatMap { case (id, p) => TaskStateSerde.serialize(id, p) }.toArray
    Files.write(tmp, out)
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  override def get(streamId: Long): Option[StreamProgress] = Option(m.get(streamId))
  override def put(streamId: Long, p: StreamProgress): Unit = {
    m.put(streamId, p); flush()
  }
  override def all(): Map[Long, StreamProgress] = m.asScala.toMap
  override def clear(): Unit = { m.clear(); flush() }
}

/** Bridges a stream of [[CdcStreamConsumer.Delivered]] batches into a
  * [[CdcStateStore]]. */
object CdcCheckpoints {

  import org.apache.spark.sql.Dataset

  /** Put `p` only if it is after the stream's stored mark, which so
    * never moves backwards — a fresh checkpoint resumed against a
    * populated store redelivers changes the store already passed. */
  private def advance(store: CdcStateStore, streamId: Long, p: StreamProgress): Unit =
    if (store.get(streamId).forall(m =>
        isAfter(p.lastTimeUs, p.lastEventId, m.lastTimeUs, m.lastEventId)))
      store.put(streamId, p)

  /** Record a micro-batch's high-water marks into the store — at most
    * one store write per stream per batch ([[advance]] to the newest
    * delivered change).
    * The reduction happens in Spark (tiny groupBy on the batch);
    * only the per-stream maxima reach the driver-side store, so the
    * call is O(streams-in-batch), not O(changes). */
  def record(batch: Dataset[CdcStreamConsumer.Delivered], store: CdcStateStore): Unit = {
    import org.apache.spark.sql.functions._
    batch.groupBy(col("streamId"))
      .agg(max(struct(col("timeUs"), col("eventId"), col("seqNo"))).as("last"))
      .select(col("streamId"), col("last.timeUs"), col("last.eventId"), col("last.seqNo"))
      .collect()
      .foreach { r =>
        advance(store, r.getLong(0), StreamProgress(r.getLong(1), r.getLong(2), r.getLong(3)))
      }
  }

  /** [[record]] for a batch already collected to the driver: the same
    * per-stream maxima, taken from the rows instead of another job. */
  def recordRows(rows: Iterable[CdcStreamConsumer.Delivered], store: CdcStateStore): Unit =
    rows.groupBy(_.streamId).foreach { case (sid, ds) =>
      val last = ds.maxBy(d => (d.timeUs, d.eventId, d.seqNo))
      advance(store, sid, StreamProgress(last.timeUs, last.eventId, last.seqNo))
    }
}
