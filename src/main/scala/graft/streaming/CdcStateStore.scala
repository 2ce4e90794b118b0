package graft.streaming

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import graft.cdc.ChangeOrder
import CdcStreamConsumer.StreamProgress

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
  /** One micro-batch's marks as one write; [[CdcCheckpoints]] calls it
    * once per batch. The default puts them one by one. */
  def putAll(marks: Map[Long, StreamProgress]): Unit =
    marks.foreach { case (id, p) => put(id, p) }
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
  * micro-batch ([[putAll]]) is noise next to the batch itself. */
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
  /** One rewrite for the whole batch of marks. */
  override def putAll(marks: Map[Long, StreamProgress]): Unit = synchronized {
    marks.foreach { case (id, p) => m.put(id, p) }
    flush()
  }
  override def all(): Map[Long, StreamProgress] = m.asScala.toMap
  override def clear(): Unit = { m.clear(); flush() }
}

/** Bridges a stream of [[CdcStreamConsumer.Delivered]] batches into a
  * [[CdcStateStore]]. */
object CdcCheckpoints {

  import org.apache.spark.sql.Dataset

  /** Write the batch's marks that are after the stored ones, as one
    * [[CdcStateStore.putAll]] — none when no mark moved. A stream's
    * mark so never moves backwards: a fresh checkpoint resumed against
    * a populated store redelivers changes the store already passed. */
  private def advance(store: CdcStateStore, latest: Iterable[(Long, StreamProgress)]): Unit = {
    val moved = latest.filter { case (id, p) => store.get(id).forall(m =>
      ChangeOrder.isAfter(p.lastTimeUs, p.lastEventId, m.lastTimeUs, m.lastEventId)) }
    if (moved.nonEmpty) store.putAll(moved.toMap)
  }

  /** Record a micro-batch's high-water marks into the store — one
    * store write per batch ([[advance]] each stream to its newest
    * delivered change).
    * The reduction happens in Spark (tiny groupBy on the batch);
    * only the per-stream maxima reach the driver-side store, so the
    * call is O(streams-in-batch), not O(changes). */
  def record(batch: Dataset[CdcStreamConsumer.Delivered], store: CdcStateStore): Unit = {
    import org.apache.spark.sql.functions.col
    val latest = batch.groupBy(col("streamId"))
      .agg(ChangeOrder.newest(col("timeUs"), col("eventId"), col("seqNo")).as("last"))
      .select(col("streamId"), col("last.timeUs"), col("last.eventId"), col("last.seqNo"))
      .collect()
      .map(r => r.getLong(0) -> StreamProgress(r.getLong(1), r.getLong(2), r.getLong(3)))
    advance(store, latest)
  }

  /** [[record]] for a batch already collected to the driver: the same
    * per-stream maxima, taken from the rows instead of another job. */
  def recordRows(rows: Iterable[CdcStreamConsumer.Delivered], store: CdcStateStore): Unit =
    advance(store, rows.groupBy(_.streamId).map { case (sid, ds) =>
      val last = ds.maxBy(d => (ChangeOrder.id(d), d.seqNo))
      sid -> StreamProgress(last.timeUs, last.eventId, last.seqNo)
    })
}
