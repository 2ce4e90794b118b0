package perfbench

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Replicate

/** One timed operation. */
final case class OpResult(name: String, wallS: Double, ok: Boolean, error: String) {
  def toMap: Map[String, Any] = Map("name" -> name, "wall_s" -> wallS, "ok" -> ok, "error" -> error)
}

/** An untimed correctness check done inside the harness. */
final case class Check(name: String, ok: Boolean, detail: String) {
  def toMap: Map[String, Any] = Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

/** A check the caller finishes: Spark's output at `path` must equal
  * the DuckDB oracle `sql` over the same input tables. */
final case class OracleCheck(name: String, sql: String, path: String) {
  def toMap: Map[String, Any] = Map("name" -> name, "sql" -> sql, "path" -> path)
}

final class Ctx(val spark: SparkSession, val runDir: String, val seed: Long,
    val cores: Int, val opTimeoutS: Double) {
  val inDir: String = s"$runDir/in"
  def out(name: String): String = s"$runDir/out/$name"
  /** When positive, closed loops run exactly this many operations
    * instead of running for a time. */
  var fixedOps: Int = 0
}

/** Runs operations under a deadline: past it every running Spark job
  * is cancelled, so a stuck operation fails instead of hanging. */
object Guard {
  private val timer: ScheduledExecutorService = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-guard"); t.setDaemon(true); t
  }

  def apply[T](ctx: Ctx)(body: => T): T = {
    val f = timer.schedule(new Runnable {
      def run(): Unit = ctx.spark.sparkContext.cancelAllJobs()
    }, (ctx.opTimeoutS * 1000).toLong, TimeUnit.MILLISECONDS)
    try body finally f.cancel(false)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Time one operation; afterwards, untimed, sample the heap and drop
    * what the operation left cached. */
  def op(ctx: Ctx, name: String)(body: => Unit): OpResult = {
    val t0 = System.nanoTime()
    try {
      Guard(ctx)(body)
      OpResult(name, secondsSince(t0), ok = true, error = null)
    } catch {
      case e: Exception =>
        OpResult(name, secondsSince(t0), ok = false, error = s"${e.getClass.getName}: ${e.getMessage}")
    } finally {
      HeapPeak.sample()
      // drop leftover localCheckpoint blocks, as graft.Bench does
      ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }

  /** Repeat `op` until `seconds` have passed (at least once), or
    * exactly `ctx.fixedOps` times when that is set. */
  def closedLoop(ctx: Ctx, seconds: Double)(op: Int => OpResult): Seq[OpResult] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[OpResult]
    def more = if (ctx.fixedOps > 0) out.size < ctx.fixedOps else out.isEmpty || secondsSince(t0) < seconds
    while (more) out += op(out.size)
    out.toList
  }
}

/** The result of one workload's measured phase. */
final case class Phase(ops: Seq[OpResult], extra: Map[String, Any] = Map.empty,
    batches: Int = 0, failures: Seq[String] = Nil)

object Phase {
  /** Phases run one after another, as one: the last one's extras. */
  def concat(ps: Seq[Phase]): Phase = Phase(ps.flatMap(_.ops), ps.last.extra,
    ps.map(_.batches).sum, ps.flatMap(_.failures))
}

trait Workload {
  /** Untimed warm-up after set-up: one operation, so the measured loop
    * starts with warm code paths. */
  def prime(ctx: Ctx): Unit
  def measure(ctx: Ctx, seconds: Double, trace: Option[Recorder]): Phase
  def checks(ctx: Ctx, phase: Phase): (Seq[Check], Seq[OracleCheck])
  /** Operations a traced run measures, untraced and traced each. */
  def tracedOps: Int = 1
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "replicate" => ReplicateWorkload
    case "stream" => StreamWorkload
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Wrap an operation in a span when tracing. */
  def traced[T](trace: Option[Recorder], name: String, layer: String)(body: => T): T =
    trace.fold(body)(_.span(name, layer)(body))
}

/** Replicate.run in delta mode over the seeded events table. */
object ReplicateWorkload extends Workload {
  override def tracedOps: Int = 2

  private def once(ctx: Ctx): Unit =
    Replicate.run(ctx.spark, ctx.inDir, ctx.out("replica"), "delta")

  /** Two untimed runs: the first pays code generation and class
    * loading, the second most of the JIT warm-up, so the measured runs
    * are about level instead of still speeding up. */
  def prime(ctx: Ctx): Unit = { once(ctx); once(ctx) }

  def measure(ctx: Ctx, seconds: Double, trace: Option[Recorder]): Phase =
    Phase(Guard.closedLoop(ctx, seconds) { i =>
      Guard.op(ctx, "Replicate.run")(Workloads.traced(trace, "Replicate.run", "driver")(once(ctx)))
    })

  def checks(ctx: Ctx, phase: Phase): (Seq[Check], Seq[OracleCheck]) =
    (Nil, Seq(
      OracleCheck("destination_table", graft.cdc.CdcOps.replicateFullSql,
        ctx.out("replica") + "/destination_table"),
      OracleCheck("destination_collections", graft.cdc.CdcOps.collectionApplySql,
        ctx.out("replica") + "/destination_collections")))
}
