package graft

import graft.streaming.LocalFsCheckpointFileManager
import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's recommended configuration —
  * the same knobs a 1000-executor deployment would set, scaled to the
  * local test harness:
  *
  *  - AQE on (default in Spark 4) with skew-join handling: runtime
  *    re-planning splits skewed shuffle partitions (hot CDC streams,
  *    hot dedup buckets) without manual salting
  *  - partition coalescing: post-shuffle partitions sized by data, so
  *    small stages don't schedule thousands of empty tasks
  *  - shuffle partitions sized to the cluster (cores here; a cluster
  *    sets ~2-3× total executor cores)
  *  - UTC session timezone: timestamp arithmetic is reproducible
  *    across drivers and the DuckDB oracle
  *  - streaming checkpoints on a local filesystem commit through
  *    [[graft.streaming.LocalFsCheckpointFileManager]]. Spark's default
  *    manager renames through Hadoop `FileContext`, which, without the
  *    native Hadoop library, forks a `readlink` process for every path
  *    it checks, on the driver's offset/commit log and in every
  *    state-store commit task. A 12 s `GraftCdcConsumer` run (100 ms
  *    trigger, 4 state partitions, 4-core VM) forked about 200
  *    processes per micro-batch with Spark's default and about 40 with
  *    this one, mostly the `chmod` Hadoop runs when it creates a
  *    file. Other filesystems keep Spark's default manager,
  *    and batch jobs never read the key.
  */
object Sessions {

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      // graft's SQL functions + the RangeJoinRewrite optimizer rule —
      // the same line a cluster deployment puts in spark-defaults
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // let the planner pick shuffled-hash join when its size
      // conditions hold instead of always sorting both sides
      // (optimization guide §3.1/§9 — the same setting a production
      // deployment carries: SHJ skips two sorts whenever a build-side
      // partition fits in memory, and falls back to SMJ otherwise;
      // AQE's skew-join splitting applies to both). Measured on the
      // r13 optimization round's join-heavy subset: 0.956× total,
      // 9 of 12 entries faster, none outside noise slower. The AQE
      // threshold additionally lets runtime stats rewrite an SMJ to
      // SHJ when every post-shuffle partition is under 64 MB.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); the vectorized reader
      // needs this to read it (as a long). Set once here — a table
      // loader mutating session config would surprise other readers.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(CheckpointFileManagerConf._1, CheckpointFileManagerConf._2)

  /** The streaming checkpoint file manager setting (see above). */
  val CheckpointFileManagerConf: (String, String) =
    LocalFsCheckpointFileManager.ConfKey -> classOf[LocalFsCheckpointFileManager].getName

  /** Session for the driver-run mains (Verify/Bench); cores from
    * SPARK_GRAFT_CPUS, defaulting to every core on the box — the
    * harness is the stand-in for a cluster, so underscheduling it
    * understates throughput ~linearly. */
  def local(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    builder(cores).getOrCreate()
  }
}
