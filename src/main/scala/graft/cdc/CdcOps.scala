package graft.cdc

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The CDC operators (SURVEY.md §2a), re-expressed as Spark relational
  * transforms over the CDC-log relation produced by [[CdcLogAdapter]].
  *
  * Every operator is a pure column-expression pipeline: per-stream
  * semantics use `Window.partitionBy(cdc_stream_id)` / `groupBy` so the
  * plan shuffles once on the stream key and stays partition-local after
  * that — the layout that scales linearly with executors at 100 TB
  * (streams are Scylla's own parallelism unit: a generation has one
  * stream per vnode shard).
  */
object CdcOps {

  import CdcSchema._
  import ChangeOrder.{latestPerKey, livePerKey, newestFirst, oldestFirst, rowWrites}
  import MvAlgebra._

  /** Epoch of the synthetic log (2024-01-01T00:00:00Z) in µs — the
    * "generation start" analogue for window arithmetic. */
  val GenerationStartUs: Long = 1704067200000000L
  /** Query window size (TaskState window; reference default ~30 s —
    * scaled up to 1 h to match the synthetic data density). */
  val WindowSizeUs: Long = 3600L * 1000000L

  private def cdcLog(spark: SparkSession, dir: String): DataFrame =
    CdcLogAdapter.fromEvents(Tables.events(spark, dir))

  private val logCols: Seq[String] = Seq(
    "cdc_stream_id", "time_us", "cdc_batch_seq_no", "cdc_end_of_batch",
    "cdc_operation", "cdc_ttl", "user_id", "event_id", "value", "props",
    "cdc_deleted_value")

  /** #1: the CDC-log relation itself (RawChange surface). */
  def logAdapter(spark: SparkSession, dir: String): DataFrame =
    cdcLog(spark, dir).select(logCols.map(col): _*).orderBy(col("event_id"))

  val logAdapterSql: String = CdcLogAdapter.oracleCte +
    s"""SELECT ${logCols.mkString(", ")} FROM cdc ORDER BY event_id"""

  /** #2: operation byte → reference enum name
    * (RawChange.java:17-41 OperationType.parse). */
  def operationDecode(spark: SparkSession, dir: String): DataFrame = {
    val nameCol = operationNames.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("string")) { case (acc, (id, name)) =>
        when(col("cdc_operation") === id, name).otherwise(acc)
      }
    cdcLog(spark, dir)
      .withColumn("op_name", nameCol)
      .groupBy(col("cdc_operation"), col("op_name"))
      .agg(count(lit(1)).as("n_changes"))
      .orderBy(col("cdc_operation"))
  }

  val operationDecodeSql: String = CdcLogAdapter.oracleCte +
    s"""SELECT cdc_operation,
       |  CASE cdc_operation ${operationNames.toSeq.sortBy(_._1)
            .map { case (id, n) => s"WHEN $id THEN '$n'" }.mkString(" ")} END AS op_name,
       |  COUNT(*) AS n_changes
       |FROM cdc GROUP BY 1, 2 ORDER BY cdc_operation""".stripMargin

  /** #3: per-stream total order of changes — ChangeId = (streamId,
    * time) ordering that the Worker delivers in (ChangeId.java,
    * Worker consume loop). First 10 changes of each stream. */
  def streamOrdering(spark: SparkSession, dir: String): DataFrame =
    streamOrderingFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation — bring your
    * own log (real cdc$ table, Kafka topic, adapter output). */
  def streamOrderingFromLog(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cdc_stream_id")).orderBy(oldestFirst: _*)
    log
      .select(col("cdc_stream_id"), col("time_us"), col("event_id"), col("cdc_operation"))
      .withColumn("change_seq", row_number().over(w))
      .filter(col("change_seq") <= 10)
      .orderBy(col("cdc_stream_id"), col("change_seq"))
  }

  val streamOrderingSql: String = CdcLogAdapter.oracleCte +
    """SELECT * FROM (
      |  SELECT cdc_stream_id, time_us, event_id, cdc_operation,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY cdc_stream_id ORDER BY time_us, event_id) AS INT) AS change_seq
      |  FROM cdc)
      |WHERE change_seq <= 10
      |ORDER BY cdc_stream_id, change_seq""".stripMargin

  /** #4: bounded time-window scan — assigns every change to its
    * TaskState query window [start + k·W, start + (k+1)·W)
    * (TaskState.java:28-56, moveToNextWindow). */
  def windowScan(spark: SparkSession, dir: String): DataFrame =
    windowScanFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation — bring your
    * own log (real cdc$ table, Kafka topic, adapter output). */
  def windowScanFromLog(log: DataFrame): DataFrame =
    log
      // floor division (not double-divide + truncate): matches DuckDB's
      // `//` for pre-generation timestamps in bring-your-own logs
      .withColumn("window_id", floor((col("time_us") - GenerationStartUs) / WindowSizeUs).cast("long"))
      .groupBy(col("cdc_stream_id"), col("window_id"))
      .agg(count(lit(1)).as("n_changes"),
        min(col("time_us")).as("window_min_us"),
        max(col("time_us")).as("window_max_us"))
      .orderBy(col("cdc_stream_id"), col("window_id"))

  val windowScanSql: String = CdcLogAdapter.oracleCte +
    s"""SELECT cdc_stream_id,
       |  (time_us - $GenerationStartUs) // $WindowSizeUs AS window_id,
       |  COUNT(*) AS n_changes,
       |  MIN(time_us) AS window_min_us,
       |  MAX(time_us) AS window_max_us
       |FROM cdc GROUP BY 1, 2 ORDER BY cdc_stream_id, window_id""".stripMargin

  /** Generation boundaries: three generations split at day 10 / day 20
    * (GenerationMetadata [start, end) intervals). */
  val Gen1StartUs: Long = GenerationStartUs + 10L * 86400 * 1000000
  val Gen2StartUs: Long = GenerationStartUs + 20L * 86400 * 1000000

  private def generationCol: Column =
    when(col("time_us") < Gen1StartUs, 0)
      .when(col("time_us") < Gen2StartUs, 1)
      .otherwise(2).cast("int")

  /** The constant-boundary generation metadata as a RELATION —
    * `(generation_id, gen_start_us, gen_end_us)`, end null = open
    * (the reference's GenerationMetadata: [start, end?) + streams).
    * A real deployment binds this to its own
    * `system_distributed.cdc_generation_timestamps` dump instead. */
  def generationsTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (0, Long.MinValue, Option(Gen1StartUs)),
      (1, Gen1StartUs, Option(Gen2StartUs)),
      (2, Gen2StartUs, Option.empty[Long]))
      .toDF("generation_id", "gen_start_us", "gen_end_us")
  }

  /** #5: change → generation assignment by [start, end) containment
    * (GenerationMetadata.java, Master generation switch;
    * Driver3MasterCQL fetchGenerationEnd/fetchGenerationStreamIds
    * reads the boundaries from system tables — here they arrive as a
    * bring-your-own relation). Generations are cluster metadata
    * (tens of rows): broadcast containment join, no shuffle on the
    * log side until the final aggregation. */
  def generationAssign(spark: SparkSession, dir: String): DataFrame =
    generationAssignFromTable(cdcLog(spark, dir), generationsTable(spark))

  /** Same operator over ANY log + ANY generations relation
    * (irregular boundaries welcome — see CdcGenerationsSpec). */
  def generationAssignFromTable(log: DataFrame, generations: DataFrame): DataFrame =
    log.join(broadcast(generations),
        col("time_us") >= col("gen_start_us") &&
          (col("gen_end_us").isNull || col("time_us") < col("gen_end_us")))
      .groupBy(col("generation_id"))
      .agg(countDistinct(col("cdc_stream_id")).as("n_streams"),
        count(lit(1)).as("n_changes"),
        min(col("time_us")).as("first_change_us"),
        max(col("time_us")).as("last_change_us"))
      .orderBy(col("generation_id"))

  val generationAssignSql: String = CdcLogAdapter.oracleCte +
    s"""SELECT CAST(CASE WHEN time_us < $Gen1StartUs THEN 0
       |        WHEN time_us < $Gen2StartUs THEN 1 ELSE 2 END AS INT) AS generation_id,
       |  COUNT(DISTINCT cdc_stream_id) AS n_streams,
       |  COUNT(*) AS n_changes,
       |  MIN(time_us) AS first_change_us,
       |  MAX(time_us) AS last_change_us
       |FROM cdc GROUP BY 1 ORDER BY generation_id""".stripMargin

  /** #6: stream → vnode → task grouping (StreamId.getVNodeId,
    * StreamId.java:15-21; GroupedTasks.java — a task is the set of a
    * vnode's streams within one generation). */
  def vnodeGroup(spark: SparkSession, dir: String): DataFrame =
    cdcLog(spark, dir)
      .withColumn("generation_id", generationCol)
      .withColumn("vnode_id", (col("cdc_stream_id") % NumVnodes).cast("int"))
      .groupBy(col("generation_id"), col("vnode_id"))
      .agg(countDistinct(col("cdc_stream_id")).as("n_streams"),
        count(lit(1)).as("n_changes"))
      .orderBy(col("generation_id"), col("vnode_id"))

  val vnodeGroupSql: String = CdcLogAdapter.oracleCte +
    s"""SELECT CAST(CASE WHEN time_us < $Gen1StartUs THEN 0
       |        WHEN time_us < $Gen2StartUs THEN 1 ELSE 2 END AS INT) AS generation_id,
       |  CAST(cdc_stream_id % $NumVnodes AS INT) AS vnode_id,
       |  COUNT(DISTINCT cdc_stream_id) AS n_streams,
       |  COUNT(*) AS n_changes
       |FROM cdc GROUP BY 1, 2 ORDER BY generation_id, vnode_id""".stripMargin

  /** #7: last-writer-wins materialization of the base table from the
    * change stream — the batch analogue of the replicator's
    * insert/update/delete handlers (InsertOperationHandler,
    * PreparedUpdateOperationHandler, RowDeleteOperationHandler): per
    * key, the newest of {INSERT, UPDATE, DELETE} decides the final row.
    * Single shuffle on the key; window is partition-local after it. */
  def replicateLww(spark: SparkSession, dir: String): DataFrame =
    replicateLwwFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation — bring your
    * own log (real cdc$ table, Kafka topic, adapter output). */
  def replicateLwwFromLog(log: DataFrame): DataFrame =
    livePerKey(rowWrites(log), "user_id")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("time_us").as("last_write_us"), col("cdc_operation").as("last_op"),
        col("value"), col("props"))
      .orderBy(col("user_id"))

  val replicateLwwSql: String = CdcLogAdapter.oracleCte +
    """SELECT user_id, event_id AS last_event_id, time_us AS last_write_us,
      |  cdc_operation AS last_op, value, props
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
      |  FROM cdc WHERE cdc_operation IN (1, 2, 3))
      |WHERE rn = 1 AND cdc_operation <> 3
      |ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------ replica checksum audit

  /** Key-range width of one checksum bucket (the pt-table-checksum /
    * repair-chunk posture: coarse enough that comparing two replicas
    * exchanges \|ranges\| rows, fine enough that a divergence is
    * localized to a re-syncable slice). */
  val ChecksumRangeUsers = 10L
  /** Per-row digests are taken mod this prime BEFORE summing, so the
    * range sum stays exact BIGINT arithmetic at any row count the
    * range can hold (rows-per-range × mod < 2⁶³ up to ~9·10⁹ rows per
    * range — far beyond any sane chunk). */
  val ChecksumMod = 1000000007L

  /** #14m: REPLICA CHECKSUM AUDIT — the divergence detector a CDC
    * replication deployment runs after the replicator
    * (pt-table-checksum / scylla-manager repair-checksum shape): the
    * materialized LWW table, bucketed into contiguous key ranges,
    * each range reduced to (row count, ORDER-INDEPENDENT content
    * digest). Two replicas — or a replica and an independent
    * recompute — compare by exchanging only the \|ranges\|-row
    * checksum relations; a mismatched range is the re-sync unit.
    * The digest is a per-row polynomial over (key, payload cents,
    * last writer) taken mod a prime and SUMMED — commutative, so the
    * aggregate is partitioning-invariant and map-side combines; one
    * range-keyed exchange after the LWW window's key exchange.
    * ReplicaChecksumSpec proves the two INDEPENDENT materialization
    * paths in this library (full LWW replay vs incremental
    * snapshot+slice merge) produce identical checksums, and that a
    * single tampered row flips exactly its own range's digest. */
  def replicaChecksum(spark: SparkSession, dir: String): DataFrame =
    checksumFrame(replicateLwwFromLog(cdcLog(spark, dir)))

  /** DuckDB-`//`-compatible FLOOR division as a SQL fragment. Spark's
    * `div` truncates toward zero, so negative dividends diverge from
    * the paired oracles' floor semantics (-7 div 10 = 0 vs
    * -7 // 10 = -1) — invisible on the non-negative testdata but real
    * on the advertised bring-your-own-log surfaces (r11 ADVICE item).
    * Exact integer arithmetic for a positive constant divisor; used
    * everywhere a key or cents value is bucketed ([[checksumFrame]]
    * and the MV family's bucket / tier key in [[MvAlgebra]]). */
  private[graft] def floorDivSql(a: String, b: Long): String =
    s"(($a) div $b - (CASE WHEN ($a) % $b < 0 THEN 1 ELSE 0 END))"

  /** Checksum any conforming materialized state: needs `user_id`,
    * `value`, `last_event_id`. */
  def checksumFrame(state: DataFrame): DataFrame =
    state
      .select(col("user_id"), col("last_event_id"), Cents.as("cents"))
      .withColumn("range_id", expr(floorDivSql("user_id", ChecksumRangeUsers)))
      .withColumn("row_digest",
        expr(s"(user_id * 1000003 + cents * 31 + last_event_id * 7) % $ChecksumMod"))
      .groupBy(col("range_id"))
      .agg(count(lit(1)).as("n_rows"), sum(col("row_digest")).as("digest"))
      .orderBy(col("range_id"))

  val replicaChecksumSql: String = CdcLogAdapter.oracleCte +
    s""", state AS (
       |  SELECT user_id, event_id AS last_event_id,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM cdc WHERE cdc_operation IN (1, 2, 3))
       |  WHERE rn = 1 AND cdc_operation <> 3)
       |SELECT user_id // $ChecksumRangeUsers AS range_id,
       |  COUNT(*) AS n_rows,
       |  CAST(SUM((user_id * 1000003 + cents * 31 + last_event_id * 7) % $ChecksumMod) AS BIGINT) AS digest
       |FROM state GROUP BY 1 ORDER BY range_id""".stripMargin

  /** [[timeTravel]]'s labeled cutoffs: the two generation switchovers
    * plus the log head — the AS-OF points an operator actually asks
    * about ("what did the table look like when generation N went
    * live?"). */
  val TimeTravelCutoffs: Seq[(String, Long)] = Seq(
    "gen1_switch" -> Gen1StartUs,
    "gen2_switch" -> Gen2StartUs,
    "head" -> Long.MaxValue)

  /** TIME TRAVEL — reconstruct the replicated table's state AS OF
    * each [[TimeTravelCutoffs]] instant from the log alone: the LWW
    * fold of [[replicateLww]] restricted to changes strictly before
    * the cutoff (rows whose last pre-cutoff write is a DELETE are
    * absent from that snapshot, exactly the replicator's state had it
    * stopped there). This is the log-as-source-of-truth payoff the
    * reference's replicator implies but never materializes: any
    * historical state is a filter + fold away, no stored snapshots.
    *
    * Scale: the 3-row cutoff dim broadcasts; the single shuffle is
    * the (as_of, user_id) rank partition — |cutoffs|× the LWW
    * exchange, each partition window-sized. More cutoffs = wider
    * fan-out of the SAME plan (an audit sweep passes dozens). */
  def timeTravel(spark: SparkSession, dir: String): DataFrame =
    timeTravelFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation. */
  def timeTravelFromLog(log: DataFrame): DataFrame = {
    import log.sparkSession.implicits._
    val cuts = TimeTravelCutoffs.toDF("as_of", "cutoff_us")
    val beforeCut = rowWrites(log)
      // no broadcast HINT (the repo rule: no forced hints in cdc
      // operators — PlanGuardSpec); a 3-row LocalRelation broadcasts
      // on stats anyway
      .crossJoin(cuts)
      .filter(col("time_us") < col("cutoff_us"))
    livePerKey(beforeCut, "as_of", "user_id")
      .select(col("as_of"), col("user_id"), col("event_id").as("last_event_id"),
        col("time_us").as("last_write_us"), col("value"), col("props"))
      .orderBy(col("as_of"), col("user_id"))
  }

  val timeTravelSql: String = CdcLogAdapter.oracleCte +
    s""", cuts AS (
       |  SELECT 'gen1_switch' AS as_of, CAST($Gen1StartUs AS BIGINT) AS cutoff_us
       |  UNION ALL SELECT 'gen2_switch', CAST($Gen2StartUs AS BIGINT)
       |  UNION ALL SELECT 'head', CAST(${Long.MaxValue} AS BIGINT)),
       |ranked AS (
       |  SELECT c.as_of, l.user_id, l.event_id, l.time_us, l.cdc_operation, l.value, l.props,
       |    ROW_NUMBER() OVER (PARTITION BY c.as_of, l.user_id
       |      ORDER BY l.time_us DESC, l.event_id DESC) AS rn
       |  FROM cdc l CROSS JOIN cuts c
       |  WHERE l.cdc_operation IN (1, 2, 3) AND l.time_us < c.cutoff_us)
       |SELECT as_of, user_id, event_id AS last_event_id, time_us AS last_write_us, value, props
       |FROM ranked WHERE rn = 1 AND cdc_operation <> 3
       |ORDER BY as_of, user_id""".stripMargin

  /** #8: partition-delete semantics (PartitionDeleteOperationHandler):
    * a PARTITION_DELETE at time T masks every row of that partition
    * written at or before T; later writes resurrect their row. The
    * base table here is keyed (user_id; ck = event_id % 16). */
  def partitionDelete(spark: SparkSession, dir: String): DataFrame =
    partitionDeleteFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation — bring your
    * own log (real cdc$ table, Kafka topic, adapter output). */
  def partitionDeleteFromLog(log: DataFrame): DataFrame = {
    val ckLog = log.withColumn("ck", (col("event_id") % 16).cast("int"))
    val pd = ckLog.filter(col("cdc_operation") === PartitionDelete)
      .groupBy(col("user_id")).agg(max(col("time_us")).as("pd_time_us"))
    livePerKey(rowWrites(ckLog), "user_id", "ck")
      // pd grows with the log (one row per delete-carrying partition) —
      // no forced hint: AQE broadcasts it while small and falls back to
      // a key shuffle once a delete-heavy log outgrows the driver.
      .join(pd, Seq("user_id"), "left")
      .filter(col("pd_time_us").isNull || col("time_us") > col("pd_time_us"))
      .select(col("user_id"), col("ck"), col("time_us").as("last_write_us"), col("value"))
      .orderBy(col("user_id"), col("ck"))
  }

  val partitionDeleteSql: String = CdcLogAdapter.oracleCte +
    """, ck_log AS (SELECT *, CAST(event_id % 16 AS INT) AS ck FROM cdc),
      |pd AS (SELECT user_id, MAX(time_us) AS pd_time_us FROM ck_log WHERE cdc_operation = 4 GROUP BY user_id),
      |last_writes AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ck ORDER BY time_us DESC, event_id DESC) AS rn
      |    FROM ck_log WHERE cdc_operation IN (1, 2, 3))
      |  WHERE rn = 1 AND cdc_operation <> 3)
      |SELECT l.user_id, l.ck, l.time_us AS last_write_us, l.value
      |FROM last_writes l LEFT JOIN pd ON l.user_id = pd.user_id
      |WHERE pd.pd_time_us IS NULL OR l.time_us > pd.pd_time_us
      |ORDER BY l.user_id, l.ck""".stripMargin

  /** #9: range-delete bound pairing (RangeDeleteState.java): a right
    * bound (ops 7/8) consumes the most recent unconsumed left bound
    * (ops 5/6) of the same stream — per-stream `last(...) ignore nulls`
    * window, no join, no driver state. */
  def rangeDelete(spark: SparkSession, dir: String): DataFrame =
    rangeDeleteFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation — bring your
    * own log (real cdc$ table, Kafka topic, adapter output).
    *
    * A left bound is consumed at most once (RangeDeleteState
    * .consumeStart REMOVES the start): a right bound pairs only when
    * the IMMEDIATELY preceding bound on its stream is a left bound —
    * a second consecutive right (the reference's "end but no start"
    * IllegalStateException) yields no pair, and an overwritten left
    * (two consecutive lefts) pairs with the newer one. */
  def rangeDeleteFromLog(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cdc_stream_id")).orderBy(oldestFirst: _*)
    val bounds = log
      .filter(col("cdc_operation").isin(RangeDeleteInclLeft, RangeDeleteExclLeft,
        RangeDeleteInclRight, RangeDeleteExclRight))
      .withColumn("ck", (col("event_id") % 16).cast("int"))
    bounds
      .withColumn("prev_op", lag(col("cdc_operation"), 1).over(w))
      .withColumn("left_event_id", lag(col("event_id"), 1).over(w))
      .withColumn("left_ck", lag(col("ck"), 1).over(w))
      .withColumn("left_inclusive", lag(col("cdc_operation") === RangeDeleteInclLeft, 1).over(w))
      .filter(col("cdc_operation").isin(RangeDeleteInclRight, RangeDeleteExclRight)
        && col("prev_op").isin(RangeDeleteInclLeft, RangeDeleteExclLeft))
      .select(col("cdc_stream_id"),
        col("left_event_id"), col("left_ck"), col("left_inclusive"),
        col("event_id").as("right_event_id"), col("ck").as("right_ck"),
        col("user_id").as("rd_user_id"),
        (col("cdc_operation") === RangeDeleteInclRight).as("right_inclusive"),
        col("time_us").as("applied_at_us"))
      .orderBy(col("cdc_stream_id"), col("right_event_id"))
  }

  val rangeDeleteSql: String = CdcLogAdapter.oracleCte +
    """, bounds AS (
      |  SELECT *, CAST(event_id % 16 AS INT) AS ck FROM cdc WHERE cdc_operation IN (5, 6, 7, 8)),
      |paired AS (
      |  SELECT *,
      |    LAG(cdc_operation, 1) OVER (PARTITION BY cdc_stream_id ORDER BY time_us, event_id) AS prev_op,
      |    LAG(event_id, 1) OVER (PARTITION BY cdc_stream_id ORDER BY time_us, event_id) AS left_event_id,
      |    LAG(ck, 1) OVER (PARTITION BY cdc_stream_id ORDER BY time_us, event_id) AS left_ck,
      |    LAG(cdc_operation = 5, 1) OVER (PARTITION BY cdc_stream_id ORDER BY time_us, event_id) AS left_inclusive
      |  FROM bounds)
      |SELECT cdc_stream_id, left_event_id, left_ck, left_inclusive,
      |  event_id AS right_event_id, ck AS right_ck,
      |  user_id AS rd_user_id,
      |  (cdc_operation = 7) AS right_inclusive,
      |  time_us AS applied_at_us
      |FROM paired
      |WHERE cdc_operation IN (7, 8) AND prev_op IN (5, 6)
      |ORDER BY cdc_stream_id, right_event_id""".stripMargin

  /** #10: preimage consistency check (PreImageOperationHandler.java:
    * 30-90 — checkIfAllMatch iterates EVERY non-key cell of the
    * preimage and compares it against the destination row, null-safely;
    * one mismatching cell makes the whole preimage inconsistent).
    * The destination state here is the most recent prior write of the
    * same key: full row = (value — respecting its cdc$deleted flag —
    * and props), compared per-column. */
  def preimageCheck(spark: SparkSession, dir: String): DataFrame =
    preimageCheckFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation — bring your
    * own log (real cdc$ table, Kafka topic, adapter output). */
  def preimageCheckFromLog(log: DataFrame): DataFrame =
    preimageCheckCore(log).orderBy(col("user_id"), col("event_id"))

  /** [[preimageCheckFromLog]]'s rows in no particular order — what
    * [[graft.Replicate]] writes, sorted per file on (user_id, event_id). */
  private[graft] def preimageCheckCore(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(oldestFirst: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val isWrite = col("cdc_operation").isin(RowUpdate, RowInsert)
    log
      .filter(col("cdc_operation").isin(PreImage, RowUpdate, RowInsert))
      // whole prior row in ONE ignore-nulls window (the struct is
      // non-null exactly on write rows) — single shuffle, no self-join
      .withColumn("prev", last(
          when(isWrite, struct(
            col("event_id").as("event_id"),
            when(col("cdc_deleted_value"), lit(null).cast("double"))
              .otherwise(col("value")).as("value"),
            col("props").as("props"))),
          ignoreNulls = true).over(w))
      .filter(col("cdc_operation") === PreImage)
      .select(col("user_id"), col("event_id"), col("time_us"),
        col("value").as("preimage_value"), col("props").as("preimage_props"),
        col("prev.value").as("prev_value"), col("prev.props").as("prev_props"),
        col("prev.event_id").as("prev_event_id"),
        (col("value") <=> col("prev.value")).as("value_match"),
        (col("props") <=> col("prev.props")).as("props_match"),
        (col("prev").isNotNull && (col("value") <=> col("prev.value"))
          && (col("props") <=> col("prev.props"))).as("consistent"))
  }

  val preimageCheckSql: String = CdcLogAdapter.oracleCte +
    """, writes AS (
      |  SELECT *,
      |    LAST_VALUE(CASE WHEN cdc_operation IN (1, 2) THEN
      |        {'event_id': event_id,
      |         'value': CASE WHEN cdc_deleted_value THEN NULL ELSE value END,
      |         'props': props} END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY time_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
      |  FROM cdc WHERE cdc_operation IN (0, 1, 2))
      |SELECT user_id, event_id, time_us, value AS preimage_value, props AS preimage_props,
      |  prev.value AS prev_value, prev.props AS prev_props, prev.event_id AS prev_event_id,
      |  (value IS NOT DISTINCT FROM prev.value) AS value_match,
      |  (props IS NOT DISTINCT FROM prev.props) AS props_match,
      |  (prev IS NOT NULL AND value IS NOT DISTINCT FROM prev.value
      |    AND props IS NOT DISTINCT FROM prev.props) AS consistent
      |FROM writes WHERE cdc_operation = 0
      |ORDER BY user_id, event_id""".stripMargin

  /** #10b (`cdc_collection_apply`): non-frozen collection cell
    * semantics — the reference's UnpreparedUpdateOperationHandler.java:
    * 55-95 interprets each change against a collection column as
    * putAll (addAll for sets), removeAll of `cdc$deleted_elements_X`,
    * or whole-cell overwrite when `cdc$deleted_X` is set; this
    * operator folds that stream per primary key into the final
    * collection state, exactly as a Scylla replica would.
    *
    * Relational layout (one pass, no per-key iteration): changes are
    * sequenced per key; the LAST overwrite opens the live "epoch"
    * (cumulative max of overwrite sequence numbers ≡ Scylla's
    * whole-cell tombstone timestamp); only actions in the live epoch
    * can survive; put/delete actions explode to (key, element-key)
    * grain and the newest action per element decides presence and
    * value. Shuffles: one on the primary key (windows), one on
    * (key, element) for the final argmax — both standard hash
    * exchanges that scale linearly.
    *
    * List columns are this same fold with timeuuid element keys
    * (ListSetIdxTimeUUIDAssignment): a final sort of the surviving
    * entries by key materializes the list; UDT columns are the map
    * fold with the field index as the key
    * (UdtSetFieldAssignment; deleted fields arrive as
    * cdc$deleted_elements field-index sets). */
  def collectionApply(spark: SparkSession, dir: String): DataFrame =
    collectionApplyFromLog(
      CdcLogAdapter.fromEventsWithCollections(Tables.events(spark, dir)))

  /** Same operator over ANY log relation carrying the collection
    * triple (`attrs`, `cdc_deleted_elements_attrs`,
    * `cdc_deleted_attrs`). */
  def collectionApplyFromLog(log: DataFrame): DataFrame =
    collectionApplyCore(log).orderBy(col("user_id"), col("key"))

  /** [[collectionApplyFromLog]]'s rows in no particular order — what
    * [[graft.Replicate]] writes, sorted per file on (user_id, key). */
  private[graft] def collectionApplyCore(log: DataFrame): DataFrame =
    liveElements(liveEpoch(log, "attrs"), "attrs")
      .select(col("user_id"), col("key"), col("val").as("attr_value"))

  /** The live epoch of collection cell `cell` (its value,
    * `cdc_deleted_elements_<cell>` and `cdc_deleted_<cell>` columns):
    * changes sequenced per key as `rn`, the last whole-cell overwrite
    * opening the epoch, only the epoch's changes kept. */
  private def liveEpoch(log: DataFrame, cell: String): DataFrame = {
    val seqW = Window.partitionBy(col("user_id")).orderBy(oldestFirst: _*)
    val cum = seqW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    log
      .select(col("user_id"), col("time_us"), col("event_id"),
        col(cell), col(s"cdc_deleted_elements_$cell"), col(s"cdc_deleted_$cell"))
      .withColumn("rn", row_number().over(seqW).cast("long"))
      .withColumn("epoch", max(when(col(s"cdc_deleted_$cell"), col("rn"))).over(cum))
      .withColumn("last_epoch", max(col("epoch")).over(Window.partitionBy(col("user_id"))))
      // null-safe: keys never overwritten live in the null epoch
      .filter(col("epoch") <=> col("last_epoch"))
  }

  /** A map-shaped cell's live elements (user_id, rn, key, val, ...):
    * puts and element deletes explode to (key, element) grain, and an
    * element survives when its newest action in the epoch is a put. */
  private def liveElements(staged: DataFrame, cell: String): DataFrame = {
    val deletedElements = col(s"cdc_deleted_elements_$cell")
    val puts = staged.filter(deletedElements.isNull)
      .select(col("user_id"), col("rn"), explode(map_entries(col(cell))).as("kv"))
      .select(col("user_id"), col("rn"), col("kv.key").as("key"),
        col("kv.value").as("val"), lit(1).as("act"))
    val dels = staged.filter(deletedElements.isNotNull)
      .select(col("user_id"), col("rn"), explode(deletedElements).as("key"),
        lit(null).cast("double").as("val"), lit(0).as("act"))
    val wElem = Window.partitionBy(col("user_id"), col("key")).orderBy(col("rn").desc)
    puts.unionByName(dels)
      .withColumn("r", row_number().over(wElem))
      .filter(col("r") === 1 && col("act") === 1)
  }

  /** Oracle: same fold in SQL, deriving the synthetic collection ops
    * from `events` directly (kind 0=put, 1=element-delete,
    * 2=overwrite). */
  val collectionApplySql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS time_us, event_id, value,
      |    CASE WHEN event_type = 'error' THEN 2 WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind,
      |    event_id % 3 + 1 AS n
      |  FROM events),
      |seqd AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us, event_id) AS BIGINT) AS rn
      |  FROM ev),
      |epochs AS (
      |  SELECT *, MAX(CASE WHEN kind = 2 THEN rn END)
      |    OVER (PARTITION BY user_id ORDER BY time_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
      |  FROM seqd),
      |cur AS (
      |  SELECT * FROM (SELECT *, MAX(epoch) OVER (PARTITION BY user_id) AS last_epoch FROM epochs)
      |  WHERE epoch IS NOT DISTINCT FROM last_epoch),
      |acts AS (
      |  SELECT user_id, rn, CAST((event_id + 2 * i.i) % 7 AS INT) AS key,
      |    CASE WHEN kind <> 1 THEN value + i.i END AS val,
      |    CASE WHEN kind <> 1 THEN 1 ELSE 0 END AS act
      |  FROM cur, LATERAL (SELECT unnest(generate_series(0, CAST(n - 1 AS INT))) AS i) i),
      |final AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, key ORDER BY rn DESC) AS r FROM acts)
      |SELECT user_id, key, val AS attr_value
      |FROM final WHERE r = 1 AND act = 1
      |ORDER BY user_id, key""".stripMargin

  /** #10c (`cdc_collection_apply_list`): non-frozen LIST cell
    * semantics — a Scylla list is internally `map<timeuuid, value>`
    * (UnpreparedUpdateOperationHandler.java:61-67,75-80,108-122 →
    * ListSetIdxTimeUUIDAssignment.java): appends mint time-ordered
    * timeuuid keys, `cdc$deleted_elements_X` carries per-element
    * victim keys, a whole-cell tombstone opens a fresh list. This is
    * the SAME epoch fold as [[collectionApplyFromLog]] with timeuuid
    * element keys, ENDING with the key-order sort that materializes
    * the surviving entries into list positions (the reference's
    * TreeMap walk at :113-120).
    *
    * Output grain is (user_id, pos, item) — the materialized list in
    * explicit positional form (hash-safe scalars for the oracle; a
    * caller wanting the array form wraps with
    * `groupBy(user_id).agg(array_agg under sort)`).
    *
    * Shuffles: key window, (key, element) argmax, plus the final
    * per-user position window — all standard hash exchanges; the
    * position window re-uses the user_id partitioning. */
  def collectionApplyList(spark: SparkSession, dir: String): DataFrame =
    collectionApplyListFromLog(
      CdcLogAdapter.fromEventsWithList(Tables.events(spark, dir)))

  /** Same operator over ANY log relation carrying the list triple
    * (`items` map<bigint,double> with timeuuid-like keys,
    * `cdc_deleted_elements_items`, `cdc_deleted_items`). */
  def collectionApplyListFromLog(log: DataFrame): DataFrame =
    liveElements(liveEpoch(log, "items"), "items")
      // the key-order sort IS the list materialization: surviving
      // timeuuid keys in order become positions 1..n
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("user_id")).orderBy(col("key"))).cast("int"))
      .select(col("user_id"), col("pos"), col("val").as("item"))
      .orderBy(col("user_id"), col("pos"))

  /** Oracle: the list fold in SQL, deriving the synthetic list ops
    * from `events` directly (mirrors
    * [[CdcLogAdapter.fromEventsWithList]]). */
  val collectionApplyListSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS time_us, event_id, value,
      |    CASE WHEN event_type = 'error' THEN 2 WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind,
      |    event_id % 3 + 1 AS n
      |  FROM events),
      |seqd AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us, event_id) AS BIGINT) AS rn
      |  FROM ev),
      |epochs AS (
      |  SELECT *, MAX(CASE WHEN kind = 2 THEN rn END)
      |    OVER (PARTITION BY user_id ORDER BY time_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
      |  FROM seqd),
      |cur AS (
      |  SELECT * FROM (SELECT *, MAX(epoch) OVER (PARTITION BY user_id) AS last_epoch FROM epochs)
      |  WHERE epoch IS NOT DISTINCT FROM last_epoch),
      |puts AS (
      |  SELECT user_id, rn, rn * 4 + i.i AS key, value + i.i AS val, 1 AS act
      |  FROM cur, LATERAL (SELECT unnest(generate_series(0, CAST(n - 1 AS INT))) AS i) i
      |  WHERE kind <> 1),
      |dels AS (
      |  SELECT user_id, rn, k.k AS key, CAST(NULL AS DOUBLE) AS val, 0 AS act
      |  FROM cur, LATERAL (SELECT unnest([(rn - 1) * 4 + event_id % 3, (rn - 2) * 4 + (event_id + 1) % 3]) AS k) k
      |  WHERE kind = 1),
      |final AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, key ORDER BY rn DESC) AS r
      |  FROM (SELECT * FROM puts UNION ALL SELECT * FROM dels))
      |SELECT user_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY key) AS INT) AS pos,
      |  val AS item
      |FROM final WHERE r = 1 AND act = 1
      |ORDER BY user_id, pos""".stripMargin

  /** #10d (`cdc_collection_apply_udt`): non-frozen UDT cell
    * semantics (UnpreparedUpdateOperationHandler.java:85-105 →
    * UdtSetFieldAssignment.java): per change and field index, a
    * non-null field value is a per-field SET, a null field whose
    * index appears in the `cdc$deleted_elements` field-index set is a
    * per-field DELETE, and a null undeleted field leaves the
    * destination field untouched; `cdc$deleted_X` replaces the whole
    * cell. The map epoch fold with the FIELD INDEX as element key;
    * the final state pivots back to one struct-shaped row per key.
    *
    * Shuffles: one on the primary key (windows), one on (key, field)
    * for the argmax, then the pivot groupBy re-uses the user_id
    * hash — the same two-exchange family as the map fold. */
  def collectionApplyUdt(spark: SparkSession, dir: String): DataFrame =
    collectionApplyUdtFromLog(
      CdcLogAdapter.fromEventsWithUdt(Tables.events(spark, dir)))

  /** Same operator over ANY log relation carrying the UDT triple
    * (`udt` struct<f0,f1,f2>, `cdc_deleted_elements_udt` array<int>
    * of field indices, `cdc_deleted_udt`). */
  def collectionApplyUdtFromLog(log: DataFrame): DataFrame = {
    val staged = liveEpoch(log, "udt")
    val deleted = coalesce(col("cdc_deleted_elements_udt"), array().cast("array<int>"))
    def action(j: Int, v: org.apache.spark.sql.Column) = struct(
      lit(j).as("j"), v.isNotNull.as("is_set"), array_contains(deleted, j).as("is_del"),
      (if (j == 0) v else lit(null).cast("double")).as("vd"),
      (if (j == 1) v else lit(null).cast("long")).as("vl"),
      (if (j == 2) v else lit(null).cast("string")).as("vs"))
    val acts = staged
      .select(col("user_id"), col("rn"), explode(array(
        action(0, col("udt.f0")), action(1, col("udt.f1")), action(2, col("udt.f2")))).as("a"))
      .select(col("user_id"), col("rn"), col("a.*"))
      .filter(col("is_set") || col("is_del"))
    val wField = Window.partitionBy(col("user_id"), col("j")).orderBy(col("rn").desc)
    acts.withColumn("r", row_number().over(wField))
      .filter(col("r") === 1)
      // del winners carry null field values, so the pivot yields null
      // for deleted fields and for fields untouched in the live epoch
      .groupBy(col("user_id")).agg(
        max(when(col("j") === 0, col("vd"))).as("f0"),
        max(when(col("j") === 1, col("vl"))).as("f1"),
        max(when(col("j") === 2, col("vs"))).as("f2"))
      .orderBy(col("user_id"))
  }

  /** Oracle: the UDT field-index fold in SQL (mirrors
    * [[CdcLogAdapter.fromEventsWithUdt]]). */
  val collectionApplyUdtSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS time_us, event_id,
      |    (event_type = 'error') AS ow,
      |    CASE WHEN event_id % 3 <> 0 THEN value + 0.5 END AS f0,
      |    CASE WHEN (event_id + 1) % 3 <> 0 THEN event_id * 7 END AS f1,
      |    CASE WHEN (event_id + 2) % 3 <> 0 THEN 'u' || CAST(event_id % 10 AS VARCHAR) END AS f2
      |  FROM events),
      |seqd AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us, event_id) AS BIGINT) AS rn
      |  FROM ev),
      |epochs AS (
      |  SELECT *, MAX(CASE WHEN ow THEN rn END)
      |    OVER (PARTITION BY user_id ORDER BY time_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
      |  FROM seqd),
      |cur AS (
      |  SELECT * FROM (SELECT *, MAX(epoch) OVER (PARTITION BY user_id) AS last_epoch FROM epochs)
      |  WHERE epoch IS NOT DISTINCT FROM last_epoch),
      |acts AS (
      |  SELECT user_id, rn, j.j AS j,
      |    CASE WHEN j.j = 0 THEN f0 END AS vd,
      |    CASE WHEN j.j = 1 THEN f1 END AS vl,
      |    CASE WHEN j.j = 2 THEN f2 END AS vs,
      |    (CASE j.j WHEN 0 THEN f0 IS NOT NULL WHEN 1 THEN f1 IS NOT NULL ELSE f2 IS NOT NULL END) AS is_set,
      |    ((event_id + j.j) % 6 = 0) AS is_del
      |  FROM cur, LATERAL (SELECT unnest([0, 1, 2]) AS j) j),
      |final AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, j ORDER BY rn DESC) AS r
      |  FROM acts WHERE is_set OR is_del)
      |SELECT user_id,
      |  MAX(CASE WHEN j = 0 THEN vd END) AS f0,
      |  MAX(CASE WHEN j = 1 THEN vl END) AS f1,
      |  MAX(CASE WHEN j = 2 THEN vs END) AS f2
      |FROM final WHERE r = 1
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** #11: postimage apply (PostImageState / PostImageOperationHandler):
    * the latest POST_IMAGE per key is the authoritative full row. */
  def postimageApply(spark: SparkSession, dir: String): DataFrame =
    postimageApplyFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation — bring your
    * own log (real cdc$ table, Kafka topic, adapter output). */
  def postimageApplyFromLog(log: DataFrame): DataFrame =
    postimageApplyCore(log).orderBy(col("user_id"))

  /** [[postimageApplyFromLog]]'s rows in no particular order — what
    * [[graft.Replicate]] writes, sorted per file on user_id. */
  private[graft] def postimageApplyCore(log: DataFrame): DataFrame =
    latestPerKey(log.filter(col("cdc_operation") === PostImage), "user_id")
      .select(col("user_id"), col("event_id"), col("time_us").as("applied_at_us"),
        col("value"), col("props"))

  val postimageApplySql: String = CdcLogAdapter.oracleCte +
    """SELECT user_id, event_id, time_us AS applied_at_us, value, props
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
      |  FROM cdc WHERE cdc_operation = 9)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** #12: checkpointing — per task (generation, vnode): the
    * lastConsumedChangeId and current window (TaskState.update,
    * WorkerTransport.setState / moveStateToNextWindow). */
  def checkpoint(spark: SparkSession, dir: String): DataFrame =
    cdcLog(spark, dir)
      .withColumn("generation_id", generationCol)
      .withColumn("vnode_id", (col("cdc_stream_id") % NumVnodes).cast("int"))
      .groupBy(col("generation_id"), col("vnode_id"))
      .agg(count(lit(1)).as("n_consumed"),
        ChangeOrder.newest(col("time_us"), col("event_id")).as("last"))
      .select(col("generation_id"), col("vnode_id"), col("n_consumed"),
        col("last.time_us").as("last_time_us"),
        col("last.event_id").as("last_event_id"),
        floor((col("last.time_us") - GenerationStartUs) / WindowSizeUs).cast("long").as("current_window_id"))
      .orderBy(col("generation_id"), col("vnode_id"))

  val checkpointSql: String = CdcLogAdapter.oracleCte +
    s""", tasks AS (
       |  SELECT CAST(CASE WHEN time_us < $Gen1StartUs THEN 0
       |           WHEN time_us < $Gen2StartUs THEN 1 ELSE 2 END AS INT) AS generation_id,
       |    CAST(cdc_stream_id % $NumVnodes AS INT) AS vnode_id,
       |    time_us, event_id,
       |    COUNT(*) OVER (PARTITION BY CASE WHEN time_us < $Gen1StartUs THEN 0
       |        WHEN time_us < $Gen2StartUs THEN 1 ELSE 2 END,
       |      cdc_stream_id % $NumVnodes) AS n_consumed,
       |    ROW_NUMBER() OVER (PARTITION BY CASE WHEN time_us < $Gen1StartUs THEN 0
       |        WHEN time_us < $Gen2StartUs THEN 1 ELSE 2 END,
       |      cdc_stream_id % $NumVnodes
       |      ORDER BY time_us DESC, event_id DESC) AS rn
       |  FROM cdc)
       |SELECT generation_id, vnode_id, n_consumed,
       |  time_us AS last_time_us, event_id AS last_event_id,
       |  (time_us - $GenerationStartUs) // $WindowSizeUs AS current_window_id
       |FROM tasks WHERE rn = 1
       |ORDER BY generation_id, vnode_id""".stripMargin

  /** #12b (`cdc_generation_progress`): the Master's generation
    * lifecycle decision (Master.java — a generation is "fully
    * consumed" when every task's checkpoint has passed the
    * generation's end timestamp; only then does the master move to the
    * next generation). Computes per-generation totals, per-task
    * consumption watermarks, and the done flag given a global read
    * watermark (fixed at NowUs for reproducibility). */
  def generationProgress(spark: SparkSession, dir: String): DataFrame = {
    cdcLog(spark, dir)
      .withColumn("generation_id", generationCol)
      .withColumn("vnode_id", (col("cdc_stream_id") % NumVnodes).cast("int"))
      .groupBy(col("generation_id"))
      .agg(countDistinct(col("vnode_id")).as("n_tasks"),
        count(lit(1)).as("n_changes"),
        max(col("time_us")).as("max_change_us"),
        min(col("time_us")).as("min_change_us"))
      .withColumn("generation_end_us",
        when(col("generation_id") === 0, Gen1StartUs)
          .when(col("generation_id") === 1, Gen2StartUs)
          .otherwise(lit(null).cast("long")))
      .withColumn("fully_consumed",
        col("generation_end_us").isNotNull && lit(NowUs) >= col("generation_end_us"))
      .orderBy(col("generation_id"))
  }

  // lazy: references NowUs, declared below (object init order)
  lazy val generationProgressSql: String = CdcLogAdapter.oracleCte +
    s"""SELECT generation_id,
       |  COUNT(DISTINCT vnode_id) AS n_tasks,
       |  COUNT(*) AS n_changes,
       |  MAX(time_us) AS max_change_us,
       |  MIN(time_us) AS min_change_us,
       |  CASE generation_id WHEN 0 THEN $Gen1StartUs WHEN 1 THEN $Gen2StartUs END AS generation_end_us,
       |  (CASE generation_id WHEN 0 THEN $Gen1StartUs WHEN 1 THEN $Gen2StartUs END IS NOT NULL
       |    AND $NowUs >= CASE generation_id WHEN 0 THEN $Gen1StartUs WHEN 1 THEN $Gen2StartUs END) AS fully_consumed
       |FROM (
       |  SELECT *,
       |    CAST(CASE WHEN time_us < $Gen1StartUs THEN 0
       |      WHEN time_us < $Gen2StartUs THEN 1 ELSE 2 END AS INT) AS generation_id,
       |    CAST(cdc_stream_id % $NumVnodes AS INT) AS vnode_id
       |  FROM cdc)
       |GROUP BY generation_id
       |ORDER BY generation_id""".stripMargin

  /** Generation lifecycle decision from a bring-your-own generations
    * relation, including the tablet-era TTL rule
    * (TableCDCController.generationDone / generationTTLExpired: a
    * CLOSED generation is done when the table TTL has expired past its
    * end — its changes are no longer visible — OR every task's
    * checkpoint passed the end). Output per generation: closed flag,
    * ttl_expired, consumed (watermark ≥ end), done. */
  def generationDoneFromTable(log: DataFrame, generations: DataFrame,
      nowUs: Long, tableTtlSeconds: Option[Long]): DataFrame = {
    val watermark = log.agg(max(col("time_us")).as("watermark_us"))
    val ttlExpired = tableTtlSeconds match {
      case Some(ttl) => col("gen_end_us").isNotNull &&
        lit(nowUs) - ttl * 1000000L > col("gen_end_us")
      case None => lit(false) // no TTL → changes never expire
    }
    generations.crossJoin(broadcast(watermark))
      .withColumn("closed", col("gen_end_us").isNotNull)
      .withColumn("ttl_expired", ttlExpired)
      // coalesce: an EMPTY log has a null watermark, and null && / >=
      // would leak three-valued nulls into the boolean flags — an
      // unconsumed generation must read `false`, not null
      .withColumn("consumed", coalesce(
        col("gen_end_us").isNotNull && col("watermark_us") >= col("gen_end_us"),
        lit(false)))
      .withColumn("done", col("closed") && (col("ttl_expired") || col("consumed")))
      .select(col("generation_id"), col("closed"), col("ttl_expired"),
        col("consumed"), col("done"))
      .orderBy(col("generation_id"))
  }

  /** "now" for TTL arithmetic: end of the synthetic window
    * (2024-01-31T00:00:00Z) — fixed, not wall-clock, so results are
    * reproducible. */
  val NowUs: Long = GenerationStartUs + 30L * 86400 * 1000000
  val TableTtlSeconds: Long = 14L * 86400

  /** #13: TTL trim (Worker.java:60-90 — createTasksWithState computes
    * minimumWindowStart = now − table TTL and trims each task's window
    * there, skipping ranges that can hold no live changes). */
  def ttlTrim(spark: SparkSession, dir: String): DataFrame = {
    val minStart = NowUs - TableTtlSeconds * 1000000L
    cdcLog(spark, dir)
      .groupBy(col("cdc_stream_id"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("time_us") >= minStart, 1)).as("n_after_trim"),
        min(when(col("time_us") >= minStart, col("time_us"))).as("trimmed_window_start_us"))
      .orderBy(col("cdc_stream_id"))
  }

  val ttlTrimSql: String = {
    val minStart = NowUs - TableTtlSeconds * 1000000L
    CdcLogAdapter.oracleCte +
      s"""SELECT cdc_stream_id, COUNT(*) AS n_total,
         |  COUNT(CASE WHEN time_us >= $minStart THEN 1 END) AS n_after_trim,
         |  MIN(CASE WHEN time_us >= $minStart THEN time_us END) AS trimmed_window_start_us
         |FROM cdc GROUP BY 1 ORDER BY cdc_stream_id""".stripMargin
  }

  /** #14b (`cdc_replicate_full`): the COMPLETE replicator semantic —
    * materialize the destination table from the raw change stream,
    * interpreting every operation type together
    * (the scylla-cdc-replicator operations package): INSERT/UPDATE upsert,
    * POST_IMAGE authoritative apply, ROW_DELETE tombstone,
    * PARTITION_DELETE masking the whole partition at its timestamp,
    * and per-stream-paired range tombstones masking a clustering range
    * (RangeDeleteState.java pairing, bound inclusivity respected).
    *
    * Plan shape at 100 TB: one shuffle on the primary key for the LWW
    * window, then two tombstone joins. The tombstone sides are
    * O(deletes) — usually small, but they GROW WITH THE LOG, so the
    * joins carry no forced broadcast hint: AQE broadcasts them while
    * they fit and falls back to a key shuffle on a delete-heavy log. */
  def replicateFull(spark: SparkSession, dir: String): DataFrame =
    replicateFullFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation — bring your
    * own log (real cdc$ table, Kafka topic, adapter output). */
  def replicateFullFromLog(log: DataFrame): DataFrame =
    replicateFullCore(log).orderBy(col("user_id"), col("ck"))

  /** [[replicateFullFromLog]]'s rows in no particular order — what
    * [[graft.Replicate]] writes, sorted per file on (user_id, ck). */
  private[graft] def replicateFullCore(log: DataFrame): DataFrame = {
    val ckLog = log.withColumn("ck", (col("event_id") % 16).cast("int"))
    // last write per (user_id, ck): upserts 1/2 and postimage 9 set the
    // row, delete 3 tombstones it — newest wins
    val lastWrites = livePerKey(
      ckLog.filter(col("cdc_operation").isin(RowUpdate, RowInsert, RowDelete, PostImage)),
      "user_id", "ck")
    // newest partition delete per partition
    val pd = ckLog.filter(col("cdc_operation") === PartitionDelete)
      .groupBy(col("user_id")).agg(max(col("time_us")).as("pd_time_us"))
    // paired range tombstones (per-stream bound pairing, op #9)
    // the tombstone applies to the END bound's partition
    // (RangeDeleteEndOperationHandler executes the DELETE with the end
    // change's partition key; pairing itself is per-stream)
    val rd = rangeDeleteFromLog(log)
      .select(col("cdc_stream_id").as("rd_stream"), col("rd_user_id"),
        col("left_ck"), col("left_inclusive"),
        col("right_ck"), col("right_inclusive"), col("applied_at_us"))
    val inRange =
      (col("ck") > col("left_ck") || (col("left_inclusive") && col("ck") === col("left_ck"))) &&
        (col("ck") < col("right_ck") || (col("right_inclusive") && col("ck") === col("right_ck")))
    // The stream match is a residual, not a join key: hashed on
    // user_id alone, a broadcast build side is a LongHashedRelation
    // sized to the deletes, where a (stream, user) key would build an
    // UnsafeHashedRelation with a fixed 16 MB page. A plain
    // `stream === rd_stream` would be extracted back into the key;
    // try_subtract is exact on any bigint (null on overflow, never 0).
    val sameStream = try_subtract(col("cdc_stream_id"), col("rd_stream")) === 0
    // pd/rd are log-derived (grow with deletes) — no forced broadcast
    // hints; AQE picks broadcast only while the side is actually small.
    lastWrites
      .join(pd, Seq("user_id"), "left")
      .filter(col("pd_time_us").isNull || col("time_us") > col("pd_time_us"))
      .join(rd,
        col("user_id") === col("rd_user_id") && sameStream &&
          inRange && col("time_us") <= col("applied_at_us"),
        "left_anti")
      .select(col("user_id"), col("ck"), col("time_us").as("last_write_us"),
        col("cdc_operation").as("last_op"), col("value"), col("props"))
  }

  val replicateFullSql: String = CdcLogAdapter.oracleCte +
    s""", ck_log AS (SELECT *, CAST(event_id % 16 AS INT) AS ck FROM cdc),
       |last_writes AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ck ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM ck_log WHERE cdc_operation IN (1, 2, 3, 9))
       |  WHERE rn = 1 AND cdc_operation <> 3),
       |pd AS (SELECT user_id, MAX(time_us) AS pd_time_us FROM ck_log WHERE cdc_operation = 4 GROUP BY user_id),
       |bounds AS (
       |  SELECT *, CAST(event_id % 16 AS INT) AS bck FROM cdc WHERE cdc_operation IN (5, 6, 7, 8)),
       |paired AS (
       |  SELECT *,
       |    LAG(cdc_operation, 1) OVER (PARTITION BY cdc_stream_id ORDER BY time_us, event_id) AS prev_op,
       |    LAG(bck, 1) OVER (PARTITION BY cdc_stream_id ORDER BY time_us, event_id) AS left_ck,
       |    LAG(cdc_operation = 5, 1) OVER (PARTITION BY cdc_stream_id ORDER BY time_us, event_id) AS left_inclusive
       |  FROM bounds),
       |rd AS (
       |  SELECT cdc_stream_id AS rd_stream, user_id AS rd_user_id, left_ck, left_inclusive,
       |    bck AS right_ck, (cdc_operation = 7) AS right_inclusive,
       |    time_us AS applied_at_us
       |  FROM paired WHERE cdc_operation IN (7, 8) AND prev_op IN (5, 6)),
       |after_pd AS (
       |  SELECT l.* FROM last_writes l LEFT JOIN pd ON l.user_id = pd.user_id
       |  WHERE pd.pd_time_us IS NULL OR l.time_us > pd.pd_time_us)
       |SELECT user_id, ck, time_us AS last_write_us, cdc_operation AS last_op, value, props
       |FROM after_pd a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM rd
       |  WHERE a.cdc_stream_id = rd.rd_stream
       |    AND a.user_id = rd.rd_user_id
       |    AND (a.ck > rd.left_ck OR (rd.left_inclusive AND a.ck = rd.left_ck))
       |    AND (a.ck < rd.right_ck OR (rd.right_inclusive AND a.ck = rd.right_ck))
       |    AND a.time_us <= rd.applied_at_us)
       |ORDER BY user_id, ck""".stripMargin

  /** #14c (`cdc_replicate_ttl`): TTL-aware materialization — the
    * replicator writes with the change's own TTL (the insert/update
    * handlers execute `USING TTL`), so the destination expires rows at
    * the source's schedule. Materializes the LWW state per (user, ck)
    * and computes liveness at the fixed read time `NowUs`: a row whose
    * winning write carried a TTL is dead once write_time + ttl ≤ now. */
  def replicateTtl(spark: SparkSession, dir: String): DataFrame =
    replicateTtlFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation. */
  def replicateTtlFromLog(log: DataFrame): DataFrame = {
    val ckLog = log.withColumn("ck", (col("event_id") % 16).cast("int"))
    livePerKey(rowWrites(ckLog), "user_id", "ck")
      .withColumn("is_expired",
        col("cdc_ttl").isNotNull && col("time_us") + col("cdc_ttl") * 1000000L <= NowUs)
      .select(col("user_id"), col("ck"), col("time_us").as("last_write_us"),
        col("cdc_ttl").as("ttl_s"), col("is_expired"), col("value"))
      .orderBy(col("user_id"), col("ck"))
  }

  lazy val replicateTtlSql: String = CdcLogAdapter.oracleCte +
    s""", ck_log AS (SELECT *, CAST(event_id % 16 AS INT) AS ck FROM cdc),
       |last_writes AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ck ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM ck_log WHERE cdc_operation IN (1, 2, 3))
       |  WHERE rn = 1 AND cdc_operation <> 3)
       |SELECT user_id, ck, time_us AS last_write_us, cdc_ttl AS ttl_s,
       |  (cdc_ttl IS NOT NULL AND time_us + cdc_ttl * 1000000 <= $NowUs) AS is_expired,
       |  value
       |FROM last_writes
       |ORDER BY user_id, ck""".stripMargin

  /** Task grouping from stream-set metadata
    * (GroupedTasks.java / TableCDCController.createTasks: a task is
    * (generation, vnode, table) owning the generation's streams whose
    * id encodes that vnode; the stream sets come from
    * system_distributed.cdc_streams_descriptions_v2 —
    * Driver3MasterCQL.fetchGenerationStreamIds — here a
    * bring-your-own relation `(generation_id, table_name,
    * stream_id: binary)` with REAL 16-byte wire-format ids).
    * One shuffle on the task key; the vnode decode is a codegen'd
    * binary expression ([[StreamIds.vnodeId]]). */
  def groupedTasksFromStreams(streams: DataFrame): DataFrame =
    streams
      .withColumn("vnode_id", StreamIds.vnodeId(col("stream_id")))
      .groupBy(col("generation_id"), col("table_name"), col("vnode_id"))
      .agg(count(lit(1)).as("n_streams"),
        sort_array(collect_list(hex(col("stream_id")))).as("stream_ids_hex"))
      .orderBy(col("generation_id"), col("table_name"), col("vnode_id"))

  /** Schema-evolution-tolerant union of CDC log snapshots taken across
    * ALTER TABLE boundaries (the reference's consumer keeps running
    * through add/drop/re-add — scylla-cdc-lib AlterAddColIT,
    * AlterDropColIT, AlterReAddColIT):
    *  - a column ADDED later reads null in older rows,
    *  - a column DROPPED later keeps its values in older rows (the log
    *    retains history),
    *  - a column RE-ADDED with a different (cast-compatible) type takes
    *    the NEWEST type, older values cast (widening is safe; an
    *    incompatible re-add must be renamed by the caller first —
    *    ANSI mode will refuse the cast rather than corrupt).
    * Pure projections + unionByName — no shuffle. */
  def unionEvolved(logs: Seq[DataFrame]): DataFrame = {
    require(logs.nonEmpty, "at least one log snapshot required")
    val types = scala.collection.mutable.LinkedHashMap[String, org.apache.spark.sql.types.DataType]()
    logs.foreach(_.schema.fields.foreach(f => types(f.name) = f.dataType)) // newest wins
    logs.map { df =>
      df.select(types.toSeq.map { case (n, t) =>
        if (df.columns.contains(n)) col(n).cast(t).as(n)
        else lit(null).cast(t).as(n)
      }: _*)
    }.reduce(_.unionByName(_))
  }

  /** #14: batch grouping — rows delivered together until end_of_batch
    * (RawChange.isEndOfBatch / getBatchSequenceNumber,
    * ConsumerDispatch). Batch id is the event-id quad. */
  def batchGroup(spark: SparkSession, dir: String): DataFrame =
    cdcLog(spark, dir)
      .withColumn("batch_id", expr("event_id div 4"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("cdc_batch_seq_no")).as("max_seq_no"),
        count(when(col("cdc_end_of_batch"), 1)).as("n_eob"),
        countDistinct(col("cdc_operation")).as("n_distinct_ops"))
      .orderBy(col("batch_id"))

  val batchGroupSql: String = CdcLogAdapter.oracleCte +
    """SELECT event_id // 4 AS batch_id, COUNT(*) AS n_rows,
      |  MAX(cdc_batch_seq_no) AS max_seq_no,
      |  COUNT(CASE WHEN cdc_end_of_batch THEN 1 END) AS n_eob,
      |  COUNT(DISTINCT cdc_operation) AS n_distinct_ops
      |FROM cdc GROUP BY 1 ORDER BY batch_id""".stripMargin

  /** #14e: log compaction — the minimal log that reproduces current
    * state (the Kafka-compacted-topic / Scylla-postimage-stream shape):
    * one surviving change per key — the newest write or a tombstone —
    * plus that key's write-amplification (how many earlier changes the
    * compaction dropped). Feeding a consumer the compacted log yields
    * exactly the [[replicateLww]] state; unlike replicateLww the
    * tombstones are KEPT, because a log (unlike a snapshot) must still
    * tell downstream consumers about deletions.
    *
    * Scale: single shuffle on the key; rank and per-key count share
    * the same window partition. Compaction is the standard antidote to
    * unbounded CDC retention — at 100 TB you run it per time-bucket
    * and keep raw history only inside the confidence/TTL window. */
  def compaction(spark: SparkSession, dir: String): DataFrame =
    compactionFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation. */
  def compactionFromLog(log: DataFrame): DataFrame =
    ChangeOrder.latestPerKeyCounted(rowWrites(log), "user_id")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("time_us").as("last_write_us"), col("cdc_operation").as("last_op"),
        (col("cdc_operation") === RowDelete).as("is_tombstone"),
        col("value"), col("props"),
        (col("n_changes") - 1).as("n_superseded"))
      .orderBy(col("user_id"))

  val compactionSql: String = CdcLogAdapter.oracleCte +
    """SELECT user_id, event_id AS last_event_id, time_us AS last_write_us,
      |  cdc_operation AS last_op, (cdc_operation = 3) AS is_tombstone,
      |  value, props, n_changes - 1 AS n_superseded
      |FROM (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      |  FROM cdc WHERE cdc_operation IN (1, 2, 3))
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Hot-stream multiple: a stream is flagged when it carries more
    * than this multiple of the mean per-stream change count. */
  val HotStreamFactor = 1.5

  /** #14f: per-stream traffic stats — the worker-balance dashboard the
    * reference's task scheduler implicitly depends on (one task per
    * vnode: a hot stream IS a hot worker): change counts, distinct
    * keys, time span, share of total traffic, and a hot flag at
    * [[HotStreamFactor]]× the mean. The skew this surfaces is exactly
    * what AQE skew-join splitting and salting (q_skew_salted_join)
    * exist to absorb downstream.
    *
    * Scale: one shuffle on the stream key with map-side combine; the
    * global mean is a 1-row aggregate joined back (AQE broadcast —
    * never a driver collect). */
  def streamStats(spark: SparkSession, dir: String): DataFrame =
    streamStatsFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation. */
  def streamStatsFromLog(log: DataFrame): DataFrame = {
    val perStream = log.groupBy(col("cdc_stream_id"))
      .agg(count(lit(1)).as("n_changes"),
        countDistinct(col("user_id")).as("n_keys"),
        min(col("time_us")).as("first_us"),
        max(col("time_us")).as("last_us"))
    val totals = perStream.agg(
      sum(col("n_changes")).as("total_changes"),
      count(lit(1)).as("n_streams"))
    // 1-row side → broadcast nested loop, never a real cartesian
    perStream.crossJoin(totals)
      .select(col("cdc_stream_id"), col("n_changes"), col("n_keys"),
        col("first_us"), col("last_us"),
        round(col("n_changes").cast("double") / col("total_changes").cast("double"), 6)
          .as("traffic_share"),
        (col("n_changes").cast("double") * col("n_streams").cast("double") >
          col("total_changes").cast("double") * HotStreamFactor).as("is_hot"))
      .orderBy(col("cdc_stream_id"))
  }

  val streamStatsSql: String = CdcLogAdapter.oracleCte +
    s""", per_stream AS (
       |  SELECT cdc_stream_id, COUNT(*) AS n_changes,
       |    COUNT(DISTINCT user_id) AS n_keys,
       |    MIN(time_us) AS first_us, MAX(time_us) AS last_us
       |  FROM cdc GROUP BY 1),
       |totals AS (
       |  SELECT CAST(SUM(n_changes) AS BIGINT) AS total_changes, COUNT(*) AS n_streams
       |  FROM per_stream)
       |SELECT cdc_stream_id, n_changes, n_keys, first_us, last_us,
       |  round(CAST(n_changes AS DOUBLE) / CAST(total_changes AS DOUBLE), 6) AS traffic_share,
       |  (CAST(n_changes AS DOUBLE) * CAST(n_streams AS DOUBLE)
       |    > CAST(total_changes AS DOUBLE) * $HotStreamFactor) AS is_hot
       |FROM per_stream CROSS JOIN totals
       |ORDER BY cdc_stream_id""".stripMargin

  /** Simulated consumer checkpoint for [[lagReport]]: day 20 of the
    * synthetic log — fixed, not wall-clock, like [[NowUs]]. */
  val LagCheckpointUs: Long = GenerationStartUs + 20L * 86400 * 1000000

  /** #14h (`cdc_lag_report`): per-stream consumer-lag dashboard — the
    * monitoring twin of [[streamStats]] (which ranks stream HOTNESS;
    * this ranks how far BEHIND the consumer is). Given the consumer's
    * checkpoint (delivered ⇔ time ≤ [[LagCheckpointUs]]) and the fixed
    * clock [[NowUs]]: per stream, delivered/pending change counts, the
    * last delivered and oldest pending ChangeId times, the delivery
    * lag (now − last delivered), the oldest pending age, and a
    * caught_up flag. Exactly the per-task progress a production
    * operator pages on — the reference surfaces the same watermark per
    * task via CDCConsumer's state store (TaskState.lastConsumedChangeId).
    *
    * Scale: one stream-keyed shuffle with conditional aggregates
    * (map-side combine); 2^20 streams at 100 TB parallelize naturally,
    * the same layout as every per-stream operator here. */
  def lagReport(spark: SparkSession, dir: String): DataFrame =
    lagReportFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation. */
  def lagReportFromLog(log: DataFrame): DataFrame = {
    val delivered = col("time_us") <= LagCheckpointUs
    log.groupBy(col("cdc_stream_id"))
      .agg(
        sum(when(delivered, 1L).otherwise(0L)).as("n_delivered"),
        sum(when(delivered, 0L).otherwise(1L)).as("n_pending"),
        max(when(delivered, col("time_us"))).as("last_delivered_us"),
        min(when(!delivered, col("time_us"))).as("oldest_pending_us"))
      .withColumn("delivery_lag_us", lit(NowUs) - col("last_delivered_us"))
      .withColumn("oldest_pending_age_us", lit(NowUs) - col("oldest_pending_us"))
      .withColumn("caught_up", col("n_pending") === 0L)
      .orderBy(col("cdc_stream_id"))
  }

  val lagReportSql: String = CdcLogAdapter.oracleCte +
    s"""SELECT cdc_stream_id,
       |  CAST(SUM(CASE WHEN time_us <= $LagCheckpointUs THEN 1 ELSE 0 END) AS BIGINT) AS n_delivered,
       |  CAST(SUM(CASE WHEN time_us <= $LagCheckpointUs THEN 0 ELSE 1 END) AS BIGINT) AS n_pending,
       |  MAX(CASE WHEN time_us <= $LagCheckpointUs THEN time_us END) AS last_delivered_us,
       |  MIN(CASE WHEN time_us > $LagCheckpointUs THEN time_us END) AS oldest_pending_us,
       |  $NowUs - MAX(CASE WHEN time_us <= $LagCheckpointUs THEN time_us END) AS delivery_lag_us,
       |  $NowUs - MIN(CASE WHEN time_us > $LagCheckpointUs THEN time_us END) AS oldest_pending_age_us,
       |  (SUM(CASE WHEN time_us <= $LagCheckpointUs THEN 0 ELSE 1 END) = 0) AS caught_up
       |FROM cdc
       |GROUP BY cdc_stream_id
       |ORDER BY cdc_stream_id""".stripMargin

  /** #14i (`cdc_scd2_history`): SCD-Type-2 history materialization —
    * the CDC→lakehouse DIMENSION-history build (the third
    * materialization next to [[replicateLww]]'s final state and
    * [[compaction]]'s survivor log): every row write opens a version
    * valid [its time, the key's next write), a DELETE closes the
    * previous version and emits nothing, the open version is flagged
    * current. Version numbers count surviving versions per key.
    *
    * Scale: ONE user_id-keyed exchange (high-cardinality key);
    * valid_to comes from lead() over all writes of the key and
    * version_no from a second window over the same partitioning after
    * the delete filter — both partition-local, no second shuffle. */
  def scd2History(spark: SparkSession, dir: String): DataFrame =
    scd2HistoryFromLog(cdcLog(spark, dir))

  /** Same operator over ANY conforming CDC-log relation. */
  def scd2HistoryFromLog(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(oldestFirst: _*)
    rowWrites(log)
      .withColumn("valid_to_us", lead(col("time_us"), 1).over(w))
      .filter(col("cdc_operation") =!= RowDelete)
      .withColumn("version_no", row_number().over(w).cast("int"))
      .select(col("user_id"), col("version_no"),
        col("event_id").as("write_event_id"),
        col("time_us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"),
        col("value"), col("props"))
      .orderBy(col("user_id"), col("version_no"))
  }

  val scd2HistorySql: String = CdcLogAdapter.oracleCte +
    s""", writes AS (
       |  SELECT user_id, event_id, time_us, cdc_operation, value, props,
       |    LEAD(time_us, 1) OVER (PARTITION BY user_id ORDER BY time_us, event_id) AS valid_to_us
       |  FROM cdc WHERE cdc_operation IN ($RowUpdate, $RowInsert, $RowDelete)),
       |vers AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us, event_id) AS INT) AS version_no
       |  FROM writes WHERE cdc_operation <> $RowDelete)
       |SELECT user_id, version_no, event_id AS write_event_id,
       |  time_us AS valid_from_us, valid_to_us,
       |  (valid_to_us IS NULL) AS is_current, value, props
       |FROM vers ORDER BY user_id, version_no""".stripMargin

  /** Snapshot-merge cutoff: day 15 of the synthetic log — mid-log, so
    * both the snapshot and the incremental batch are non-trivial. */
  val SnapshotCutoffUs: Long = GenerationStartUs + 15L * 86400 * 1000000

  /** #14d: incremental snapshot merge — the CDC→lakehouse pattern: a
    * base-table SNAPSHOT materialized up to T0 has a later log slice
    * (T0, now] MERGEd onto it, yielding the state a full replay would
    * produce (the replicator's upsert/delete semantics —
    * InsertOperationHandler / PreparedUpdateOperationHandler /
    * RowDeleteOperationHandler — applied incrementally instead of
    * from the log's beginning). `merge_action` reports what a
    * `MERGE INTO` would have done per key: inserted / updated /
    * carried (deleted keys drop out).
    *
    * Scale: this is THE reason CDC-on-Spark exists at 100 TB — replay
    * cost must be O(new changes + snapshot), never O(log). The batch
    * side reduces to one row per touched key (window over only the
    * slice), then a single full-outer join against the snapshot; AQE
    * broadcasts the reduced batch when it fits (the common case — a
    * day's keys ≪ the table), and a bucketed/partitioned snapshot
    * store makes the snapshot-side exchange vanish entirely. Both
    * window frames here already hash-partition on the key, so the
    * join reuses their exchanges. */
  def snapshotMerge(spark: SparkSession, dir: String): DataFrame =
    snapshotMergeFromLog(cdcLog(spark, dir), SnapshotCutoffUs)

  /** Same operator over ANY conforming CDC-log relation with an
    * arbitrary snapshot cutoff — bring your own log. */
  def snapshotMergeFromLog(log: DataFrame, cutoffUs: Long): DataFrame = {
    val writes = rowWrites(log)
    // the stored snapshot: last-writer-wins state at T0 (deleted keys absent)
    val snapshot = t0State(writes, cutoffUs, "user_id")
      .select(col("user_id"), col("event_id").as("s_event_id"), col("time_us").as("s_time_us"),
        col("cdc_operation").as("s_op"), col("value").as("s_value"), col("props").as("s_props"))
    // the incremental batch: one surviving change per touched key
    val batch = sliceVerdict(writes, cutoffUs, "user_id")
      .select(col("user_id"), col("event_id").as("b_event_id"), col("time_us").as("b_time_us"),
        col("cdc_operation").as("b_op"), col("value").as("b_value"), col("props").as("b_props"))
    val batchWins = col("b_event_id").isNotNull
    snapshot.join(batch, Seq("user_id"), "full_outer")
      .filter(col("b_op").isNull || col("b_op") =!= RowDelete)
      .select(col("user_id"),
        when(!batchWins, "carried")
          .when(col("s_event_id").isNull, "inserted")
          .otherwise("updated").as("merge_action"),
        coalesce(col("b_event_id"), col("s_event_id")).as("last_event_id"),
        coalesce(col("b_time_us"), col("s_time_us")).as("last_write_us"),
        coalesce(col("b_op"), col("s_op")).as("last_op"),
        when(batchWins, col("b_value")).otherwise(col("s_value")).as("value"),
        when(batchWins, col("b_props")).otherwise(col("s_props")).as("props"))
      .orderBy(col("user_id"))
  }

  val snapshotMergeSql: String = CdcLogAdapter.oracleCte +
    s""", writes AS (SELECT * FROM cdc WHERE cdc_operation IN (1, 2, 3)),
       |snap AS (
       |  SELECT user_id, event_id AS s_event_id, time_us AS s_time_us,
       |    cdc_operation AS s_op, value AS s_value, props AS s_props
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM writes WHERE time_us <= $SnapshotCutoffUs)
       |  WHERE rn = 1 AND cdc_operation <> 3),
       |batch AS (
       |  SELECT user_id, event_id AS b_event_id, time_us AS b_time_us,
       |    cdc_operation AS b_op, value AS b_value, props AS b_props
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM writes WHERE time_us > $SnapshotCutoffUs)
       |  WHERE rn = 1)
       |SELECT COALESCE(s.user_id, b.user_id) AS user_id,
       |  CASE WHEN b_event_id IS NULL THEN 'carried'
       |       WHEN s_event_id IS NULL THEN 'inserted'
       |       ELSE 'updated' END AS merge_action,
       |  COALESCE(b_event_id, s_event_id) AS last_event_id,
       |  COALESCE(b_time_us, s_time_us) AS last_write_us,
       |  COALESCE(b_op, s_op) AS last_op,
       |  CASE WHEN b_event_id IS NULL THEN s_value ELSE b_value END AS value,
       |  CASE WHEN b_event_id IS NULL THEN s_props ELSE b_props END AS props
       |FROM snap s FULL OUTER JOIN batch b ON s.user_id = b.user_id
       |WHERE b_op IS NULL OR b_op <> 3
       |ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------ incremental MV maintenance
  //
  // The MV operators below and their streaming twins compose one
  // algebra, [[MvAlgebra]]: every rule they share (cents, keys, T0
  // state, editions, deltas, the recompute rule, the action tag) is
  // written there once.

  /** Value units (in cents of `value`) per materialized-view bucket:
    * the MV's group key is `floor(value / 50.00)`, computed in exact
    * integer cents so bucket assignment can never straddle a
    * floating-point boundary. */
  val MvBucketCents: Long = 5000L

  /** #14k: INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — the natural
    * lift of the replicator posture (the scylla-cdc-replicator
    * operations package's upsert/delete handlers, which reproduce the
    * TABLE) to aggregate grain: maintain `SELECT bucket, COUNT(*),
    * SUM(value) GROUP BY bucket` over the live LWW table by applying
    * only a (T0, now] log slice against the stored T0 state — never
    * replaying the log.
    *
    * The delta algebra: only keys TOUCHED in the slice can change the
    * MV. For each touched key, retract its T0 contribution (from the
    * stored snapshot — the replicator's own output at T0) and insert
    * its end-of-slice contribution (LWW over the slice; a slice whose
    * latest op is a delete inserts nothing). An UPDATE that moves a
    * row across buckets therefore decrements the old bucket and
    * increments the new one — the preimage-shaped case that makes MV
    * maintenance harder than row replication — without the log
    * carrying preimages: the T0 snapshot IS the preimage store.
    * Cost is O(|slice| + |touched ∩ snapshot| + |MV|), never O(log).
    *
    * Action tags are VALUE-defined (created / emptied / updated /
    * carried by comparing stored vs new bucket aggregates), so a
    * touched bucket with a net-zero delta reads `carried` —
    * identical to what a full recompute would conclude. The DuckDB
    * oracle IS that full recompute, so the gate proves
    * incremental ≡ replay, action for action.
    *
    * TTL interaction: matches [[snapshotMergeFromLog]]'s contract —
    * a TTL'd write participates like any write (reference semantics:
    * TTL applies to written cells; expiry is a base-table compaction
    * concern handled by [[ttlTrim]], not a log-consumer concern).
    *
    * Scale shape: two LWW windows partitioned on the table key (ONE
    * exchange grain — snapshot and slice shuffle on user_id, and the
    * retract join is user_id-co-partitioned with them), then
    * bucket-keyed aggregates with map-side combine over row-count-
    * bounded relations; the final full-outer stitch runs at MV grain
    * (≤ |buckets| rows). All arithmetic is exact integer cents —
    * associative, so partial aggregation commutes. */
  def mvMaintain(spark: SparkSession, dir: String): DataFrame =
    mvMaintainFromLog(cdcLog(spark, dir), SnapshotCutoffUs)

  /** Same operator over ANY conforming CDC-log relation with an
    * arbitrary slice start — bring your own log. */
  def mvMaintainFromLog(log: DataFrame, cutoffUs: Long): DataFrame = {
    val writes = rowWrites(log)
    // stored T0 state (the replicator's output at T0): LWW per key,
    // deleted keys absent — value carried as exact integer cents
    val s0 = t0State(writes, cutoffUs, "user_id").select(col("user_id"), Cents.as("cents"))
    // the slice verdict per touched key: its final op + final cents
    val batch = verdictCents(sliceVerdict(writes, cutoffUs, "user_id"))
    // retract T0 contributions of touched keys; insert end-of-slice
    // contributions (none when the slice ends in a tombstone)
    val deltaRows = retract(s0.join(batch.select(col("user_id")), Seq("user_id"), "left_semi"),
        bucketOf("cents").as("bucket"), "cents")
      .unionByName(insert(batch.filter(col("b_op") =!= RowDelete),
        bucketOf("b_cents").as("bucket"), "b_cents"))
    // the stored MV (maintained from the same T0 state)
    sumView(sumCount(s0, bucketOf("cents").as("bucket"), "cents"), deltaRows, "bucket")
  }

  /** #14l: MIN/MAX MV maintenance — the NON-self-maintainable case
    * (Gupta & Mumick's distinction): COUNT/SUM maintain by pure
    * retract+insert deltas ([[mvMaintainFromLog]]), but deleting a
    * bucket's MIN/MAX needs the runner-up, which no delta stream
    * carries. The production answer, made relational: recompute ONLY
    * the touched buckets — survivor rows = (snapshot minus touched
    * keys) ∪ end-of-slice states, restricted to buckets any touched
    * key's old or new contribution lands in — and carry every other
    * bucket's stored row untouched. Cost is
    * O(slice + rows of touched buckets + |MV|), never O(log); with
    * the snapshot stored bucket-partitioned (the natural layout for
    * an MV source), the touched-bucket scan is partition-pruned.
    *
    * Action tags stay value-defined (a touched bucket whose
    * (count, min, max) came out identical reads `carried`), and the
    * oracle is again the full-log recompute — the gate proves the
    * touched-bucket shortcut loses nothing, including the
    * delete-the-max-then-surface-the-runner-up case the spec pins. */
  def mvMinMax(spark: SparkSession, dir: String): DataFrame =
    mvMinMaxFromLog(cdcLog(spark, dir), SnapshotCutoffUs)

  /** Same operator over ANY conforming CDC-log relation — bring your
    * own log. */
  def mvMinMaxFromLog(log: DataFrame, cutoffUs: Long): DataFrame = {
    val writes = rowWrites(log)
    val s0 = bucketedT0(writes, cutoffUs)
    val base = minMax(s0, "cents")("base_n", "base_mn", "base_mx")
    val batch = verdictCents(sliceVerdict(writes, cutoffUs, "user_id"))
    val keys = batch.select(col("user_id"))
    val newRows = landed(batch)
    val touched = touchedBuckets(s0, keys, newRows)
    // recompute the touched buckets from their surviving rows
    val (untouched, recomputed) =
      recomputeTouched(base, touched, s0.join(keys, Seq("user_id"), "left_anti"))(rows =>
        minMax(rows.select(col("bucket"), col("cents"))
          .unionByName(newRows.select(col("bucket"), col("cents"))), "cents")(
          "new_n", "new_mn", "new_mx"))
    minMaxView(touched, base, untouched, recomputed)
  }

  /** Oracle: the full-log recompute, min/max edition. */
  val mvMinMaxSql: String = CdcLogAdapter.oracleCte +
    s""", writes AS (SELECT * FROM cdc WHERE cdc_operation IN (1, 2, 3)),
       |s0 AS (
       |  SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM writes WHERE time_us <= $SnapshotCutoffUs)
       |  WHERE rn = 1 AND cdc_operation <> 3),
       |sf AS (
       |  SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM writes)
       |  WHERE rn = 1 AND cdc_operation <> 3),
       |base AS (
       |  SELECT cents // $MvBucketCents AS bucket, COUNT(*) AS base_n,
       |    MIN(cents) AS base_mn, MAX(cents) AS base_mx
       |  FROM s0 GROUP BY 1),
       |fin AS (
       |  SELECT cents // $MvBucketCents AS bucket, COUNT(*) AS n_rows,
       |    MIN(cents) AS new_mn, MAX(cents) AS new_mx
       |  FROM sf GROUP BY 1)
       |SELECT COALESCE(b.bucket, f.bucket) AS bucket,
       |  CASE WHEN b.bucket IS NULL THEN 'created'
       |       WHEN f.bucket IS NULL THEN 'emptied'
       |       WHEN f.n_rows = b.base_n AND f.new_mn = b.base_mn
       |         AND f.new_mx = b.base_mx THEN 'carried'
       |       ELSE 'updated' END AS mv_action,
       |  COALESCE(f.n_rows, 0) AS n_rows,
       |  CAST(f.new_mn AS DOUBLE) / 100.0 AS min_value,
       |  CAST(f.new_mx AS DOUBLE) / 100.0 AS max_value
       |FROM base b FULL OUTER JOIN fin f ON b.bucket = f.bucket
       |ORDER BY bucket""".stripMargin

  /** Loud cap on the touched-bucket literal list [[mvMinMaxFromStored]]
    * collects: the list is MV-grain metadata (like a centroid set), so
    * a size beyond this means the caller's bucketing is wrong for an
    * MV layout and the partition-pruning strategy itself is the bug —
    * fail loudly rather than ship a 10⁷-element IN list to the scan. */
  val MvMaxTouchedBuckets = 100000

  /** Persist the T0 snapshot the way an MV source is actually laid
    * out: rows `(user_id, cents)` PARTITIONED BY `bucket` under
    * `dir/snapshot`, plus the T0 MV edition `(bucket, base_n,
    * base_mn, base_mx)` under `dir/mv`. [[mvMinMaxFromStored]] then
    * maintains against this layout with the touched-bucket scan
    * partition-pruned — the claim [[mvMinMaxFromLog]]'s scaladoc
    * makes, as a code path. */
  def writeMvSnapshot(log: DataFrame, cutoffUs: Long, dir: String): Unit = {
    val s0 = bucketedT0(rowWrites(log), cutoffUs)
    s0.write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/snapshot")
    minMax(s0, "cents")("base_n", "base_mn", "base_mx").write.mode("overwrite").parquet(s"$dir/mv")
  }

  /** #14l against the STORED layout ([[writeMvSnapshot]]): maintain
    * the MIN/MAX MV from a `(T0, now]` slice with the recompute scan
    * PARTITION-PRUNED — the touched-bucket set (old buckets of
    * touched keys ∪ new contribution buckets) is collected as an
    * MV-grain literal list (bounded, loud-capped at
    * [[MvMaxTouchedBuckets]]) and pushed as a partition filter on the
    * bucket-partitioned snapshot, so untouched buckets' row data is
    * never read. MvMinMaxStoredSpec asserts the `PartitionFilters`
    * on that scan AND result-equality with [[mvMinMaxFromLog]].
    *
    * Scan accounting at scale: (a) the old-bucket lookup semi-join
    * reads only the `(user_id, bucket)` columns — column-pruned,
    * a small fraction of snapshot bytes (a production deployment
    * with a key-partitioned second index can prune it further);
    * (b) the recompute scan reads full rows but ONLY the touched
    * partitions (this is the scan that carries the bytes, and the
    * one the partition filter prunes); (c) the base MV is read from
    * its stored bucket-grain edition — never recomputed. */
  def mvMinMaxFromStored(spark: SparkSession, dir: String, slice: DataFrame): DataFrame = {
    val snapshot = spark.read.parquet(s"$dir/snapshot")
    val base = spark.read.parquet(s"$dir/mv")
    val batch = verdictCents(latestPerKey(rowWrites(slice), "user_id"))
      .localCheckpoint() // feeds the bucket probe, the key anti-join and the new rows
    val keys = batch.select(col("user_id"))
    val newRows = landed(batch)
    // touched buckets → driver literal (MV-grain metadata; loud cap).
    // The partition column comes back via partition-directory type
    // inference (int for small buckets) — normalize to long AFTER the
    // scan so the literal filter below still binds to the raw
    // partition column and prunes statically.
    val touched = cappedLiterals(
      touchedBuckets(snapshot.withColumn("bucket", col("bucket").cast("long")), keys, newRows),
      "touched-bucket set", "bucket granularity is not MV-grain").toIndexedSeq
    // the recompute scan: STATICALLY partition-pruned to touched buckets
    val keptRows = snapshot
      .filter(col("bucket").isin(touched: _*))
      .join(keys, Seq("user_id"), "left_anti")
      .select(col("bucket").cast("long").as("bucket"), col("cents"))
    val recomputed = minMax(keptRows.unionByName(newRows.select(col("bucket"), col("cents"))),
      "cents")("new_n", "new_mn", "new_mx")
    val touchedDf = spark.createDataset(touched)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("bucket")
    minMaxView(touchedDf, base, base.filter(!col("bucket").isin(touched: _*)), recomputed)
  }

  /** Oracle: the FULL-LOG recompute the incremental path must equal —
    * base MV from the ≤ T0 state, final MV from the whole log's LWW
    * state, actions by value comparison. */
  val mvMaintainSql: String = CdcLogAdapter.oracleCte +
    s""", writes AS (SELECT * FROM cdc WHERE cdc_operation IN (1, 2, 3)),
       |s0 AS (
       |  SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM writes WHERE time_us <= $SnapshotCutoffUs)
       |  WHERE rn = 1 AND cdc_operation <> 3),
       |sf AS (
       |  SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM writes)
       |  WHERE rn = 1 AND cdc_operation <> 3),
       |base AS (
       |  SELECT cents // $MvBucketCents AS bucket, COUNT(*) AS base_n,
       |    CAST(SUM(cents) AS BIGINT) AS base_cents
       |  FROM s0 GROUP BY 1),
       |fin AS (
       |  SELECT cents // $MvBucketCents AS bucket, COUNT(*) AS n_rows,
       |    CAST(SUM(cents) AS BIGINT) AS new_cents
       |  FROM sf GROUP BY 1)
       |SELECT COALESCE(b.bucket, f.bucket) AS bucket,
       |  CASE WHEN b.bucket IS NULL THEN 'created'
       |       WHEN f.bucket IS NULL THEN 'emptied'
       |       WHEN f.n_rows = b.base_n AND f.new_cents = b.base_cents THEN 'carried'
       |       ELSE 'updated' END AS mv_action,
       |  COALESCE(f.n_rows, 0) AS n_rows,
       |  CAST(COALESCE(f.new_cents, 0) AS DOUBLE) / 100.0 AS sum_value
       |FROM base b FULL OUTER JOIN fin f ON b.bucket = f.bucket
       |ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------ join-MV maintenance

  /** Group width (in cents of the DIMENSION value) for the join MV's
    * tier key — like [[MvBucketCents]], exact integer cents so group
    * assignment can never straddle a floating-point boundary. */
  val MvTierCents: Long = 2000L

  /** #14p: JOIN-VIEW MAINTENANCE — the MV family's genuinely
    * multi-relation case: maintain `SELECT t, COUNT(*), SUM(cents)
    * FROM fact JOIN dim USING (segment_id) GROUP BY t` (with
    * `t = floor(dim.tier_cents / tier width)`) from T0 state + two
    * (T0, now] log slices, one per relation, by the classic join
    * delta rules: retract the T0 contributions of every fact row the
    * slices can affect, insert their end-of-slice contributions
    * against the UPDATED dimension.
    *
    * What makes the join case harder than [[mvMaintainFromLog]] is
    * the fanout: a single DIMENSION write moves the contribution of
    * its entire fact COHORT (every fact row in that segment) between
    * MV groups, without any of those fact rows appearing in either
    * slice. The affected-row set is therefore
    * `touched-fact-keys ∪ (fact rows of touched segments)` — the
    * second term is the irreducible join-MV cost (Gupta & Mumick's
    * delta rules do not avoid it; they bound it), and with the fact
    * snapshot stored segment-partitioned it is a partition-pruned
    * scan exactly like [[mvMinMaxFromStored]]'s touched buckets.
    * Deleting a dimension row drops its whole cohort from the view
    * (inner-join semantics) — the case the spec pins.
    *
    * Scale shape: each log LWW-collapses with ONE exchange on its own
    * key; the cohort lookup and both contribution joins are
    * segment-keyed (dimension-grain, shared exchange); deltas
    * collapse to tier grain with map-side combine; the stitch runs at
    * MV grain. Action tags are value-defined, and the DuckDB oracle
    * is the full two-relation recompute — the gate proves
    * incremental ≡ replay, action for action. */
  def mvJoinMaintain(spark: SparkSession, dir: String): DataFrame = {
    val log = cdcLog(spark, dir)
    // the shared feed split into a fact log (user grain) and a sparse
    // dimension log (segment grain, ~1/17 of writes): deterministic,
    // reproduced literally by the oracle
    val rLog = log.filter(col("event_id") % 17 =!= 0)
      .select(col("user_id"), (col("user_id") % 100).as("segment_id"),
        col("event_id"), col("time_us"), col("cdc_operation"), Cents.as("cents"))
    val sLog = log.filter(col("event_id") % 17 === 0)
      .select((col("user_id") % 100).as("segment_id"),
        col("event_id"), col("time_us"), col("cdc_operation"), Cents.as("tier_cents"))
    mvJoinMaintainFromLogs(rLog, sLog, SnapshotCutoffUs)
  }

  /** Same operator over ANY conforming pair of logs — bring your own.
    * `rLog`: (user_id, segment_id, event_id, time_us, cdc_operation,
    * cents); `sLog`: (segment_id, event_id, time_us, cdc_operation,
    * tier_cents). LWW per key by (time_us, event_id) within each,
    * over row writes only: an image row is not a write. */
  def mvJoinMaintainFromLogs(rLog: DataFrame, sLog: DataFrame, cutoffUs: Long): DataFrame = {
    val (rW, sW) = (rowWrites(rLog), rowWrites(sLog))
    // T0 fact state + the fact slice's per-key verdict
    val r0 = t0State(rW, cutoffUs, "user_id")
      .select(col("user_id"), col("segment_id"), col("cents"))
    val dR = sliceVerdict(rW, cutoffUs, "user_id")
      .select(col("user_id"), col("segment_id"), col("cdc_operation").as("r_op"), col("cents"))
    // T0 dimension state + the dimension slice's per-key verdict
    val s0 = t0State(sW, cutoffUs, "segment_id").select(col("segment_id"), col("tier_cents"))
    val dS = sliceVerdict(sW, cutoffUs, "segment_id")
      .select(col("segment_id"), col("cdc_operation").as("s_op"), col("tier_cents"))
    val touchedUsers = dR.select(col("user_id"))
    // the COHORT: untouched fact rows whose segment's dimension row
    // changed — the join-MV-only fanout term
    val cohort = r0.join(touchedUsers, Seq("user_id"), "left_anti")
      .join(dS.select(col("segment_id")), Seq("segment_id"), "left_semi")
    // retract T0 contributions (against the T0 dimension) of every
    // affected fact row; insert end-of-slice contributions (against
    // the updated dimension) — a slice ending in a tombstone, or a
    // segment whose dimension row was deleted, inserts nothing
    val deltaRows = joinRetract(
        r0.join(touchedUsers, Seq("user_id"), "left_semi").unionByName(cohort), s0)
      .unionByName(joinInsert(dR.filter(col("r_op") =!= RowDelete)
        .select(col("user_id"), col("segment_id"), col("cents"))
        .unionByName(cohort), updatedDim(s0, dS)))
    // the stored MV (the T0 join's aggregate — read, not recomputed,
    // in a stored deployment)
    sumView(sumCount(r0.join(s0, Seq("segment_id")), tierOf("tier_cents").as("t"), "cents"),
      deltaRows, "t")
  }

  /** Oracle: the full TWO-RELATION recompute the incremental path must
    * equal — base MV from the two ≤ T0 LWW states joined, final MV
    * from the two whole-log LWW states joined, actions by value
    * comparison. */
  val mvJoinMaintainSql: String = CdcLogAdapter.oracleCte +
    s""", writes AS (SELECT * FROM cdc WHERE cdc_operation IN (1, 2, 3)),
       |rl AS (
       |  SELECT user_id, user_id % 100 AS segment_id, event_id, time_us, cdc_operation,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM writes WHERE event_id % 17 <> 0),
       |sl AS (
       |  SELECT user_id % 100 AS segment_id, event_id, time_us, cdc_operation,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS tier_cents
       |  FROM writes WHERE event_id % 17 = 0),
       |r0 AS (
       |  SELECT user_id, segment_id, cents FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM rl WHERE time_us <= $SnapshotCutoffUs)
       |  WHERE rn = 1 AND cdc_operation <> 3),
       |r1 AS (
       |  SELECT user_id, segment_id, cents FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM rl)
       |  WHERE rn = 1 AND cdc_operation <> 3),
       |s0 AS (
       |  SELECT segment_id, tier_cents FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY segment_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM sl WHERE time_us <= $SnapshotCutoffUs)
       |  WHERE rn = 1 AND cdc_operation <> 3),
       |s1 AS (
       |  SELECT segment_id, tier_cents FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY segment_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM sl)
       |  WHERE rn = 1 AND cdc_operation <> 3),
       |base AS (
       |  SELECT tier_cents // $MvTierCents AS t, COUNT(*) AS base_n,
       |    CAST(SUM(cents) AS BIGINT) AS base_cents
       |  FROM r0 JOIN s0 USING (segment_id) GROUP BY 1),
       |fin AS (
       |  SELECT tier_cents // $MvTierCents AS t, COUNT(*) AS n_rows,
       |    CAST(SUM(cents) AS BIGINT) AS new_cents
       |  FROM r1 JOIN s1 USING (segment_id) GROUP BY 1)
       |SELECT COALESCE(b.t, f.t) AS t,
       |  CASE WHEN b.t IS NULL THEN 'created'
       |       WHEN f.t IS NULL THEN 'emptied'
       |       WHEN f.n_rows = b.base_n AND f.new_cents = b.base_cents THEN 'carried'
       |       ELSE 'updated' END AS mv_action,
       |  COALESCE(f.n_rows, 0) AS n_rows,
       |  CAST(COALESCE(f.new_cents, 0) AS DOUBLE) / 100.0 AS sum_value
       |FROM base b FULL OUTER JOIN fin f ON b.t = f.t
       |ORDER BY t""".stripMargin

  /** Persist the join MV's T0 state the way its source is actually
    * laid out: fact rows `(user_id, cents)` PARTITIONED BY
    * `segment_id` (the cohort scan's pruning lever), the dimension
    * `(segment_id, tier_cents)` (dimension-grain, small), and the T0
    * MV edition `(t, base_n, base_cents)`. [[mvJoinFromStored]]
    * maintains against this layout with the COHORT scan
    * partition-pruned — the claim [[mvJoinMaintainFromLogs]]'s
    * scaladoc makes, as a code path. */
  def writeMvJoinSnapshot(rLog: DataFrame, sLog: DataFrame, cutoffUs: Long,
      dir: String): Unit = {
    val r0 = t0State(rowWrites(rLog), cutoffUs, "user_id")
      .select(col("user_id"), col("cents"), col("segment_id"))
    val s0 = t0State(rowWrites(sLog), cutoffUs, "segment_id")
      .select(col("segment_id"), col("tier_cents"))
    r0.write.mode("overwrite").partitionBy("segment_id").parquet(s"$dir/fact")
    s0.write.mode("overwrite").parquet(s"$dir/dim")
    sumCount(r0.join(s0, Seq("segment_id")), tierOf("tier_cents").as("t"), "cents")
      .write.mode("overwrite").parquet(s"$dir/mv")
  }

  /** #14p against the STORED layout ([[writeMvJoinSnapshot]]): the
    * join delta rules with the COHORT scan — the fanout term that
    * carries the bytes — STATICALLY partition-pruned to the touched
    * segments (a dimension-grain literal list, loud-capped at
    * [[MvMaxTouchedBuckets]]). Scan accounting: (a) the touched-USER
    * lookup is a key semi-join over the fact relation (cannot prune
    * by segment — a touched user's old segment is unknown until
    * read); (b) the cohort scan reads ONLY the touched segments'
    * partitions; (c) the base MV and the dimension are read from
    * their stored editions, never recomputed. MvJoinStoredSpec
    * asserts `PartitionFilters` on the cohort scan and
    * action-for-action equality with [[mvJoinMaintainFromLogs]]. */
  def mvJoinFromStored(spark: SparkSession, dir: String,
      rSlice: DataFrame, sSlice: DataFrame): DataFrame = {
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim")
    val base = spark.read.parquet(s"$dir/mv")
    val dR = latestPerKey(rowWrites(rSlice), "user_id")
      .select(col("user_id"), col("segment_id"), col("cdc_operation").as("r_op"),
        col("cents"))
      .localCheckpoint() // feeds the key lookup, the cohort anti-join and the inserts
    val dS = latestPerKey(rowWrites(sSlice), "segment_id")
      .select(col("segment_id"), col("cdc_operation").as("s_op"), col("tier_cents"))
      .localCheckpoint() // feeds the segment literal and the dimension update
    // touched segments → driver literal (dimension-grain metadata;
    // loud cap) pushed as a STATIC partition filter on the fact scan
    // cast-before-collect so a bring-your-own slice with an INT-typed
    // segment_id can't ClassCastException (mvMinMaxFromStored discipline)
    val touchedSegs = cappedLiterals(dS.select(col("segment_id").cast("long")).distinct(),
      "touched-segment set", "the dimension key is not dimension-grain")
    val cohort = fact.filter(col("segment_id").isin(touchedSegs.toIndexedSeq: _*))
      .join(dR.select(col("user_id")), Seq("user_id"), "left_anti")
      .select(col("user_id"), col("segment_id").cast("long").as("segment_id"), col("cents"))
    val oldTouched = fact.join(dR.select(col("user_id")), Seq("user_id"), "left_semi")
      .select(col("user_id"), col("segment_id").cast("long").as("segment_id"), col("cents"))
    val deltaRows = joinRetract(oldTouched.unionByName(cohort), dim)
      .unionByName(joinInsert(dR.filter(col("r_op") =!= RowDelete)
        .select(col("user_id"), col("segment_id"), col("cents"))
        .unionByName(cohort), updatedDim(dim, dS)))
    sumView(base, deltaRows, "t")
  }

  // ------------------------------------------------------------ top-k MV maintenance

  /** Rank depth of the top-k MV. */
  val MvTopK = 3

  /** #14q: TOP-K MV MAINTENANCE — the bounded-rank generalization of
    * [[mvMinMaxFromLog]] (MIN/MAX is top-1 from both ends): maintain
    * `the K largest values per bucket` over the live LWW table from
    * the T0 state + a (T0, now] slice. Like MIN/MAX it is not
    * self-maintainable: an insert merges into a K-buffer, but a
    * delete of a ranked value needs the (K+1)-th — which no delta
    * stream carries. Same production answer, relational: recompute
    * ONLY the touched buckets (old buckets of touched keys ∪ new
    * contribution buckets) from their survivor rows, carry every
    * other bucket's stored rank rows verbatim. Cost is
    * O(slice + rows of touched buckets + K·|MV|), never O(log), and
    * the recompute scan partition-prunes under a bucket-partitioned
    * stored layout exactly as [[mvMinMaxFromStored]] proves.
    *
    * Output grain is (bucket, rk) — one row per NEW rank entry, the
    * bucket-grain action repeated on each (an emptied bucket emits a
    * single rk=0 tombstone row). Actions are value-defined by
    * comparing the stored and recomputed rank lists position-wise —
    * ties in value cannot flip the comparison because tied values are
    * equal wherever the (cents DESC, user_id DESC) tiebreak places
    * them. Oracle = the full-log recompute, rank list for rank list. */
  def mvTopk(spark: SparkSession, dir: String): DataFrame =
    mvTopkFromLog(cdcLog(spark, dir), SnapshotCutoffUs)

  /** Same operator over ANY conforming CDC-log relation — bring your
    * own log. */
  def mvTopkFromLog(log: DataFrame, cutoffUs: Long): DataFrame = {
    val writes = rowWrites(log)
    val s0 = bucketedT0(writes, cutoffUs)
    // the stored MV edition: T0 top-k rank rows per bucket
    val baseTk = topK(s0, "cents").select(col("bucket"), col("rk"), col("cents"))
    val batch = verdictCents(sliceVerdict(writes, cutoffUs, "user_id"))
    val keys = batch.select(col("user_id"))
    val newRows = landed(batch)
    val touched = touchedBuckets(s0, keys, newRows)
    // recompute the touched buckets' rank lists from survivor rows
    val (untouchedTk, newTk) =
      recomputeTouched(baseTk, touched, s0.join(keys, Seq("user_id"), "left_anti"))(rows =>
        topK(rows.select(col("user_id"), col("cents"), col("bucket")).unionByName(newRows),
          "cents").select(col("bucket"), col("rk"), col("cents")))
    // bucket-grain action: position-wise rank-list comparison
    val act = baseTk.join(touched, Seq("bucket"), "left_semi")
      .withColumnRenamed("cents", "b_cents")
      .join(newTk.withColumnRenamed("cents", "n_cents"),
        Seq("bucket", "rk"), "full_outer")
      .groupBy(col("bucket"))
      .agg(count(col("b_cents")).as("n_old"), count(col("n_cents")).as("n_new"),
        sum(when(!(col("b_cents") <=> col("n_cents")), 1L).otherwise(0L)).as("n_diff"))
      .select(col("bucket"),
        action(col("n_old") === 0, col("n_new"), col("n_diff") === 0).as("mv_action"))
    val touchedOut = newTk.join(act, Seq("bucket"))
      .select(col("bucket"), col("rk").cast("long").as("rk"), col("mv_action"),
        asValue("cents").as("value"))
    val emptiedOut = act.filter(col("mv_action") === "emptied")
      .select(col("bucket"), lit(0L).as("rk"), col("mv_action"),
        lit(null).cast("double").as("value"))
    val untouchedOut = untouchedTk
      .select(col("bucket"), col("rk").cast("long").as("rk"),
        lit("carried").as("mv_action"), asValue("cents").as("value"))
    touchedOut.unionByName(emptiedOut).unionByName(untouchedOut)
      .orderBy(col("bucket"), col("rk"))
  }

  /** Oracle: the full-log recompute, rank-list edition. */
  val mvTopkSql: String = CdcLogAdapter.oracleCte +
    s""", writes AS (SELECT * FROM cdc WHERE cdc_operation IN (1, 2, 3)),
       |s0 AS (
       |  SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM writes WHERE time_us <= $SnapshotCutoffUs)
       |  WHERE rn = 1 AND cdc_operation <> 3),
       |sf AS (
       |  SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_us DESC, event_id DESC) AS rn
       |    FROM writes)
       |  WHERE rn = 1 AND cdc_operation <> 3),
       |btk AS (
       |  SELECT bucket, rk, cents FROM (
       |    SELECT cents // $MvBucketCents AS bucket, cents,
       |      ROW_NUMBER() OVER (PARTITION BY cents // $MvBucketCents
       |        ORDER BY cents DESC, user_id DESC) AS rk
       |    FROM s0)
       |  WHERE rk <= $MvTopK),
       |ftk AS (
       |  SELECT bucket, rk, cents FROM (
       |    SELECT cents // $MvBucketCents AS bucket, cents,
       |      ROW_NUMBER() OVER (PARTITION BY cents // $MvBucketCents
       |        ORDER BY cents DESC, user_id DESC) AS rk
       |    FROM sf)
       |  WHERE rk <= $MvTopK),
       |act AS (
       |  SELECT COALESCE(b.bucket, f.bucket) AS bucket,
       |    CASE WHEN COUNT(b.cents) = 0 THEN 'created'
       |         WHEN COUNT(f.cents) = 0 THEN 'emptied'
       |         WHEN COUNT(*) FILTER (WHERE b.cents IS DISTINCT FROM f.cents) = 0
       |           THEN 'carried'
       |         ELSE 'updated' END AS mv_action
       |  FROM btk b FULL OUTER JOIN ftk f ON b.bucket = f.bucket AND b.rk = f.rk
       |  GROUP BY 1)
       |SELECT f.bucket, f.rk, a.mv_action, CAST(f.cents AS DOUBLE) / 100.0 AS value
       |FROM ftk f JOIN act a ON f.bucket = a.bucket
       |UNION ALL
       |SELECT bucket, CAST(0 AS BIGINT) AS rk, mv_action, CAST(NULL AS DOUBLE) AS value
       |FROM act WHERE mv_action = 'emptied'
       |ORDER BY bucket, rk""".stripMargin

  // ------------------------------------------------------------ dead-letter queue

  /** Dead-letter classification — the consumer-side triage a
    * production CDC pipeline runs BEFORE applying changes: rather
    * than crash (or silently mis-apply) on a protocol-violating
    * change, tag it with the first failing rule and route it to a
    * side sink. Rules over this log:
    *
    *  - `ttl_on_delete`: a TTL on a tombstone operation — Scylla TTLs
    *    apply to written cells, a TTL'd delete is contradictory
    *    (reference applies TTL only on insert/update preparation,
    *    scylla-cdc-replicator operations ignore TTL on deletes).
    *  - `unpaired_left_bound` / `unpaired_right_bound`: range
    *    tombstones arrive as bound PAIRS (left then right — the
    *    consume-once lag pairing [[rangeDelete]] relies on, reference
    *    RangeTombstoneState); a left bound whose next range-op in the
    *    stream is another left, or a right bound not preceded by a
    *    left, cannot be paired.
    *
    * The pairing context comes from ignore-nulls running `last`
    * windows over the (stream, time, event) order — forward for the
    * preceding bound, reversed for the following bound — restricted
    * to range ops: ONE stream-keyed exchange, no self-join; the final
    * per-reason rollup is a tiny-key aggregate. At 100 TB this is the
    * same one-shuffle shape as [[streamOrdering]]. */
  def dlq(spark: SparkSession, dir: String): DataFrame = {
    val isRange = col("cdc_operation").isin(
      RangeDeleteInclLeft, RangeDeleteExclLeft,
      RangeDeleteInclRight, RangeDeleteExclRight)
    val isLeft = col("cdc_operation").isin(RangeDeleteInclLeft, RangeDeleteExclLeft)
    val isRight = col("cdc_operation").isin(RangeDeleteInclRight, RangeDeleteExclRight)
    val w = Window.partitionBy(col("cdc_stream_id")).orderBy(oldestFirst: _*)
    // The "nearest FOLLOWING range op" is evaluated as a running last()
    // over the REVERSED sort, not first() over (1, unboundedFollowing):
    // Spark executes UnboundedFollowing frames by re-scanning the frame
    // for every row (O(rows²) per stream partition — 3.9 s vs 0.4 s for
    // the same data at sf0.1), while UnboundedPreceding frames are a
    // single running accumulation. Same one exchange; one extra sort.
    val wRev = Window.partitionBy(col("cdc_stream_id")).orderBy(newestFirst: _*)
    val rangeOp = when(isRange, col("cdc_operation"))
    val reason = when(col("cdc_ttl").isNotNull &&
        col("cdc_operation").isin(RowDelete, PartitionDelete,
          RangeDeleteInclLeft, RangeDeleteExclLeft,
          RangeDeleteInclRight, RangeDeleteExclRight), "ttl_on_delete")
      .when(isLeft && !coalesce(col("next_range_op").isin(
        RangeDeleteInclRight, RangeDeleteExclRight), lit(false)), "unpaired_left_bound")
      .when(isRight && !coalesce(col("prev_range_op").isin(
        RangeDeleteInclLeft, RangeDeleteExclLeft), lit(false)), "unpaired_right_bound")
      .otherwise("ok")
    cdcLog(spark, dir)
      .withColumn("prev_range_op",
        last(rangeOp, ignoreNulls = true).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_range_op",
        last(rangeOp, ignoreNulls = true).over(wRev.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("reason", reason)
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n_changes"),
        countDistinct(col("cdc_stream_id")).as("n_streams"),
        min(col("time_us")).as("first_time_us"),
        max(col("time_us")).as("last_time_us"))
      .orderBy(col("reason"))
  }

  val dlqSql: String = CdcLogAdapter.oracleCte +
    s"""SELECT reason, COUNT(*) AS n_changes,
       |  COUNT(DISTINCT cdc_stream_id) AS n_streams,
       |  MIN(time_us) AS first_time_us, MAX(time_us) AS last_time_us
       |FROM (
       |  SELECT cdc_stream_id, time_us,
       |    CASE
       |      WHEN cdc_ttl IS NOT NULL AND cdc_operation IN (3,4,5,6,7,8) THEN 'ttl_on_delete'
       |      WHEN cdc_operation IN (5,6) AND NOT COALESCE(
       |        first_value(CASE WHEN cdc_operation IN (5,6,7,8) THEN cdc_operation END IGNORE NULLS)
       |          OVER (PARTITION BY cdc_stream_id ORDER BY time_us, event_id
       |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) IN (7,8), false)
       |        THEN 'unpaired_left_bound'
       |      WHEN cdc_operation IN (7,8) AND NOT COALESCE(
       |        last_value(CASE WHEN cdc_operation IN (5,6,7,8) THEN cdc_operation END IGNORE NULLS)
       |          OVER (PARTITION BY cdc_stream_id ORDER BY time_us, event_id
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IN (5,6), false)
       |        THEN 'unpaired_right_bound'
       |      ELSE 'ok' END AS reason
       |  FROM cdc)
       |GROUP BY reason ORDER BY reason""".stripMargin
}
