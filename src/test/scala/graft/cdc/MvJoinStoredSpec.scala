package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The cdc_mv_join partition-pruning claim as a CODE PATH (the
  * MvMinMaxStoredSpec pattern): write the T0 state with the fact
  * relation partitionBy(segment_id), maintain from the STORED layout,
  * and assert (a) result ≡ the oracle-gated from-log operator, action
  * for action — the cohort move and dimension delete included — and
  * (b) the COHORT scan carries a `PartitionFilters` segment predicate
  * (so untouched segments' fact rows are never read by the fanout
  * term). */
class MvJoinStoredSpec extends SparkSpec {

  private val T0 = 1000L

  private def rLog: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, 1L, 1L, 100L, 2, 100L),  // seg 1 @ T0
      (2L, 1L, 2L, 200L, 2, 200L),  // seg 1 @ T0
      (3L, 2L, 3L, 300L, 2, 300L),  // seg 2 @ T0
      (5L, 3L, 4L, 400L, 2, 500L),  // seg 3 @ T0 — the carried group
      (4L, 1L, 10L, 1100L, 2, 400L) // slice: new fact row in seg 1
    ).toDF("user_id", "segment_id", "event_id", "time_us", "cdc_operation", "cents")
  }

  private def sLog: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, 5L, 100L, 2, 1000L),   // seg 1 tier → group 0
      (2L, 6L, 200L, 2, 5000L),   // seg 2 tier → group 2
      (3L, 7L, 300L, 2, 2000L),   // seg 3 tier → group 1
      (1L, 11L, 1200L, 1, 9000L), // slice: seg 1 → group 4 (cohort moves)
      (2L, 12L, 1300L, 3, 0L)     // slice: seg 2 deleted (cohort dropped)
    ).toDF("segment_id", "event_id", "time_us", "cdc_operation", "tier_cents")
  }

  private def collected(df: DataFrame): Seq[(Long, String, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq

  test("stored-layout maintenance ≡ from-log operator, with PartitionFilters on the cohort scan") {
    val dir = java.nio.file.Files.createTempDirectory("mvj_stored_").toString
    CdcOps.writeMvJoinSnapshot(rLog, sLog, T0, dir)
    val stored = CdcOps.mvJoinFromStored(spark, dir,
      rLog.filter(col("time_us") > T0), sLog.filter(col("time_us") > T0))
    val got = collected(stored)
    assert(got == collected(CdcOps.mvJoinMaintainFromLogs(rLog, sLog, T0)),
      s"stored ≠ fromLog:\n$got")
    // the join-MV endgame: cohort moved, deleted-dimension cohort gone
    assert(got == Seq(
      (0L, "emptied", 0L, 0.00),
      (1L, "carried", 1L, 5.00),
      (2L, "emptied", 0L, 0.00),
      (4L, "created", 3L, 7.00)))
    // the pruning proof: the fact relation appears in the plan both as
    // the key lookup (scan a — no partition filter possible) and the
    // cohort scan (scan b — MUST bind touched segments as a partition
    // filter on the partition column)
    val plan = stored.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val prunedFactScan = plan.split("\\n\\n").exists(block =>
      block.contains("/fact") &&
        "PartitionFilters: \\[[^\\]]*segment_id[^\\]]*IN".r.findFirstIn(block).isDefined)
    assert(prunedFactScan, s"no partition-pruned cohort scan:\n$plan")
  }

  test("no-op slices carry every group from the stored MV") {
    val dir = java.nio.file.Files.createTempDirectory("mvj_stored2_").toString
    CdcOps.writeMvJoinSnapshot(rLog, sLog, T0, dir)
    val none = col("time_us") > lit(Long.MaxValue)
    val got = collected(CdcOps.mvJoinFromStored(spark, dir,
      rLog.filter(none), sLog.filter(none)))
    assert(got.map(_._2).forall(_ == "carried"), got)
    assert(got == collected(CdcOps.mvJoinMaintainFromLogs(
      rLog.filter(col("time_us") <= T0), sLog.filter(col("time_us") <= T0), T0)))
  }

  test("the stored operator keeps its pinned physical plan shape") {
    val dir = java.nio.file.Files.createTempDirectory("mvj_stored3_").toString
    CdcOps.writeMvJoinSnapshot(rLog, sLog, T0, dir)
    val stored = CdcOps.mvJoinFromStored(spark, dir,
      rLog.filter(col("time_us") > T0), sLog.filter(col("time_us") > T0))
    val got = graft.PlanShape.of(stored)
    assert(got == ((9, 0, 3)), "(exchanges, windows, sorts)")
  }

  test("a dimension slice touching more segments than the cap fails with the cap message") {
    val dir = java.nio.file.Files.createTempDirectory("mvj_stored4_").toString
    CdcOps.writeMvJoinSnapshot(rLog, sLog, T0, dir)
    // one dimension write per segment, MvMaxTouchedBuckets + 1 segments
    val sSlice = spark.range(CdcOps.MvMaxTouchedBuckets + 1L).select(
      col("id").as("segment_id"), (col("id") + 100).as("event_id"),
      lit(2000L).as("time_us"), lit(CdcSchema.RowUpdate).as("cdc_operation"),
      lit(1000L).as("tier_cents"))
    val e = intercept[IllegalArgumentException](CdcOps.mvJoinFromStored(spark, dir,
      rLog.filter(col("time_us") > T0), sSlice))
    assert(e.getMessage.contains(
      s"touched-segment set exceeds ${CdcOps.MvMaxTouchedBuckets}"), e.getMessage)
  }
}
