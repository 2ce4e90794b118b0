package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r11 verdict directive #4: the mv_minmax partition-pruning claim as
  * a CODE PATH — write the T0 snapshot partitionBy(bucket), maintain
  * from the STORED layout, and assert (a) result ≡ the oracle-gated
  * from-log operator, action for action, and (b) the recompute scan
  * carries a `PartitionFilters` bucket predicate (so untouched
  * buckets' row data is never read). */
class MvMinMaxStoredSpec extends SparkSpec {

  import CdcSchema._

  private val cutoffUs = 100L
  // buckets are floor(cents / 5000) = floor(value / 50.00)
  private val rows = Seq(
    FdChange(1L, 1L, 10L, RowInsert, 10.00, "{}"),    // b0 — never touched
    FdChange(2L, 2L, 20L, RowInsert, 60.00, "{}"),    // b1
    FdChange(3L, 3L, 30L, RowInsert, 70.00, "{}"),    // b1 max
    FdChange(4L, 4L, 40L, RowInsert, 120.00, "{}"),   // b2 — never touched
    FdChange(5L, 5L, 50L, RowInsert, 170.00, "{}"),   // b3
    // slice: delete b1's max (runner-up surfaces), create b4, empty b3
    FdChange(3L, 6L, 110L, RowDelete, 0.0, "{}"),
    FdChange(6L, 7L, 120L, RowInsert, 210.00, "{}"),  // b4 created
    FdChange(5L, 8L, 130L, RowUpdate, 220.00, "{}"))  // b3 → b4

  private def log: DataFrame = { import spark.implicits._; rows.toDF() }

  private def collected(df: DataFrame): Seq[(Long, String, Long, Any, Any)] =
    df.collect().map(r => (r.getAs[Long]("bucket"), r.getAs[String]("mv_action"),
      r.getAs[Long]("n_rows"), r.get(3), r.get(4))).toSeq

  test("stored-layout maintenance ≡ from-log operator, with PartitionFilters on the recompute scan") {
    val dir = java.nio.file.Files.createTempDirectory("mv_stored_").toString
    CdcOps.writeMvSnapshot(log, cutoffUs, dir)
    val slice = log.filter(col("time_us") > cutoffUs)
    val stored = CdcOps.mvMinMaxFromStored(spark, dir, slice)
    val fromLog = CdcOps.mvMinMaxFromLog(log, cutoffUs)
    val got = collected(stored)
    assert(got == collected(fromLog), s"stored ≠ fromLog:\n$got")
    // the endgame the family exists for: b1 lost its max, the stored
    // runner-up (60.00) surfaced; untouched b0/b2 read `carried`
    assert(got.contains((1L, "updated", 1L, 60.00, 60.00)))
    assert(got.contains((0L, "carried", 1L, 10.00, 10.00)))
    assert(got.contains((3L, "emptied", 0L, null, null)))
    assert(got.contains((4L, "created", 2L, 210.00, 220.00)))
    // the pruning proof: at least one snapshot scan binds the touched
    // buckets as a PARTITION filter (bucket is the partition column)
    val leaves = stored.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(leaves.exists(s => s.contains("/snapshot") &&
      s.contains("PartitionFilters: [") && s.contains("bucket")),
      s"no partition-pruned snapshot scan:\n${leaves.mkString("\n---\n")}")
  }

  test("untouched-bucket rows are carried from the stored MV without a row scan") {
    val dir = java.nio.file.Files.createTempDirectory("mv_stored2_").toString
    CdcOps.writeMvSnapshot(log, cutoffUs, dir)
    // an EMPTY slice touches nothing: every bucket carries, and the
    // result must match the from-log operator on the same no-op slice
    val slice = log.filter(col("time_us") > lit(Long.MaxValue))
    val got = collected(CdcOps.mvMinMaxFromStored(spark, dir, slice))
    assert(got.map(_._2).forall(_ == "carried"), got)
    assert(got == collected(CdcOps.mvMinMaxFromLog(log.filter(col("time_us") <= cutoffUs), cutoffUs)))
  }

  test("the stored operator keeps its pinned physical plan shape") {
    val dir = java.nio.file.Files.createTempDirectory("mv_stored3_").toString
    CdcOps.writeMvSnapshot(log, cutoffUs, dir)
    val stored = CdcOps.mvMinMaxFromStored(spark, dir, log.filter(col("time_us") > cutoffUs))
    val got = graft.PlanShape.of(stored)
    assert(got == ((5, 0, 1)), "(exchanges, windows, sorts)")
  }

  test("a slice touching more buckets than the cap fails with the cap message") {
    val dir = java.nio.file.Files.createTempDirectory("mv_stored4_").toString
    CdcOps.writeMvSnapshot(log, cutoffUs, dir)
    // one new key per bucket, MvMaxTouchedBuckets + 1 buckets
    val slice = spark.range(CdcOps.MvMaxTouchedBuckets + 1L).select(
      (col("id") + 1000).as("user_id"), (col("id") + 1000).as("event_id"),
      lit(200L).as("time_us"), lit(RowInsert).as("cdc_operation"),
      (col("id") * 50.0).as("value"), lit("{}").as("props"))
    val e = intercept[IllegalArgumentException](CdcOps.mvMinMaxFromStored(spark, dir, slice))
    assert(e.getMessage.contains(
      s"touched-bucket set exceeds ${CdcOps.MvMaxTouchedBuckets}"), e.getMessage)
  }
}
