package graft.streaming

import graft.SparkSpec
import graft.cdc.{CdcOps, CdcSchema}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** The MV family runs one algebra: on seeded logs each batch MV
  * operator equals its streaming twin's `applyBatch` run as one
  * micro-batch from the T0 edition (`emptied` rows aside — the twin
  * keeps no empty group), and each stored-layout operator equals its
  * from-log operator. The logs carry cross-bucket updates, deleted
  * extremes and top-ranked rows, born-and-emptied buckets, net-zero
  * touches and image rows, which no MV may read as writes. */
class MvAlgebraSpec extends SparkSpec {

  import spark.implicits._
  import CdcSchema._
  import StreamingSnapshotMerge.{emptySnapshot, mergeReduced, reduceSlice}

  private val Cutoff = 100L
  private val isDim: Column = col("event_id") % 4 === 0
  private val segmentOf: Column = col("user_id") % 3

  /** Always live at T0 and never touched: the stored layouts have a
    * non-empty snapshot (fact user 100 in segment 1, its dimension
    * row at event 4). */
  private val baseline = Seq(
    MvChange(100L, 1L, 0L, RowInsert, 42.00, "{}"),
    MvChange(1L, 4L, 0L, RowInsert, 30.00, "{}"))

  /** Each case of the named shapes, pinned once beside the random logs. */
  private val fixture: Seq[MvChange] = baseline ++ Seq(
    MvChange(1L, 5L, 10L, RowInsert, 10.00, "{}"),      // b0
    MvChange(2L, 6L, 20L, RowInsert, 60.00, "{}"),      // b1
    MvChange(3L, 7L, 30L, RowInsert, 70.00, "{}"),      // b1 max, top-ranked
    MvChange(4L, 9L, 40L, RowInsert, 120.00, "{}"),     // b2
    MvChange(5L, 10L, 50L, RowInsert, 170.00, "{}"),    // b3
    MvChange(8L, 12L, 60L, RowInsert, 130.00, "{}"),    // b2; dim seg 2
    // the slice
    MvChange(3L, 11L, 110L, RowDelete, 0.0, "{}"),      // b1's max deleted
    MvChange(4L, 13L, 120L, RowUpdate, 120.00, "{}"),   // net-zero touch of b2
    MvChange(5L, 14L, 130L, RowUpdate, 220.00, "{}"),   // b3 → b4, b3 emptied
    MvChange(6L, 15L, 140L, RowInsert, 260.00, "{}"),   // b5 born...
    MvChange(6L, 17L, 150L, RowDelete, 0.0, "{}"),      // ...and emptied
    MvChange(2L, 18L, 160L, PostImage, 999.00, "{}"),   // image, newest for u2
    MvChange(1L, 19L, 170L, PreImage, 999.00, "{}"),    // image, newest for u1
    MvChange(2L, 20L, 180L, PostImage, 999.00, "{}"))   // image, newest for dim seg 2

  /** Random logs: eight keys, colliding values across six buckets
    * (negatives included), one change in five an image row. */
  private val logGen: Gen[Seq[MvChange]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(0L, 7L)
      t <- Gen.choose(1L, 200L)
      op <- Gen.frequency(3 -> RowInsert, 3 -> RowUpdate, 2 -> RowDelete,
        1 -> PreImage, 1 -> PostImage)
      v <- Gen.choose(-2, 12)
    } yield (u, t, op, v * 25.0))
    ids <- Gen.pick(n, 5L to 1000L)
  } yield baseline ++ rows.zip(ids.toSeq).map { case ((u, t, op, v), e) =>
    MvChange(u, e, t, op, v, "{}")
  }

  private def check(prop: Prop): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(20)
      .withInitialSeed(Seed(11L)).withWorkers(1)
    val result = Test.check(params, prop)
    assert(result.passed, result.status.toString)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** The batch operator's rows minus `emptied`, without the action. */
  private def live(df: DataFrame, cols: String*): Set[Seq[Any]] =
    rows(df.filter(col("mv_action") =!= "emptied").select(cols.map(col): _*))

  /** Key states before and after the slice, and each side's touched keys. */
  private case class States(pre: DataFrame, post: DataFrame, t0Keys: DataFrame,
      sliceKeys: DataFrame)

  private def states(log: DataFrame): States = {
    val t0 = reduceSlice(log.filter(col("time_us") <= Cutoff)).localCheckpoint()
    val slice = reduceSlice(log.filter(col("time_us") > Cutoff)).localCheckpoint()
    val pre = mergeReduced(emptySnapshot(spark), t0).localCheckpoint()
    States(pre, mergeReduced(pre, slice).localCheckpoint(),
      t0.select(col("user_id")), slice.select(col("user_id")))
  }

  /** A single-relation twin: T0 edition from empty, then the slice. */
  private def twin(s: States, emptyMv: DataFrame)(
      applyBatch: (DataFrame, DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    val t0 = applyBatch(emptyMv, emptySnapshot(spark), s.pre, s.t0Keys).localCheckpoint()
    applyBatch(t0, s.pre, s.post, s.sliceKeys)
  }

  private def factLog(log: DataFrame): DataFrame =
    log.filter(!isDim).select(col("user_id"), segmentOf.as("segment_id"), col("event_id"),
      col("time_us"), col("cdc_operation"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))

  private def dimLog(log: DataFrame): DataFrame =
    log.filter(isDim).select(segmentOf.as("segment_id"), col("event_id"), col("time_us"),
      col("cdc_operation"), (col("value").cast("decimal(18,2)") * 100).cast("long").as("tier_cents"))

  private def joinTwin(log: DataFrame): DataFrame = {
    val f = states(log.filter(!isDim))
    val d = states(log.filter(isDim).withColumn("user_id", segmentOf))
    def segs(keys: DataFrame) = keys.select(col("user_id").as("segment_id"))
    val t0 = StreamingMvJoin.applyBatch(StreamingMvJoin.emptyMv(spark),
      emptySnapshot(spark), f.pre, emptySnapshot(spark), d.pre,
      f.t0Keys, segs(d.t0Keys), segmentOf).localCheckpoint()
    StreamingMvJoin.applyBatch(t0, f.pre, f.post, d.pre, d.post,
      f.sliceKeys, segs(d.sliceKeys), segmentOf)
  }

  private def batchEqualsTwin(changes: Seq[MvChange]): Boolean = {
    val log = changes.toDF()
    val s = states(log)
    val sumOk = live(CdcOps.mvMaintainFromLog(log, Cutoff), "bucket", "n_rows", "sum_value") ==
      rows(twin(s, StreamingMvMaintain.emptyMv(spark))(StreamingMvMaintain.applyBatch)
        .select(col("bucket"), col("n_rows"), (col("cents") / 100.0).as("v")))
    val minMaxOk = live(CdcOps.mvMinMaxFromLog(log, Cutoff),
        "bucket", "n_rows", "min_value", "max_value") ==
      rows(twin(s, StreamingMvMinMax.emptyMv(spark))(StreamingMvMinMax.applyBatch)
        .select(col("bucket"), col("n_rows"), (col("mn_cents") / 100.0).as("mn"),
          (col("mx_cents") / 100.0).as("mx")))
    val topKOk = live(CdcOps.mvTopkFromLog(log, Cutoff), "bucket", "rk", "value") ==
      rows(twin(s, StreamingMvTopk.emptyMv(spark))(StreamingMvTopk.applyBatch)
        .select(col("bucket"), col("rk"), (col("cents") / 100.0).as("v")))
    val joinOk = live(CdcOps.mvJoinMaintainFromLogs(factLog(log), dimLog(log), Cutoff),
        "t", "n_rows", "sum_value") ==
      rows(joinTwin(log).select(col("t"), col("n_rows"), (col("sum_cents") / 100.0).as("v")))
    sumOk && minMaxOk && topKOk && joinOk
  }

  private def storedEqualsFromLog(changes: Seq[MvChange]): Boolean = {
    val log = changes.toDF()
    val slice = log.filter(col("time_us") > Cutoff)
    val mmDir = java.nio.file.Files.createTempDirectory("mv_alg_mm_").toString
    CdcOps.writeMvSnapshot(log, Cutoff, mmDir)
    val (fact, dim) = (factLog(log), dimLog(log))
    val jDir = java.nio.file.Files.createTempDirectory("mv_alg_j_").toString
    CdcOps.writeMvJoinSnapshot(fact, dim, Cutoff, jDir)
    def ordered(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    ordered(CdcOps.mvMinMaxFromStored(spark, mmDir, slice)) ==
      ordered(CdcOps.mvMinMaxFromLog(log, Cutoff)) &&
      ordered(CdcOps.mvJoinFromStored(spark, jDir,
        fact.filter(col("time_us") > Cutoff), dim.filter(col("time_us") > Cutoff))) ==
      ordered(CdcOps.mvJoinMaintainFromLogs(fact, dim, Cutoff))
  }

  test("the fixture: each batch MV operator equals its twin's one micro-batch") {
    val log = fixture.toDF()
    // the named shapes are really there
    val mm = CdcOps.mvMinMaxFromLog(log, Cutoff).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(mm == Map(0L -> "carried", 1L -> "updated", 2L -> "carried", 3L -> "emptied",
      4L -> "created"), mm)
    assert(batchEqualsTwin(fixture))
  }

  test("seeded logs: each batch MV operator equals its twin's one micro-batch") {
    check(Prop.forAll(logGen)(batchEqualsTwin))
  }

  test("seeded logs: the stored-layout operators equal their from-log operators") {
    assert(storedEqualsFromLog(fixture))
    check(Prop.forAll(logGen)(storedEqualsFromLog))
  }
}
