package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The incremental-MV algebra: every decision the MV family makes —
  * the batch operators in [[CdcOps]] (`mv*FromLog`, their stored-layout
  * variants) and their streaming twins in `graft.streaming` — written
  * once. The operators compose these pieces; none restates a rule.
  *
  *  - exact integer cents and the floor bucket / tier key;
  *  - an MV's T0 state and its slice verdict over the row writes
  *    ([[ChangeOrder.rowWrites]]);
  *  - each view kind's edition from rows: SUM/COUNT, MIN/MAX, top-K;
  *  - signed contribution rows and their SUM/COUNT fold (the
  *    self-maintainable kinds), the join delta rules on top of them;
  *  - the touched-bucket set and the recompute-touched / carry-the-rest
  *    rule (the non-self-maintainable kinds);
  *  - the value-defined action tag, born-and-emptied keys dropped. */
private[graft] object MvAlgebra {

  import CdcSchema._
  import ChangeOrder.{latestPerKey, livePerKey}

  /** `value` in exact integer cents — the MV family's (and the
    * checksum's) arithmetic: associative, so partial aggregation
    * commutes and bucket assignment never straddles a float boundary. */
  val Cents: Column = (col("value").cast("decimal(18,2)") * 100).cast("long")

  /** Cents back to the view's value unit. */
  def asValue(cents: String): Column = col(cents).cast("double") / 100.0

  /** The single-relation MVs' group key: floor(cents / bucket width). */
  def bucketOf(cents: String): Column = expr(CdcOps.floorDivSql(cents, CdcOps.MvBucketCents))

  /** The join MV's group key: floor(dimension cents / tier width). */
  def tierOf(cents: String): Column = expr(CdcOps.floorDivSql(cents, CdcOps.MvTierCents))

  /** The stored T0 state: live rows as of `cutoffUs` (changes at or
    * before it). */
  def t0State(writes: DataFrame, cutoffUs: Long, key: String): DataFrame =
    livePerKey(writes.filter(col("time_us") <= cutoffUs), key)

  /** The slice verdict: each touched key's newest change after
    * `cutoffUs`, a tombstone when it is a delete. */
  def sliceVerdict(writes: DataFrame, cutoffUs: Long, key: String): DataFrame =
    latestPerKey(writes.filter(col("time_us") > cutoffUs), key)

  /** The bucket MVs' T0 state: (user_id, cents, bucket). */
  def bucketedT0(writes: DataFrame, cutoffUs: Long): DataFrame =
    t0State(writes, cutoffUs, "user_id").select(col("user_id"), Cents.as("cents"))
      .withColumn("bucket", bucketOf("cents"))

  /** A per-key verdict in cents: (user_id, b_op, b_cents). */
  def verdictCents(verdict: DataFrame): DataFrame =
    verdict.select(col("user_id"), col("cdc_operation").as("b_op"), Cents.as("b_cents"))

  /** Where a verdict's keys land: the non-deleted ones as
    * (user_id, cents, bucket). */
  def landed(verdict: DataFrame): DataFrame =
    verdict.filter(col("b_op") =!= RowDelete)
      .select(col("user_id"), col("b_cents").as("cents"), bucketOf("b_cents").as("bucket"))

  /** A merged streaming key state's live rows: (user_id, bucket, c). */
  def liveBucketed(state: DataFrame): DataFrame =
    state.filter(!col("deleted"))
      .withColumn("c", Cents)
      .withColumn("bucket", bucketOf("c"))
      .select(col("user_id"), col("bucket"), col("c"))

  // ---------------------------------------------------------------- editions

  /** SUM/COUNT edition of rows: (key, base_n, base_cents). */
  def sumCount(rows: DataFrame, key: Column, cents: String): DataFrame =
    rows.groupBy(key).agg(count(lit(1)).as("base_n"), sum(col(cents)).as("base_cents"))

  /** MIN/MAX edition of bucketed rows: (bucket, n, mn, mx). */
  def minMax(rows: DataFrame, cents: String)(n: String, mn: String, mx: String): DataFrame =
    rows.groupBy(col("bucket"))
      .agg(count(lit(1)).as(n), min(col(cents)).as(mn), max(col(cents)).as(mx))

  /** Top-K edition of bucketed rows: each bucket's K largest, ranked
    * `rk` by (cents DESC, user_id DESC) — tied values are equal
    * wherever the tiebreak places them. */
  def topK(rows: DataFrame, cents: String): DataFrame =
    rows.withColumn("rk", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col(cents).desc, col("user_id").desc)))
      .filter(col("rk") <= CdcOps.MvTopK)

  // ------------------------------------------- self-maintainable: signed deltas

  /** Rows leaving the view: (key, -1, -cents). */
  def retract(rows: DataFrame, key: Column, cents: String): DataFrame =
    rows.select(key, lit(-1L).as("d_n"), (-col(cents)).as("d_cents"))

  /** Rows entering the view: (key, +1, +cents). */
  def insert(rows: DataFrame, key: Column, cents: String): DataFrame =
    rows.select(key, lit(1L).as("d_n"), col(cents).as("d_cents"))

  /** The join delta rules: fact rows (user_id, segment_id, cents)
    * against a dimension edition (segment_id, tier_cents) — retract
    * against the old one, insert against the updated one. */
  def joinRetract(fact: DataFrame, dim: DataFrame): DataFrame =
    retract(fact.join(dim, Seq("segment_id")), tierOf("tier_cents").as("t"), "cents")

  def joinInsert(fact: DataFrame, dim: DataFrame): DataFrame =
    insert(fact.join(dim, Seq("segment_id")), tierOf("tier_cents").as("t"), "cents")

  /** The updated dimension: untouched segments carry their T0 row,
    * touched ones take their slice verdict unless it is a delete. */
  def updatedDim(s0: DataFrame, verdict: DataFrame): DataFrame =
    s0.join(verdict.select(col("segment_id")), Seq("segment_id"), "left_anti")
      .unionByName(verdict.filter(col("s_op") =!= RowDelete)
        .select(col("segment_id"), col("tier_cents")))

  /** Fold signed delta rows into an edition `(key, n, cents)`: adds
    * the next edition's `n_rows` and `new_cents`. */
  def foldSumCount(edition: DataFrame, deltaRows: DataFrame, key: String, n: String,
      cents: String): DataFrame = {
    val delta = deltaRows.groupBy(col(key))
      .agg(sum(col("d_n")).as("d_n"), sum(col("d_cents")).as("d_cents"))
    edition.join(delta, Seq(key), "full_outer")
      .withColumn("n_rows", coalesce(col(n), lit(0L)) + coalesce(col("d_n"), lit(0L)))
      .withColumn("new_cents", coalesce(col(cents), lit(0L)) + coalesce(col("d_cents"), lit(0L)))
  }

  /** The twins' fold: a maintained `(key, n_rows, cents)` MV plus
    * delta rows, emptied groups dropped. */
  def foldLive(mv: DataFrame, deltaRows: DataFrame, key: String, cents: String): DataFrame =
    foldSumCount(mv, deltaRows, key, "n_rows", cents)
      .filter(col("n_rows") > 0)
      .select(col(key), col("n_rows"), col("new_cents").as(cents))

  /** The batch SUM/COUNT view: base edition `(key, base_n,
    * base_cents)` folded with delta rows, tagged, as
    * (key, mv_action, n_rows, sum_value). */
  def sumView(base: DataFrame, deltaRows: DataFrame, key: String): DataFrame =
    tagged(foldSumCount(base, deltaRows, key, "base_n", "base_cents"),
        col("new_cents") === col("base_cents"))
      .select(col(key), col("mv_action"), col("n_rows"), asValue("new_cents").as("sum_value"))
      .orderBy(col(key))

  // --------------------------------------- non-self-maintainable: recompute

  /** Every bucket a touched key's OLD or NEW row lands in. */
  def touchedBuckets(oldRows: DataFrame, touchedKeys: DataFrame,
      newRows: DataFrame): DataFrame =
    oldRows.join(touchedKeys, Seq("user_id"), "left_semi").select(col("bucket"))
      .unionByName(newRows.select(col("bucket")))
      .distinct()

  /** The recompute rule: (the edition's untouched rows, carried
    * verbatim; `recompute` of the touched buckets' survivor rows). */
  def recomputeTouched(edition: DataFrame, touched: DataFrame, survivors: DataFrame)(
      recompute: DataFrame => DataFrame): (DataFrame, DataFrame) =
    (edition.join(touched, Seq("bucket"), "left_anti"),
      recompute(survivors.join(touched, Seq("bucket"), "left_semi")))

  /** The recompute rule over a twin's pre/post-merge key states: a
    * bucket is touched where a touched key sat before the merge or
    * sits after it, so a cross-bucket update repairs both ends. */
  def recomputeFromStates(mv: DataFrame, preState: DataFrame, postState: DataFrame,
      touched: DataFrame)(recompute: DataFrame => DataFrame): DataFrame = {
    val post = liveBucketed(postState)
    val buckets = touchedBuckets(liveBucketed(preState), touched,
      post.join(touched, Seq("user_id"), "left_semi"))
    val (carried, recomputed) = recomputeTouched(mv, buckets, post)(recompute)
    carried.unionByName(recomputed)
  }

  /** The batch MIN/MAX view: untouched buckets of the base edition
    * `(bucket, base_n, base_mn, base_mx)` carried, touched buckets
    * tagged against their recomputed `(bucket, new_n, new_mn, new_mx)`. */
  def minMaxView(touched: DataFrame, base: DataFrame, untouched: DataFrame,
      recomputed: DataFrame): DataFrame = {
    val carried = untouched.select(col("bucket"), lit("carried").as("mv_action"),
      col("base_n").as("n_rows"), asValue("base_mn").as("min_value"),
      asValue("base_mx").as("max_value"))
    val repaired = tagged(touched.join(base, Seq("bucket"), "left")
        .join(recomputed, Seq("bucket"), "left")
        .withColumn("n_rows", coalesce(col("new_n"), lit(0L))),
        col("new_mn") === col("base_mn") && col("new_mx") === col("base_mx"))
      .select(col("bucket"), col("mv_action"), col("n_rows"),
        asValue("new_mn").as("min_value"), asValue("new_mx").as("max_value"))
    carried.unionByName(repaired).orderBy(col("bucket"))
  }

  /** Loud cap on a touched-key literal list: collects at most
    * `CdcOps.MvMaxTouchedBuckets + 1` values, then fails when there
    * are more than the cap. */
  def cappedLiterals(keys: DataFrame, what: String, remedy: String): Array[Long] = {
    val got = keys.limit(CdcOps.MvMaxTouchedBuckets + 1).collect().map(_.getLong(0))
    require(got.length <= CdcOps.MvMaxTouchedBuckets,
      s"$what exceeds ${CdcOps.MvMaxTouchedBuckets} — $remedy; fix the layout, don't widen the cap")
    got
  }

  // ------------------------------------------------------------------ actions

  /** The value-defined action of one group: created (no old edition),
    * emptied (no rows left), carried (same values), else updated. */
  def action(born: Column, n: Column, unchanged: Column): Column =
    when(born, "created")
      .when(n === 0, "emptied")
      .when(unchanged, "carried")
      .otherwise("updated")

  /** Tag a base ⟗ next stitch (`base_n`, `n_rows`) with its action. A
    * group born AND emptied inside the slice never existed in either
    * edition: it is dropped. */
  def tagged(stitch: DataFrame, sameValues: Column): DataFrame =
    stitch.filter(col("n_rows") > 0 || col("base_n").isNotNull)
      .withColumn("mv_action", action(col("base_n").isNull, col("n_rows"),
        col("n_rows") === col("base_n") && sameValues))
}
