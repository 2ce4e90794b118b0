package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** The ChangeId order module: the Column form of the rule equals the
  * Scala one, and the last-writer-wins fold equals a local
  * `maxBy((time_us, event_id))` per key. */
class ChangeOrderSpec extends SparkSpec {

  import spark.implicits._
  import CdcSchema.{RowDelete, RowInsert, RowUpdate}
  import ChangeOrderSpec.Row

  test("the Column isAfter equals the Scala isAfter, ties and Long.MinValue included") {
    val vs = Seq(Long.MinValue, -1L, 0L, 1L, 2L, Long.MaxValue)
    val grid = for (t <- vs; e <- vs; mt <- vs; me <- vs) yield (t, e, mt, me)
    val got = grid.toDF("t", "e", "mt", "me")
      .select(col("t"), col("e"), col("mt"), col("me"),
        ChangeOrder.isAfter(col("t"), col("e"), col("mt"), col("me")).as("after"))
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(got.length == grid.size)
    got.foreach { case (t, e, mt, me, after) =>
      assert(after == ChangeOrder.isAfter(t, e, mt, me), s"($t, $e) after ($mt, $me)")
    }
    // the rule itself: time first, the event id breaking ties only
    assert(ChangeOrder.isAfter(2L, 0L, 1L, 9L))
    assert(ChangeOrder.isAfter(1L, 2L, 1L, 1L))
    assert(!ChangeOrder.isAfter(1L, 1L, 1L, 1L))
    assert(ChangeOrder.isAfter(Long.MinValue, Long.MinValue + 1, Long.MinValue, Long.MinValue))
  }

  /** Random logs with deliberate time collisions; event ids unique, as
    * in a real log, so every key has exactly one newest change. */
  private val logGen: Gen[Seq[Row]] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(0L, 5L)
      ck <- Gen.choose(0, 2)
      t <- Gen.choose(0L, 12L)
      op <- Gen.oneOf(RowUpdate, RowInsert, RowDelete)
      v <- Gen.choose(0, 999)
    } yield (u, ck, t, op, v / 10.0))
    ids <- Gen.pick(n, 1L to 1000L)
  } yield rows.zip(ids.toSeq).map { case ((u, ck, t, op, v), e) => Row(u, ck, t, e, op, v) }

  private def check(prop: Prop): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(20)
      .withInitialSeed(Seed(7L)).withWorkers(1)
    val result = Test.check(params, prop)
    assert(result.passed, result.status.toString)
  }

  private def fold(rows: Seq[Row], key: Row => Any): Set[Row] =
    rows.groupBy(key).values.map(_.maxBy(r => (r.time_us, r.event_id))).toSet

  private def collected(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.select("user_id", "ck", "time_us", "event_id", "cdc_operation", "value")
      .as[Row].collect().toSet

  test("latestPerKey equals a local maxBy((time_us, event_id)) fold, one key and two") {
    check(Prop.forAll(logGen) { rows =>
      val log = rows.toDF()
      collected(ChangeOrder.latestPerKey(log, "user_id")) == fold(rows, _.user_id) &&
        collected(ChangeOrder.latestPerKey(log, "user_id", "ck")) ==
          fold(rows, r => (r.user_id, r.ck))
    })
  }

  test("live state is the fold minus the keys whose newest change is a delete") {
    check(Prop.forAll(logGen) { rows =>
      val want = fold(rows, r => (r.user_id, r.ck)).filter(_.cdc_operation != RowDelete)
      collected(ChangeOrder.livePerKey(rows.toDF(), "user_id", "ck")) == want
    })
  }

  test("a deleted key stays deleted: its older write never comes back") {
    val rows = Seq(
      Row(1, 0, 10, 1, RowInsert, 1.0), Row(1, 0, 20, 2, RowDelete, 0.0),  // deleted
      Row(2, 0, 10, 3, RowDelete, 0.0), Row(2, 0, 20, 4, RowUpdate, 2.0),  // re-written
      Row(3, 0, 30, 6, RowInsert, 3.0), Row(3, 0, 30, 5, RowDelete, 0.0),  // tie: id 6 wins
      Row(4, 0, 30, 8, RowInsert, 4.0), Row(4, 0, 30, 9, RowDelete, 0.0))  // tie: id 9 wins
    val log = rows.toDF()
    val live = collected(ChangeOrder.livePerKey(log, "user_id"))
    assert(live.map(_.user_id) == Set(2L, 3L))
    assert(live.map(_.event_id) == Set(4L, 6L))
    // the tombstones are kept by the fold itself
    assert(collected(ChangeOrder.latestPerKey(log, "user_id")).map(_.event_id) ==
      Set(2L, 4L, 6L, 9L))
    // teeth: dropping deletes BEFORE the window resurrects keys 1 and 4
    val pushedBelow = collected(ChangeOrder.latestPerKey(
      log.filter(col("cdc_operation") =!= RowDelete), "user_id"))
    assert(pushedBelow.map(_.user_id) == Set(1L, 2L, 3L, 4L))
  }

  test("freshInOrder keeps changes after the mark, once each, in ChangeId order") {
    case class C(timeUs: Long, eventId: Long, tag: String) extends ChangeOrder.HasChangeId
    val in = Seq(C(5, 2, "a"), C(3, 9, "b"), C(5, 1, "c"), C(5, 2, "dup"), C(2, 1, "old"),
      C(3, 8, "mark"))
    val got = ChangeOrder.freshInOrder(in.iterator, 3L, 8L)
    assert(got.map(_.tag) == Seq("b", "c", "a"))
  }
}

object ChangeOrderSpec {
  /** One conforming log row (`ck` a clustering key). */
  case class Row(user_id: Long, ck: Int, time_us: Long, event_id: Long,
      cdc_operation: Int, value: Double)
}
