package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** End-to-end replicator CLI — the analogue of running the reference's
  * scylla-cdc-replicator Main (source cluster → destination cluster).
  *
  * Usage: `sbt "runMain graft.Replicate <sfDir> <outDir> [--mode M]"`
  * with the reference's three modes (Main.java:111, Mode enum
  * Main.java:128-145; `pre_image`/`post_image` spellings accepted):
  *  - `delta` (default): events parquet → CDC log → fully materialized
  *    destination table (all operation types interpreted) + the
  *    collection column state;
  *  - `preimage`: PRE_IMAGE rows paired with their operations and
  *    checked against the materialized pre-state — the consistency
  *    audit written to `preimage_report`;
  *  - `postimage`: POST_IMAGE full-row applies — the destination
  *    state as `postimage_table`.
  *
  * Output contract: each output holds exactly its operator's rows
  * (`CdcOps.replicateFullFromLog`, `collectionApplyFromLog`,
  * `preimageCheckFromLog`, `postimageApplyFromLog`). Each parquet file
  * is sorted by the output's key; there is no order across files, so a
  * reader that needs one global order sorts on read. The two delta
  * outputs are written at the same time. The operators themselves
  * still return their rows in one global key order.
  *
  * At 100 TB the same lines run on a cluster with the parquet paths
  * pointed at the lake. */
object Replicate {

  /** Mode.fromString analogue (Main.java:128-145): same accepted
    * spellings, same failure on anything else. */
  def parseMode(args: Seq[String]): String = args match {
    case Seq() => "delta"
    case Seq("--mode" | "-m", m) => m.toLowerCase.replace("_", "") match {
      case ok @ ("delta" | "preimage" | "postimage") => ok
      case other => throw new IllegalStateException(s"Unknown mode: $other")
    }
    case other => throw new IllegalArgumentException(s"unrecognized arguments: $other")
  }

  /** One output: its rows in any order, the key each file is sorted by,
    * and where it goes. */
  private[graft] final case class Output(rows: DataFrame, key: Seq[String], path: String)

  /** One replication run; returns the written output paths. */
  def run(spark: SparkSession, sfDir: String, out: String, mode: String): Seq[String] = {
    val events = Tables.events(spark, sfDir)
    val log = cdc.CdcLogAdapter.fromEvents(events)
    val outputs = mode match {
      case "delta" => Seq(
        Output(cdc.CdcOps.replicateFullCore(log), Seq("user_id", "ck"),
          s"$out/destination_table"),
        Output(cdc.CdcOps.collectionApplyCore(cdc.CdcLogAdapter.fromEventsWithCollections(events)),
          Seq("user_id", "key"), s"$out/destination_collections"))
      case "preimage" => Seq(
        Output(cdc.CdcOps.preimageCheckCore(log), Seq("user_id", "event_id"),
          s"$out/preimage_report"))
      case "postimage" => Seq(
        Output(cdc.CdcOps.postimageApplyCore(log), Seq("user_id"), s"$out/postimage_table"))
    }
    write(spark, outputs)
    outputs.map(_.path)
  }

  /** Writes the outputs at the same time, each file sorted by its key
    * (a sort inside each write task: no sample job, no range exchange). */
  private[graft] def write(spark: SparkSession, outputs: Seq[Output]): Unit =
    Concurrently(spark)(outputs.map { o => () =>
      o.rows.sortWithinPartitions(o.key.map(col): _*)
        .write.mode("overwrite").parquet(o.path)
    })

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Replicate <sfDir> <outDir> [--mode delta|preimage|postimage]")
    val Array(sfDir, out) = args.take(2)
    val mode = parseMode(args.drop(2).toSeq)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    val written = run(spark, sfDir, out, mode)
    println(s"replicated ($mode): ${written.mkString(", ")}")
    spark.stop()
  }
}

/** Printer CLI — the analogue of scylla-cdc-printer's Main: renders
  * the first N changes of the log in the reference's block format.
  *
  * Usage: `sbt "runMain graft.PrintChanges <sfDir> [n]"`. */
object PrintChanges {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PrintChanges <sfDir> [n]")
    val sfDir = args(0)
    val n = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    val log = cdc.CdcLogAdapter.fromEvents(Tables.events(spark, sfDir))
      .orderBy("time_us", "event_id").limit(n)
    val schema = cdc.ChangeSchemas.ofAdaptedLog(log.schema)
    cdc.RawChanges.iterate(log)
      .foreach(c => println(cdc.ChangePrinter.format(c, schema)))
    spark.stop()
  }
}
