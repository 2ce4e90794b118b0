package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CorpusPipeline, Replicate, Sessions, Tables}
import graft.cdc.{CdcLogAdapter, CdcOps}
import graft.functions.{Hashes, Tokens, WordShingles}
import graft.pipeline.{Classifier, Corpus, Dedup, TextAnalysis}

/** The traced run's calls into single layers, over the small probe
  * inputs (the same on every workload). Each entry call is split into
  * the call that builds the frame and the action that forces it. */
final class Probes(ctx: Ctx, rec: Recorder) {
  private val spark: SparkSession = ctx.spark
  private val probeDir = s"${ctx.runDir}/probe"
  val entryCalls = mutable.ArrayBuffer.empty[(String, Double, Double)] // (name, build s, exec s)

  /** One entry call inside a span of `layer`; the final action runs in
    * a child span of the driver layer. */
  private def entry(name: String, layer: String)(build: => DataFrame)(action: DataFrame => Unit): Double = {
    val t0 = System.nanoTime()
    rec.span(name, layer) {
      val df = build
      val b = Guard.secondsSince(t0)
      val t1 = System.nanoTime()
      rec.span(s"$name.action", "driver")(Guard(ctx)(action(df)))
      entryCalls += ((name, b, Guard.secondsSince(t1)))
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    Guard.secondsSince(t0)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().map(x => dirBytes(x.getPath)).sum else f.length()
  }

  def cdc(): Map[String, Any] = {
    val events = Tables.events(spark, probeDir)
    val full = s"${ctx.runDir}/out/probe_replica"
    val coll = s"${ctx.runDir}/out/probe_collections"
    val fullS = entry("cdc.replicate_full", "cdc")(
      CdcOps.replicateFullFromLog(CdcLogAdapter.fromEvents(events)))(_.write.mode("overwrite").parquet(full))
    val collS = entry("cdc.collection_apply", "cdc")(
      CdcOps.collectionApplyFromLog(CdcLogAdapter.fromEventsWithCollections(events)))(
      _.write.mode("overwrite").parquet(coll))
    Map("replicate_full_s" -> fullS, "collection_apply_s" -> collS,
      "rows_out" -> (spark.read.parquet(full).count() + spark.read.parquet(coll).count()),
      "write_bytes" -> (dirBytes(full) + dirBytes(coll)))
  }

  def pipeline(): Map[String, Any] = {
    val stages: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "keeplist" -> Dedup.keeplist,
      "decontaminate" -> Dedup.decontaminate,
      "quality" -> TextAnalysis.qualityFilter,
      "classifier" -> Classifier.score,
      "pack" -> Corpus.packSequences)
    val times = stages.map { case (name, fn) =>
      s"${name}_s" -> entry(s"pipeline.$name", "pipeline")(fn(spark, probeDir))(noop)
    }
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val (kept, n) = rec.span("CorpusPipeline.run", "driver")(
      Guard(ctx)(CorpusPipeline.run(spark, probeDir, s"${ctx.runDir}/out/probe_corpus")))
    val created = sc.getPersistentRDDs.keys.count(!before.contains(_))
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    times.toMap ++ Map("materializations" -> created, "keep_ratio" -> kept.toDouble / n)
  }

  /** Rows per second of each kernel as a one-column projection over
    * cached document texts (median of three). */
  def functions(): Map[String, Any] = {
    val copies = 10
    val texts = spark.read.parquet(s"$probeDir/documents.parquet")
      .select(explode(sequence(lit(1), lit(copies))).as("copy"), col("text"))
      .select("text").cache()
    val rows = texts.count()
    val kernels: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "tokens" -> Tokens.tokens(col("text")),
      "shingles" -> WordShingles.shingles(Tokens.tokens(col("text")), 4),
      "polyhash" -> Hashes.polyHash(Hashes.charCodes(col("text"))))
    val out = kernels.map { case (name, k) =>
      val times = (1 to 3).map(_ => entry(s"functions.$name", "functions")(texts.select(k.as("x")))(noop))
      s"${name}_rows_per_s" -> rows / times.sorted.apply(1)
    }
    texts.unpersist(blocking = true)
    out.toMap + ("rows" -> rows)
  }
}

object Probes {
  /** Wall time of Replicate.run over the probe events at `local[n]`
    * against `local[cores]` (the second of two runs). Restarts
    * the session, so it runs last. */
  def coreScaling(ctx: Ctx): Map[String, Any] = {
    def wallAt(n: Int): Double = {
      SparkSession.active.stop()
      val spark = Sessions.builder(n).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      def once(): Double = {
        val t0 = System.nanoTime()
        Replicate.run(spark, s"${ctx.runDir}/probe", s"${ctx.runDir}/out/probe_scaling", "delta")
        Guard.secondsSince(t0)
      }
      once()
      once()
    }
    val one = wallAt(1)
    val many = wallAt(ctx.cores)
    Map("wall_local1_s" -> one, "wall_localN_s" -> many, "core_scaling" -> one / many)
  }
}
