package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // the checkpoint file manager Sessions.builder ships, so every
    // checkpointing spec runs the shipped commit path
    .config(Sessions.CheckpointFileManagerConf._1, Sessions.CheckpointFileManagerConf._2)
    .appName(getClass.getSimpleName)
    .getOrCreate()

  override def afterAll(): Unit = {
    // keep the session for other suites in the same JVM
    super.afterAll()
  }
}
