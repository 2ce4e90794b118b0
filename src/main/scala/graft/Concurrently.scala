package graft

import java.util.UUID
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicReference

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution

/** Runs independent Spark actions at the same time, one pool thread
  * each.
  *
  * Each thread carries the caller's Spark local properties (job group,
  * job description, scheduler pool, job tags) and active session, so
  * the jobs it starts are attributed, and cancellable, exactly as if
  * the caller had run them. The pool lives for one call: a long-lived
  * pool's threads would keep the local properties of whichever thread
  * created them. When an action fails, the jobs the others are running
  * are cancelled; the call returns or throws only once every action has
  * finished, so no job outlives it. */
object Concurrently {

  /** Runs the actions and returns their results in order; the first
    * failure is rethrown once every action has ended. */
  def apply[T](spark: SparkSession)(actions: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-concurrently-${UUID.randomUUID()}"
    val failure = new AtomicReference[Throwable]()
    val pool = Executors.newFixedThreadPool(actions.size)
    try {
      val runs = actions.map { action =>
        SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[ClassicSession], pool) {
          sc.addJobTag(tag)
          try action()
          catch {
            case e: Throwable =>
              if (failure.compareAndSet(null, e))
                sc.cancelJobsWithTag(tag, "a concurrent action failed")
              throw e
          }
        }
      }
      runs.foreach(r => Try(r.join()))
      Option(failure.get).foreach(e => throw e)
      runs.map(_.join())
    } finally pool.shutdown()
  }
}
