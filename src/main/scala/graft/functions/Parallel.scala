package graft.functions

import java.util.concurrent.{ExecutionException, Executors}
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import scala.util.{Failure, Success, Try}

/** Run independent driver-side units of work — each one builds and
  * executes its own queries — at the same time on one session.
  *
  * graft's small-data passes are latency-bound: a chain of short AQE
  * stage jobs keeps the executors idle most of the wall time. Work items
  * that share no input or output (the warehouse tables of
  * `PublicationsPipeline.upsertWarehouse`) can fill those idle task slots
  * instead of waiting for each other.
  *
  * Each thunk runs through `SQLExecution.withThreadLocalCaptured`, so
  * every job it starts carries the caller's local properties (job group
  * and description, tracing tags) and runs under the caller's active
  * session, exactly as if the caller had started it.
  */
object Parallel {

  /** Run every thunk concurrently on a pool as wide as `thunks` and
    * return their results in input order. Waits for every thunk before
    * returning or throwing, so no job a thunk started is still running
    * when this returns. On failure it rethrows the first failure in
    * input order (unwrapped from `ExecutionException`), with the other
    * failures attached as suppressed.
    */
  def all[T](spark: SparkSession)(thunks: Seq[() => T]): Seq[T] = {
    if (thunks.isEmpty) return Nil
    val session = spark.asInstanceOf[classic.SparkSession]
    val pool = Executors.newFixedThreadPool(thunks.size, (r: Runnable) => {
      val t = new Thread(r, "graft-parallel")
      t.setDaemon(true)
      t
    })
    try {
      val futures = thunks.map(t => SQLExecution.withThreadLocalCaptured(session, pool)(t()))
      val outcomes = futures.map(f => Try(f.get()).recoverWith {
        case e: ExecutionException if e.getCause != null => Failure(e.getCause)
      })
      outcomes.collect { case Failure(e) => e } match {
        case first +: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Success(v) => v }
      }
    } finally pool.shutdown()
  }
}
