package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-side fan-out for independent per-table Spark work (merges,
  * summary checkpoints, staging writes): each table's planning and job
  * run from their own thread, so store-sized jobs that cannot fill the
  * cluster alone overlap. */
private[graft] object Parallel {

  /** Generous FINITE bound on the wait: imports measured in hours still
    * fit, while a wedged job surfaces as a timeout instead of blocking the
    * driver indefinitely. */
  private val Timeout = Duration(4, "hours")

  /** `f` over `xs` from up to 16 driver threads, results in input order.
    * The first failure is rethrown; the pool's shutdownNow drops queued
    * siblings (Spark jobs already running finish and are ignored). */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, math.min(xs.size, 16)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), Timeout)
    finally pool.shutdownNow()
  }
}
