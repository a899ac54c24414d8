package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext

/** Overlap two INDEPENDENT job-submitting chains from driver threads
  * (optimization guide §2.6): actions are only sequential because the
  * driver calls them sequentially, so submitting two eager
  * materializations concurrently lets one chain's straggler tail
  * back-fill with the other's tasks. Results are unchanged — submission
  * order only.
  *
  * Why not `ExecutionContext.Implicits.global` (round-15 advice, low):
  * ForkJoinPool workers do not inherit the submitting thread's Spark
  * local properties, so jobs launched there escape the caller's job
  * group / scheduler pool — a harness that cancels by job group cannot
  * cancel them — and blocking Spark actions can starve the shared global
  * pool if operators ever run concurrently. This helper uses a dedicated
  * 2-thread pool per call (the chains run for seconds; two short-lived
  * threads are noise) and installs a private copy of the caller's local
  * properties on each worker before its thunk runs. */
private[graft] object Overlap {

  def both[A, B](sc: SparkContext)(fa: => A, fb: => B): (A, B) = {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // one snapshot per chain, taken on the caller's thread: a shared
    // instance would let one chain's setLocalProperty reach the other
    def run[T](f: => T): Future[T] = {
      val props = org.apache.spark.sql.graft.Bridge.cloneLocalProperties(sc)
      Future {
        org.apache.spark.sql.graft.Bridge.installLocalProperties(sc, props)
        f
      }
    }
    try {
      val af = run(fa)
      val bf = run(fb)
      (Await.result(af, Duration.Inf), Await.result(bf, Duration.Inf))
    } finally {
      pool.shutdown(); ()
    }
  }
}
