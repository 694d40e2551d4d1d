package graft.ops

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Shared driver-side executor for OVERLAPPING INDEPENDENT Spark jobs
  * (spark_optimization_guide §2.6 — "actions are only sequential
  * because your driver code calls them sequentially"). The index
  * lifecycle operators stage several independent per-family rewrites
  * per batch; running them serially leaves the cluster idle between
  * tiny jobs (measured ~5% CPU on the per-batch path at sf0.1). A
  * handful of daemon threads is enough — each thread just blocks on
  * one Spark action; Spark's scheduler (FIFO) interleaves the jobs'
  * tasks across the executor cores.
  *
  * The index families fork only through [[graft.dedup.IndexTxn]],
  * which owns the commit-safety rules (disjoint staged directories,
  * every future quiesced before a failure leaves the batch). */
object Exec {
  private val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-stage")
    t.setDaemon(true)
    t
  })

  implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  /** Launch `f` on the shared pool. */
  def fork[A](f: => A): Future[A] = Future(f)(ec)

  /** Block for a forked result (staging latencies are seconds). */
  def await[A](fut: Future[A]): A = Await.result(fut, Duration.Inf)

  /** Best-effort barrier for the exception path: wait for the future
    * to finish (success OR failure, result discarded) so a throw
    * cannot leave a staging write racing its replay. */
  def quiesce(fut: Future[_]): Unit = {
    Await.ready(fut, Duration.Inf)
    ()
  }
}
