package graft.lake

import java.util.concurrent.{SynchronousQueue, ThreadPoolExecutor, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, FiniteDuration}

/** The driver's ONE thread pool: metadata fan-out (tree walks, footer
  * reads, fragment sizing) and OVERLAPPED independent Spark actions
  * (guide §2.6: submitting independent jobs from two driver threads lets
  * one job's tasks back-fill executors freed by the other's tail).
  * Overlapped operations must share no mutable state beyond the
  * engine's concurrent-safe memos.
  *
  * At most 16 daemon threads, idle ones retire. The hand-off queue with
  * CALLER-RUNS on saturation keeps nesting deadlock-free: an overlapped
  * action fans its metadata reads out on this same pool and waits for
  * them, so with a queueing pool 16 such actions could each wait on
  * tasks parked in the queue. Here every submitted task is either
  * running on a pool thread or runs inline on the submitter.
  */
private[graft] object Overlap {

  implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(
    new ThreadPoolExecutor(0, 16, 60L, TimeUnit.SECONDS,
      new SynchronousQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "graft-meta"); t.setDaemon(true); t },
      new ThreadPoolExecutor.CallerRunsPolicy()))

  /** Await every future (so no action is left running behind the
    * caller), then rethrow the FIRST failure if any. A finite `bound`
    * caps the whole wait and throws TimeoutException past it. Each
    * future is awaited directly: `Future.traverse`'s continuation chain
    * would, under caller-runs, unwind inline on one stack. */
  def all[T](futs: Seq[Future[T]], bound: Duration = Duration.Inf): Seq[T] = {
    val deadline = bound match {
      case f: FiniteDuration => Some(f.fromNow)
      case _ => None
    }
    futs.foreach(f => Await.ready(f, deadline.fold(bound)(_.timeLeft)))
    futs.map(_.value.get.get)
  }
}
