package graft.util

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

/** Execution context for overlapped independent Spark actions (guide
  * §2.6: "actions are only sequential because driver code calls them
  * sequentially"). Every future body at the overlap sites BLOCKS on a
  * Spark action (count / write), so running them on
  * `ExecutionContext.Implicits.global` — a ForkJoinPool whose
  * parallelism equals the core count — can serialize the intended
  * overlap on a small-core host, and a body that is never wrapped in
  * `blocking{}` does not grow the pool (the round-14 advice item). A
  * cached pool of daemon threads keeps job SUBMISSION independent of
  * the compute pool: threads exist only while jobs are in flight.
  * Spark's inheritable thread-local job properties (description, group,
  * scheduler pool) are copied only when a pool thread is created, so
  * they reach the submission that created the thread, and a reused
  * thread keeps that first snapshot. Set job properties inside the
  * future body if a part needs them.
  */
object Jobs {
  implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-jobs")
      t.setDaemon(true)
      t
    }))

  /** Await every future, then return their values in order, or rethrow
    * the first failure in order. A failed part therefore never leaves
    * its siblings running Spark jobs or writing scratch into whatever
    * the session runs next. */
  def awaitAll[T](futures: Seq[Future[T]]): Seq[T] =
    futures.map(f => Try(Await.result(f, Duration.Inf))).map(_.get)
}
