package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** The one home for overlapped Spark actions and scratch-parquet cuts.
  *
  * Independent actions are only sequential because driver code calls
  * them sequentially (guide §2.6), so a query overlaps them as parts of
  * a [[Jobs.scope]]. Each part runs on its own thread and its label is
  * the Spark job description of every job it submits; the description
  * is set inside the part, so it never depends on which thread-local
  * properties a reused pool thread inherited when it was created.
  *
  * The drain rule: when a scope exits, on success or on any throw from
  * its body or from a part, it first awaits every part it started, so
  * no abandoned part keeps running jobs or writing scratch into
  * whatever the session runs next. It then rethrows the first failure
  * unwrapped: the body's own throw if it threw (awaiting a failed part
  * rethrows that part's exception), else the first failed part in
  * submission order.
  *
  * Every part body blocks on a Spark action, so parts run on a cached
  * pool of daemon threads rather than the core-sized global pool, which
  * could serialize the overlap on a small-core host: threads exist only
  * while jobs are in flight.
  */
object Jobs {
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-jobs")
      t.setDaemon(true)
      t
    }))

  private val Description = "spark.job.description"

  /** A submitted part; [[get]] waits for it and rethrows its failure
    * unwrapped. */
  final class Part[T] private[Jobs] (f: Future[T]) {
    def get: T = Await.result(f, Duration.Inf)
  }

  final class Scope private[Jobs] (spark: SparkSession) {
    private[Jobs] val started = mutable.ArrayBuffer.empty[Future[_]]

    /** Submit `body` now, on its own thread, with `label` as the job
      * description of the jobs it runs. Pool threads run nothing but
      * parts and each part sets its label first, so a label left on a
      * reused thread is never seen and is not reset. */
    def part[T](label: String)(body: => T): Part[T] = {
      val sc = spark.sparkContext
      val f = Future {
        sc.setLocalProperty(Description, label)
        body
      }
      started.synchronized { started += f }
      new Part(f)
    }

    /** A part that [[Jobs.cut]]s `df` under `label`. */
    def cut(label: String)(df: => DataFrame): Part[DataFrame] =
      part(label)(Jobs.cut(df, label))
  }

  /** Run `body` with a scope for its parts; see the drain rule above. */
  def scope[T](spark: SparkSession)(body: Scope => T): T = {
    val j = new Scope(spark)
    val out = Try(body(j))
    val parts = j.started.synchronized(j.started.toList)
      .map(f => Try(Await.result(f, Duration.Inf)))
    out.failed.foreach(e => throw e)
    parts.collectFirst { case Failure(e) => throw e }
    out.get
  }

  /** Lineage hard-cut: write `df` to a fresh scratch parquet dir whose
    * name starts with `label` and return a flat scan of it. Plans and
    * values downstream are the parquet round trip's, exact for the
    * BIGINT/DOUBLE/VARCHAR/array columns cut here. `beforeRead` runs
    * between the write and the read (releasing a cache or table the
    * written frame no longer needs). The dir outlives the call, since
    * the returned frame reads it lazily; [[Scratch]] removes it at JVM
    * exit.
    */
  def cut(df: DataFrame, label: String, beforeRead: => Unit = ()): DataFrame = {
    val out = Scratch.dir(label)
    df.write.mode("overwrite").parquet(out)
    beforeRead
    df.sparkSession.read.parquet(out)
  }

  /** Measured hits of ANN serves against an exact top-5 table, whose
    * first key column is the query id. */
  final case class Recall(nq: Long, hits: Seq[Long]) {
    /** hits / (5 · nq) per serve. */
    def rates: Seq[Double] = hits.map(_.toDouble / (5.0 * nq))
  }

  /** Submit the query count `exact.select(keys.head).distinct().count()`,
    * then, in order, build each serve on the calling thread and submit
    * its hit count `exact.join(serve, keys).count()`; await them all in
    * one scope. With `countFirst` the query count runs on the calling
    * thread before any hit count is submitted (for an `exact` persisted
    * just before the call, so the count populates it once).
    */
  def recall(label: String, exact: DataFrame,
      keys: Seq[String] = Seq("qid", "cid"),
      countFirst: Boolean = false)(serves: (() => DataFrame)*): Recall =
    scope(exact.sparkSession) { j =>
      def nqCount(): Long = exact.select(keys.head).distinct().count()
      val nq: () => Long =
        if (countFirst) { val n = nqCount(); () => n }
        else { val p = j.part(s"${label}_nq")(nqCount()); () => p.get }
      val hits = serves.zipWithIndex.map { case (serve, i) =>
        val ann = serve()
        j.part(s"${label}_hits$i")(
          exact.join(ann.select(keys.map(col): _*), keys).count())
      }
      Recall(nq(), hits.map(_.get))
    }
}
