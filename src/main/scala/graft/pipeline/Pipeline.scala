package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Builder-semantics orchestration layer (SURVEY.md §1.1/§2.1): the
  * reference is a dependency-graph batch-pipeline framework ("make for
  * data") — jobs declare targets and dependencies, a build graph is
  * expanded over a time range, and stale jobs run in topological order.
  *
  * Spark-native re-expression: a job is a DataFrame transformation from
  * named parquet inputs to one parquet target; Spark's own DAG handles
  * intra-job parallelism, this runner handles the cross-job graph:
  * topo order, content-fingerprint staleness (skip when every dep's
  * file listing matches what the target was built from — builder's
  * mtime rule de-clocked; see [[PipelineRunner.isStale]]), and
  * cache_time debounce.
  */
final case class PipelineJob(
    name: String,
    /** target path (parquet dir), relative to the pipeline root */
    target: String,
    /** input target names this job consumes (edges of the rule graph) */
    deps: Seq[String],
    /** don't rerun within this many ms even if stale (builder cache_time) */
    cacheTimeMs: Long = 0L)(
    val run: (SparkSession, Map[String, DataFrame]) => DataFrame)

final case class PipelineResult(ran: Seq[String], skipped: Seq[String])

/** A templated job instantiated once per time bucket — builder's
  * unexpanded Job + TimestampExpander pair (SURVEY.md §2.1 B2). `%dt`
  * in `target` and `deps` is substituted with the concrete bucket, and
  * the transformation receives the bucket it is building.
  */
final case class TimedJobTemplate(
    name: String,
    target: String, // contains "%dt"
    deps: Seq[String], // each may contain "%dt"
    cacheTimeMs: Long = 0L)(
    val run: (SparkSession, Map[String, DataFrame], String) => DataFrame)

/** Builder's expansion step: template × bucket list → concrete
  * instantiated jobs (the reference encodes buckets in file names; here
  * they land in target directory names the same way).
  */
object TimeExpansion {
  def expand(t: TimedJobTemplate, buckets: Seq[String]): Seq[PipelineJob] = {
    // a template without the placeholder would mint N jobs with ONE
    // target — topo-sort would then collapse them and run a single
    // bucket's lambda N times, silently. Refuse instead.
    require(t.target.contains("%dt"),
      s"template '${t.name}' target '${t.target}' has no %dt placeholder")
    buckets.map { dt =>
      PipelineJob(s"${t.name}@$dt", t.target.replace("%dt", dt),
        t.deps.map(_.replace("%dt", dt)), t.cacheTimeMs)(
        (s, ins) => t.run(s, ins, dt))
    }
  }

  def expandAll(ts: Seq[TimedJobTemplate],
      buckets: Seq[String]): Seq[PipelineJob] =
    ts.flatMap(expand(_, buckets))

  /** Builder's curfew rule: a time bucket is only buildable once its
    * window has CLOSED and a grace lag has passed (building the
    * in-flight hour would materialize a partial, forever-stale
    * artifact). `bucketEndMs` maps a bucket label to its end-of-window
    * epoch; buckets with end + curfew > now are excluded from
    * expansion entirely — they don't exist in the build graph yet.
    */
  def expandClosed(
      t: TimedJobTemplate,
      buckets: Seq[String],
      bucketEndMs: String => Long,
      curfewMs: Long,
      nowMs: Long): Seq[PipelineJob] =
    expand(t, buckets.filter(b => bucketEndMs(b) + curfewMs <= nowMs))
}

/** Builder's `depends_one_or_more` (SURVEY.md §2.1 B4): a job that can
  * run when at least one of its expanded inputs exists consumes
  * whichever exist. Spark-native: filter to existing paths, read the
  * union with `ignoreMissingFiles` guarding races.
  */
object AvailableInputs {
  def readAvailable(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      paths: Seq[String]): DataFrame = {
    val existing = paths.filter(p => Files.exists(Paths.get(p)))
    require(existing.nonEmpty, s"no inputs exist among: ${paths.mkString(", ")}")
    spark.read.schema(schema)
      .option("ignoreMissingFiles", "true")
      .parquet(existing: _*)
  }
}

class PipelineRunner(spark: SparkSession, root: String) {

  private def targetPath(j: PipelineJob) = s"$root/${j.target}"

  private def mtime(path: String): Option[Long] = {
    val p = Paths.get(path, "_SUCCESS")
    if (Files.exists(p)) Some(Files.getLastModifiedTime(p).toMillis) else None
  }

  /** Content fingerprint of a committed target dir: MD5 over the sorted
    * (relative path, size, mtimeMillis) listing of its DATA files — a
    * RECURSIVE walk, so partition-layout deps (`dt=.../part-*.parquet`)
    * fingerprint their leaves, not just the top-level subdir names (a
    * top-level-only listing would miss an append landing inside an
    * existing partition subdir). Markers and hidden files excluded at
    * every level. Per-FILE mtimes participate in the HASH (an in-place
    * same-name same-size rewrite must still change the fingerprint);
    * what stays clock-free is the cross-file comparison — no dep-newer-
    * than-target ordering exists to race, so write granularity cannot
    * produce a missed rebuild the way the old max-mtime rule could.
    * None until the dir is committed (`_SUCCESS` present), mirroring
    * the mtime rule.
    */
  private def fingerprint(path: String): Option[String] = {
    val dir = Paths.get(path)
    if (!Files.exists(dir.resolve("_SUCCESS"))) None
    else {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(dir)
      try {
        val entries = walk.iterator().asScala
          .filter(p => Files.isRegularFile(p))
          .map(p => dir.relativize(p))
          .filterNot(rel => rel.iterator().asScala.exists { seg =>
            val n = seg.toString; n.startsWith("_") || n.startsWith(".")
          })
          .map { rel =>
            val p = dir.resolve(rel)
            s"$rel:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
          }
          .toSeq.sorted
        val md = java.security.MessageDigest.getInstance("MD5")
        Some(md.digest(entries.mkString("\n").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
      } finally walk.close()
    }
  }

  /** Dep fingerprints recorded at build time, one `dep\tfp` line per
    * committed dep, in the target's `_GRAFT_DEPS` marker. A marker
    * that fails to parse (e.g. a torn partial line from a crash during
    * a non-atomic write by an older build) reads as NO marker — the
    * job falls back to the mtime rule and rebuilds conservatively,
    * instead of wedging every subsequent run on a MatchError. */
  private def readDepFingerprints(tp: String): Option[Map[String, String]] = {
    val p = Paths.get(tp, "_GRAFT_DEPS")
    if (!Files.exists(p)) None
    else {
      val parsed = new String(Files.readAllBytes(p), "UTF-8").split("\n")
        .filter(_.nonEmpty).map(_.split("\t", 2))
      if (parsed.exists(_.length != 2)) None
      else Some(parsed.map(a => a(0) -> a(1)).toMap)
    }
  }

  /** Run one job and commit the dep-fingerprint marker — written to a
    * temp file and ATOMIC_MOVEd, so a crash mid-write can never leave
    * a torn marker (and a write that never reaches the marker leaves
    * the target on the mtime fallback: never silently fresh against
    * stale deps). */
  private def execute(job: PipelineJob): Unit = {
    val inputs = job.deps.map(d => d -> spark.read.parquet(s"$root/$d")).toMap
    job.run(spark, inputs).write.mode("overwrite").parquet(targetPath(job))
    val lines = job.deps.flatMap(d =>
      fingerprint(s"$root/$d").map(f => s"$d\t$f"))
    val tmp = Paths.get(targetPath(job), "._GRAFT_DEPS.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, Paths.get(targetPath(job), "_GRAFT_DEPS"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** One job per target — duplicates would be silently collapsed by
    * the target-keyed maps below (some jobs never running).
    */
  private def indexByTarget(
      jobs: Seq[PipelineJob]): Map[String, PipelineJob] = {
    val dup = jobs.groupBy(_.target).collect { case (t, js) if js.size > 1 => t }
    require(dup.isEmpty, s"duplicate job targets: ${dup.mkString(", ")}")
    jobs.map(j => j.target -> j).toMap
  }

  /** Each job's in-degree: its DISTINCT deps that some job produces —
    * a dep named twice is one edge, released once. */
  private def inDegrees(jobs: Seq[PipelineJob],
      byTarget: Map[String, PipelineJob]): collection.mutable.Map[String, Int] =
    collection.mutable.Map(jobs.map(j =>
      j.target -> j.deps.distinct.count(byTarget.contains)): _*)

  /** Target → the jobs that consume it, each once, in `jobs` order —
    * built once per graph, so a completion releases its consumers
    * without rescanning every job. */
  private def consumersOf(
      jobs: Seq[PipelineJob]): Map[String, Seq[PipelineJob]] =
    jobs.flatMap(j => j.deps.distinct.map(_ -> j))
      .groupBy(_._1).map { case (t, cs) => t -> cs.map(_._2) }

  /** Topological order via Kahn's algorithm; cycles are an error. */
  def topoSort(jobs: Seq[PipelineJob]): Seq[PipelineJob] = {
    val byTarget = indexByTarget(jobs)
    val consumers = consumersOf(jobs)
    val indeg = inDegrees(jobs, byTarget)
    val ready = collection.mutable.Queue(
      jobs.filter(j => indeg(j.target) == 0).map(_.target).sorted: _*)
    val out = collection.mutable.ArrayBuffer[PipelineJob]()
    while (ready.nonEmpty) {
      val t = ready.dequeue()
      out += byTarget(t)
      consumers.getOrElse(t, Nil).foreach { d =>
        indeg(d.target) -= 1
        if (indeg(d.target) == 0) ready.enqueue(d.target)
      }
    }
    require(out.size == jobs.size, "pipeline graph has a cycle")
    out.toSeq
  }

  /** Builder staleness rule, de-clocked: run iff target missing, or any
    * committed dep's CONTENT fingerprint differs from the one recorded
    * when the target was last built. No cross-file clock ORDERING in
    * the decision — a touch of a dep's `_SUCCESS`/marker files does NOT
    * rebuild (use [[runForced]] to invalidate), and a dep whose data
    * files changed ALWAYS rebuilds, however fast the change landed (the
    * old max-mtime-vs-target rule missed both hand-landed files and
    * sub-granularity updates; per-file mtimes DO participate in the
    * fingerprint hash so an in-place same-size rewrite is caught).
    * Targets built before fingerprints existed (no or unparseable
    * `_GRAFT_DEPS` marker) fall back to the builder mtime rule;
    * cache_time keeps its wall-clock contract (debounce is inherently
    * a time rule).
    */
  def isStale(job: PipelineJob, now: Long): Boolean = {
    val tp = targetPath(job)
    mtime(tp) match {
      case None => true
      case Some(tm) =>
        if (job.cacheTimeMs > 0 && now - tm < job.cacheTimeMs) false
        else readDepFingerprints(tp) match {
          case Some(rec) =>
            job.deps.flatMap(d => fingerprint(s"$root/$d").map(d -> _))
              .exists { case (d, f) => !rec.get(d).contains(f) }
          case None =>
            val depTimes = job.deps.flatMap(d => mtime(s"$root/$d"))
            depTimes.nonEmpty && depTimes.max > tm
        }
    }
  }

  /** The one run decision of [[runForced]] and [[runParallel]]: run iff
    * the target is in the forced `dirty` set, is stale ([[isStale]]),
    * or a dep target ran earlier in this build. */
  private def mustRun(job: PipelineJob, now: Long, dirty: Set[String],
      ranTargets: collection.Set[String]): Boolean =
    dirty(job.target) || isStale(job, now) ||
      job.deps.exists(ranTargets.contains)

  /** Builder's ExecutionManager run loop (SURVEY.md §2.1 B8):
    * event-driven parallel execution — every job whose parents are done
    * runs concurrently on a bounded pool, completion releases
    * downstream jobs, and failures retry up to `maxRetries` before
    * aborting the build. Spark sessions are thread-safe; concurrent
    * jobs become concurrent Spark jobs sharing the cluster (use
    * scheduler pools for fairness at scale). Runs and skips by
    * [[mustRun]] with no forced set, as [[run]] does. Ready jobs wait
    * in the loop's own FIFO queue and are handed to the pool only while
    * fewer than `parallelism` run, so an aborted build drains: no
    * further job starts, the running ones finish writing their
    * targets, and then the first failure is rethrown.
    */
  def runParallel(
      jobs: Seq[PipelineJob],
      parallelism: Int = 4,
      maxRetries: Int = 0): PipelineResult = {
    topoSort(jobs) // validates the DAG up front
    val now = System.currentTimeMillis()
    val consumers = consumersOf(jobs)
    val indeg = inDegrees(jobs, indexByTarget(jobs))
    val ran = collection.mutable.ArrayBuffer[String]()
    val ranTargets = collection.mutable.Set[String]()
    val skipped = collection.mutable.ArrayBuffer[String]()

    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    val done = new java.util.concurrent.ExecutorCompletionService[
      (PipelineJob, Boolean)](pool)
    val ready = collection.mutable.Queue[PipelineJob]()
    var inFlight = 0
    var failure: Option[Throwable] = None
    try {
      def start(job: PipelineJob): Unit = {
        // decision made after all parents completed -> ranTargets stable
        val stale = mustRun(job, now, Set.empty, ranTargets)
        inFlight += 1
        done.submit(() => {
          if (stale) {
            var attempt = 0
            var ok = false
            while (!ok) {
              try {
                execute(job)
                ok = true
              } catch {
                case e: Throwable if attempt < maxRetries => attempt += 1
              }
            }
          }
          (job, stale)
        })
      }

      def startReady(): Unit =
        while (failure.isEmpty && inFlight < parallelism && ready.nonEmpty)
          start(ready.dequeue())

      ready ++= jobs.filter(j => indeg(j.target) == 0)
      startReady()
      while (inFlight > 0) {
        val next = done.take()
        inFlight -= 1
        try {
          val (job, wasStale) = next.get()
          if (wasStale) { ran += job.name; ranTargets += job.target }
          else skipped += job.name
          if (failure.isEmpty)
            consumers.getOrElse(job.target, Nil).foreach { d =>
              indeg(d.target) -= 1
              if (indeg(d.target) == 0) ready += d
            }
        } catch {
          case e: java.util.concurrent.ExecutionException =>
            if (failure.isEmpty) failure = Some(e.getCause)
        }
        startReady()
      }
    } finally pool.shutdown()
    failure.foreach(e => throw e)
    PipelineResult(ran.toSeq, skipped.toSeq)
  }

  /** Builder's build request (SURVEY.md §2.1 B7): restrict the graph
    * to the transitive producers of `target`, inclusive — asking for
    * one target instantiates and runs only its ancestor chain, not the
    * whole build graph.
    */
  def ancestorsOf(jobs: Seq[PipelineJob],
      target: String): Seq[PipelineJob] = {
    val byTarget = indexByTarget(jobs)
    // a missing target must be an error, not a successful empty build
    // (a typo'd bucket would otherwise "backfill" nothing, silently)
    require(byTarget.contains(target),
      s"no job produces requested target '$target'")
    // explicit worklist: recursion would overflow on long chained-
    // bucket ancestries (hour-over-hour deps across a year of buckets)
    val need = collection.mutable.Set[String]()
    val work = collection.mutable.Stack(target)
    while (work.nonEmpty) {
      val t = work.pop()
      byTarget.get(t).foreach { j =>
        if (need.add(t)) j.deps.foreach(work.push)
      }
    }
    jobs.filter(j => need(j.target))
  }

  /** Ask for one target (optionally a backfill: expand templates over
    * the requested buckets first, then request each bucket's target):
    * runs only the ancestor chain, topo-ordered, staleness rules as
    * [[run]].
    */
  def buildRequest(jobs: Seq[PipelineJob],
      target: String): PipelineResult =
    run(ancestorsOf(jobs, target))

  /** Transitive CONSUMERS of any of `targets`, inclusive — the dual of
    * [[ancestorsOf]], used by forced invalidation.
    */
  def descendantsOf(jobs: Seq[PipelineJob],
      targets: Set[String]): Set[String] = {
    targets.foreach(t => require(indexByTarget(jobs).contains(t),
      s"no job produces invalidated target '$t'"))
    val dirty = collection.mutable.Set[String]() ++ targets
    var grew = true
    while (grew) {
      grew = false
      jobs.foreach { j =>
        if (!dirty(j.target) && j.deps.exists(dirty)) {
          dirty += j.target; grew = true
        }
      }
    }
    dirty.toSet
  }

  /** Builder's force/--invalidate semantics: the named targets and
    * every transitive consumer rebuild REGARDLESS of mtime freshness
    * (cache_time included); everything else keeps normal staleness
    * rules. The dirty set is computed up front on the rule graph, not
    * discovered during the walk, so a fresh-but-dirty job in the middle
    * of the chain cannot short-circuit propagation.
    */
  def runForced(jobs: Seq[PipelineJob],
      force: Set[String]): PipelineResult = {
    val dirty = descendantsOf(jobs, force)
    val now = System.currentTimeMillis()
    val ran = collection.mutable.ArrayBuffer[String]()
    val ranTargets = collection.mutable.Set[String]()
    val skipped = collection.mutable.ArrayBuffer[String]()
    topoSort(jobs).foreach { job =>
      if (mustRun(job, now, dirty, ranTargets)) {
        execute(job)
        ran += job.name
        ranTargets += job.target
      } else skipped += job.name
    }
    PipelineResult(ran.toSeq, skipped.toSeq)
  }

  /** Run the graph: topo order, skipping fresh jobs; inputs are handed
    * to each job as DataFrames read from dep targets. A job is also
    * stale transitively if a dep target just re-ran.
    */
  def run(jobs: Seq[PipelineJob]): PipelineResult =
    runForced(jobs, Set.empty)
}
