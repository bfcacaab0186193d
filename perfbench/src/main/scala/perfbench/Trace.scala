package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters read from outside the program: Spark's scheduler,
  * query-execution and streaming listeners, JMX, Spark's codegen timer
  * and a listing of the run's `java.io.tmpdir`. Only a traced run
  * installs it; the timed runs carry none of its overhead.
  *
  * Every counter is cumulative; [[snapshot]] reads them all at once and
  * the harness attributes the difference of two snapshots to whatever
  * ran between them. */
final class Trace(spark: SparkSession) {
  private val jobs, stages, tasks, runMs, cpuNs = new AtomicLong
  private val shuffleRead, shuffleWrite, spill = new AtomicLong
  private val running = new AtomicLong
  private val maxRunning = new AtomicLong
  private val analysis, optimization, planning = new DoubleAdder
  private val batches, rowsIn = new AtomicLong
  private val triggerMs, addBatchMs = new AtomicLong

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val now = running.incrementAndGet()
      maxRunning.accumulateAndGet(now, math.max)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      running.decrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def add(k: String, a: DoubleAdder): Unit =
        p.get(k).foreach(s => a.add(s.durationMs / 1000.0))
      add("analysis", analysis)
      add("optimization", optimization)
      add("planning", planning)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.incrementAndGet()
      rowsIn.addAndGet(p.numInputRows)
      val d = p.durationMs
      triggerMs.addAndGet(Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L))
      addBatchMs.addAndGet(Option(d.get("addBatch")).map(_.longValue).getOrElse(0L))
    }
  })

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  /** Drains the listener bus, then reads every counter. */
  def snapshot(): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val (artifacts, artifactBytes) = Trace.artifacts(tmp)
    Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.task_run_s" -> runMs.get / 1e3,
      "spark.task_cpu_s" -> cpuNs.get / 1e9,
      "spark.shuffle_read_mb" -> shuffleRead.get / 1048576.0,
      "spark.shuffle_write_mb" -> shuffleWrite.get / 1048576.0,
      "spark.spill_mb" -> spill.get / 1048576.0,
      "catalyst.analysis_s" -> analysis.sum,
      "catalyst.optimization_s" -> optimization.sum,
      "catalyst.planning_s" -> planning.sum,
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
      "jvm.jit_s" -> jitMs / 1e3,
      "jvm.gc_s" -> gcMs / 1e3,
      "artifact.builds" -> artifacts.toDouble,
      "artifact.mb" -> artifactBytes / 1048576.0,
      "scratch.mb" -> Trace.bytes(tmp) / 1048576.0,
      "streaming.batches" -> batches.get.toDouble,
      "streaming.rows_in" -> rowsIn.get.toDouble,
      "streaming.trigger_s" -> triggerMs.get / 1e3,
      "streaming.addbatch_s" -> addBatchMs.get / 1e3)
  }

  /** Most Spark jobs running at once since the last call. */
  def takeMaxConcurrent(): Long = maxRunning.getAndSet(running.get)

  /** Sum of the heap pools' peak use: an upper bound on the heap peak. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Trace {
  /** Every `graft.util.FixtureArtifact` build lands in a fresh
    * `artifact_<label>*` directory of the tmpdir: count them and their
    * bytes. */
  def artifacts(tmp: Path): (Int, Long) = {
    val dirs = list(tmp).filter(p =>
      Files.isDirectory(p) && p.getFileName.toString.startsWith("artifact_"))
    (dirs.size, dirs.map(bytes).sum)
  }

  def bytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => try Files.size(p) catch { case _: java.io.IOException => 0L })
        .sum
      catch { case _: java.io.UncheckedIOException => 0L } // a dir vanished mid-walk
      finally s.close()
    }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }
}
