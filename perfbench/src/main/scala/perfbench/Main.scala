package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.sources.{Events, Tables}

/** One benchmark JVM. `run.py` starts it with plain `java` on a
  * prebuilt classpath, reads the `<mode>.json` it writes, and checks
  * the outputs it leaves in `<out>/results` and `<out>/pipeline`.
  *
  * Modes:
  *   setup  start the session, register the inputs, record the time, exit
  *   run    setup, then one cold pass and warm passes over the workload
  *          until `seconds` have been measured
  *
  * A pass is the workload's operations in a seed-chosen order: catalog
  * queries (the query function, then a parquet write of its frame), or
  * one run of the backfill build graph. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(opt("out"))
    val data = opt("data")
    val cores = opt("cores").toInt
    val workload = opt("workload")
    val seed = opt("seed").toLong

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", opt("local"))
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUp = System.currentTimeMillis()
    Tables.names.foreach(Tables.load(spark, data, _))
    Events.load(spark, data)
    val inputsUp = System.currentTimeMillis()
    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (inputsUp - jvmStart) / 1e3,
      "setup.session_s" -> (sessionUp - jvmStart) / 1e3,
      "setup.inputs_s" -> (inputsUp - sessionUp) / 1e3)

    if (opt("mode") == "run") {
      val trace = if (opt("trace") == "1") Some(new Trace(spark)) else None
      val records = Files.newBufferedWriter(Paths.get(opt("records")), UTF_8,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      val bench = new Passes(spark, trace, opt("seconds").toDouble, records,
        s"""{"workload":"$workload","seed":$seed""")
      try {
        if (workload == "builder-backfill")
          bench.backfill(new Backfill(spark, data, out.resolve("pipeline").toString,
            seed, cores), result)
        else bench.catalog(Workloads.order(Workloads.members(workload), seed),
          data, out, result)
        bench.finish(result)
      } finally records.close()
    }
    Files.writeString(out.resolve(s"${opt("mode")}.json"), Json(result))
    // The JSON is the launch's last word. Skip the orderly stop: its cost
    // is part of no metric, and run.py deletes the directories that the
    // shutdown hooks would clean.
    Runtime.getRuntime.halt(0)
  }
}

/** The timed loop shared by the workloads. */
final class Passes(spark: SparkSession, trace: Option[Trace], seconds: Double,
    records: java.io.Writer, recordHead: String) {
  private val fns = SparkEntry.queries
  private var attempted, failed = 0
  private val layers = mutable.ArrayBuffer[(String, Map[String, Double])]()

  private def now(): Long = System.nanoTime()
  private def secs(a: Long, b: Long): Double = (b - a) / 1e9

  private def record(pass: String, op: String, fields: Seq[(String, Any)]): Unit = {
    records.write(recordHead + s""","pass":"$pass","op":"$op",""" +
      Json(fields).stripPrefix("{") + "\n")
  }

  /** Runs `op` once, counting it; a failure is reported, not thrown. */
  private def attempt(name: String)(op: => Unit): Boolean = {
    attempted += 1
    try { op; true }
    catch { case e: Throwable =>
      failed += 1
      System.err.println(s"[perfbench] $name failed: $e")
      false
    }
  }

  /** Times one pass; with tracing on, also takes the layer deltas of the
    * pass and of each operation (the snapshots sit outside the timing). */
  private def pass(label: String, ops: Seq[(String, () => Seq[(String, Double)])]): Double = {
    val before = trace.map { t => t.takeMaxConcurrent(); t.snapshot() }
    var total = 0.0
    val splits = mutable.Map[String, Double]().withDefaultValue(0.0)
    ops.foreach { case (name, op) =>
      val s0 = trace.map(_.snapshot())
      var split = Seq.empty[(String, Double)]
      val t0 = now()
      val ok = attempt(name) { split = op() }
      val t = secs(t0, now())
      total += t
      split.foreach { case (k, v) => splits(k) += v }
      val deltas = (s0, trace) match {
        case (Some(a), Some(tr)) => add(diff(a, tr.snapshot()), split)
        case _ => split
      }
      record(label, name, Seq("ok" -> ok, "wall_s" -> t) ++ deltas.toSeq.sortBy(_._1))
      records.flush()
    }
    for (a <- before; t <- trace) {
      val d = add(diff(a, t.snapshot()), splits) ++ Map(
        "wall_s" -> total,
        "spark.jobs_concurrent_max" -> t.takeMaxConcurrent().toDouble,
        "jvm.heap_peak_mb" -> t.heapPeakMb())
      layers += label -> d
    }
    total
  }

  private def diff(a: Map[String, Double], b: Map[String, Double]) =
    b.map { case (k, v) => k -> (v - a(k)) }

  private def add(a: Map[String, Double], b: Iterable[(String, Double)]) =
    b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0.0) + v) }

  /** Cold pass, then warm passes in whole rounds until `seconds` of
    * measured time have passed (at least one; at most `maxWarm`). */
  private def timed(ops: Int => Seq[(String, () => Seq[(String, Double)])],
      maxWarm: Int, result: mutable.Map[String, Any]): Unit = {
    val cold = pass("cold", ops(0))
    val warm = mutable.ArrayBuffer[Double]()
    var measured = cold
    while (warm.size < maxWarm && (warm.isEmpty || measured < seconds)) {
      val w = pass(s"warm${warm.size + 1}", ops(warm.size + 1))
      warm += w
      measured += w
    }
    result ++= Seq("cold_s" -> cold, "warm_passes_s" -> warm.toSeq)
  }

  /** Operation counts and, when traced, the layer deltas of every pass. */
  def finish(result: mutable.Map[String, Any]): Unit = {
    result ++= Seq("attempted" -> attempted, "failed" -> failed)
    if (trace.isDefined) result += "layers" -> layers.toSeq
  }

  /** The action writes each query's result as parquet, as a builder job
    * writes its target; the last pass's results are what the checks read. */
  def catalog(names: Seq[String], data: String, out: java.nio.file.Path,
      result: mutable.Map[String, Any]): Unit = {
    def query(n: String): () => Seq[(String, Double)] = () => {
      val t0 = now()
      val df = fns(n)(spark, data)
      val t1 = now()
      try df.write.mode("overwrite").parquet(out.resolve(s"results/$n").toString)
      finally spark.catalog.clearCache()
      val t2 = now()
      // The frame was analyzed when the query function built it; listeners
      // only see the write command's own, already-analyzed plan.
      val analysis = if (trace.isEmpty) Nil
        else df.queryExecution.tracker.phases.get("analysis")
          .map(p => "catalyst.analysis_s" -> p.durationMs / 1e3).toSeq
      Seq("queries.fn_s" -> secs(t0, t1), "queries.action_s" -> secs(t1, t2)) ++ analysis
    }
    timed(_ => names.map(n => n -> query(n)), Int.MaxValue, result)
    result ++= Seq("queries" -> names,
      "oracle" -> SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
  }

  def backfill(bf: Backfill, result: mutable.Map[String, Any]): Unit = {
    (1 to Workloads.backfilledDays).foreach(_ => bf.land()) // untimed
    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    def build(label: String): Seq[(String, Double)] = {
      val t0 = now()
      val jobs = bf.expand()
      val t1 = now()
      val r = bf.run(jobs)
      runs += Map("pass" -> label, "landed" -> bf.landedDays.map(_.toString),
        "ran" -> r.ran.sorted, "skipped" -> r.skipped.sorted)
      Seq("pipeline.expand_s" -> secs(t0, t1), "pipeline.run_s" -> secs(t1, now()),
        "pipeline.jobs_ran" -> r.ran.size.toDouble,
        "pipeline.jobs_skipped" -> r.skipped.size.toDouble)
    }
    timed(i => {
      if (i > 0) bf.land() // untimed: before the pass starts
      Seq(s"pass$i" -> (() => build(if (i == 0) "cold" else s"warm$i")))
    }, Workloads.heldBackDays, result)
    // Untimed: the same graph again rebuilds nothing.
    val noop = pass("noop", Seq("noop" -> (() => build("noop"))))
    result ++= Seq("runs" -> runs.toSeq, "targets" -> bf.targets,
      "pipeline.noop_run_s" -> noop)
  }
}

/** Just enough JSON for the result file and the per-operation records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
        case (_: String, _) => true; case _ => false } =>
      kv.map { case (k: String, x) => apply(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
