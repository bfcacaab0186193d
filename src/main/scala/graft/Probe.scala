package graft

import org.apache.spark.sql.SparkSession

/** One-off diagnostics main (not part of the driver contract): warm
  * per-query timings and plan audits for the heaviest queries.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // At constrained heap, partition count is the sizing knob (CLAUDE.md:
    // size shuffle partitions so working sets fit executor memory)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_AUTOBC=-1 disables the planner's size-estimate
    // broadcasts, simulating the at-scale condition where build sides
    // exceed the threshold — explicit broadcast() hints still apply, so
    // the capture shows which broadcasts are *forced* vs *estimated*.
    sys.env.get("SPARK_GRAFT_AUTOBC").foreach(v =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
    // SPARK_GRAFT_CONF="k=v;k=v" — arbitrary session-conf overrides for
    // probe experiments (e.g. AQE skew-split thresholds)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // Per-query spill/peak-memory aggregates for the constrained-heap
    // probes: did the spill path actually engage under -Xmx pressure?
    // Listener delivery is async, so counts can lag a fast query by a
    // beat — treat as probe evidence, not an exact accounting.
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    val peakMem = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          peakMem.updateAndGet(p => math.max(p, m.peakExecutionMemory))
        }
      }
    })
    // Timed action = noop write (count() lets Catalyst prune unreferenced
    // subtrees — see Bench.scala); rows are not re-counted to keep the
    // measurement single-action.
    def time(name: String)(f: => Unit): Unit = {
      memSpill.set(0); diskSpill.set(0); peakMem.set(0)
      val t0 = System.nanoTime()
      f
      println(f"PROBE $name: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        s"spillMB=${memSpill.get >> 20} diskSpillMB=${diskSpill.get >> 20} " +
        s"peakTaskMemMB=${peakMem.get >> 20}")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val all = SparkEntry.queries
    if (args.drop(1).headOption.contains("plans")) {
      for (q <- args.drop(2)) {
        println(s"===== PLAN $q =====")
        println(all(q)(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
      spark.stop(); return
    }
    if (args.drop(1).headOption.contains("plansexec")) {
      // EXECUTED adaptive plans (AQE decisions — skew-join splits,
      // runtime join strategy switches — exist only post-execution).
      // The noop save runs its own QueryExecution, so capture it via a
      // listener: its executedPlan IS final once onSuccess fires.
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val ltn = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan.toString)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(ltn)
      for (q <- args.drop(2)) {
        plans.clear()
        noop(all(q)(spark, dir))
        // listener delivery is async; QueryExecutionListener rides the
        // shared bus with no public drain — a beat is enough here
        Thread.sleep(1500)
        println(s"===== EXEC PLAN $q =====")
        plans.forEach(p => println(p.take(8000)))
      }
      spark.stop(); return
    }
    for (q <- args.drop(1)) time(q)(noop(all(q)(spark, dir)))
    if (args.length <= 1) {
      // default: warm-run the historically heavy queries twice
      for (q <- Seq("q44_llm_neardup_minhash", "q88_stream_session",
          "q76_llm_neardup_groups", "q81_llm_tfidf",
          "q91_llm_neardup_groups_star")) {
        time(s"$q cold")(noop(all(q)(spark, dir)))
        time(s"$q warm")(noop(all(q)(spark, dir)))
      }
      val q1 = queries.Relational.tpchQ1(spark, dir)
      val plan = q1.queryExecution.executedPlan.toString
      println("Q01 pushed-filter: " + plan.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    }
    spark.stop()
  }
}
