package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_ONLY=q01,q169 benches a comma-separated subset
    // (prefix match), for spike bisects and scale probes of the heavy
    // queries without paying for the whole catalog.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = only match {
      case Some(ps) => SparkEntry.queries.filter {
        case (n, _) => ps.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    // The benched action is a `noop`-format write, NOT count():
    // count() references no output columns, which lets Catalyst prune
    // final projections and even whole subtrees (a left join whose
    // aggregated right side has distinct keys contributes nothing to
    // the row count — q215's entire coverage computation was eliminated
    // that way, benching flat 0.2 s at 100× data). The noop sink
    // consumes every InternalRow with all columns materialized and
    // writes nothing — the standard way to bench the full query.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // Warm-up pass (unmeasured): first execution pays one-time JVM costs —
    // classloading, C2 JIT of the parquet reader + codegen'd operators,
    // Janino compilation caches — that belong to process startup, not to
    // whichever query happens to run first. Measuring the second pass is
    // the standard JMH-style steady-state methodology (BASELINE.md).
    selected.foreach { case (_, fn) =>
      try run(fn) catch { case _: Throwable => () }
    }
    // Queries persist intermediates (edge frames, recall exact sides,
    // rank spines) whose lifecycle ends with the query — clear them
    // between runs so a full-catalog sweep holds storage memory flat
    // instead of accumulating 100+ dead cached frames (GC churn).
    def clear(): Unit = spark.catalog.clearCache()
    clear()
    // A throwing query records -1 (NOT a silent timing): correctness
    // scoring catches real breakage, but the bench artifact must not be
    // able to hide a bench-only regression behind a fast failure.
    def timedPass(): Map[String, Double] = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val r = try { run(fn); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      clear()
      name -> r
    }
    // TWO timed passes, recording the per-query MIN: one pass means a
    // transient host-contention window lands directly in the scored
    // artifact (round 8 recorded 383 s for a true ~244 s catalog — every
    // spike vanished on re-run of identical code). min-of-two halves the
    // exposure for one extra pass over an already-warm JVM. A query that
    // fails BOTH passes records -1; one success records its time.
    val pass1 = timedPass()
    val pass2 = timedPass()
    val results = selected.map { case (name, _) =>
      val (a, b) = (pass1(name), pass2(name))
      val ok = Seq(a, b).filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    // The recording harness keeps only a bounded TAIL of this line, so
    // the diagnostics that matter must sit at the END: per-query times
    // ascending (the expensive ones land last and survive), then the
    // top-20 slowest repeated in their own map, then the grand total as
    // the final key. Times rounded to ms to keep the line short.
    def ms(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    val sorted = results.toSeq.sortBy(_._2)
    val qs = sorted.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val slow = sorted.takeRight(20).reverse
      .map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    // total sums SUCCESSFUL runs only; n_failed makes a -1 impossible to
    // miss even when the bounded tail truncates the per-query map.
    // Both raw pass totals are emitted next to the min — a large
    // pass1/pass2 spread IS the host-contention signal, recorded.
    val total = results.values.filter(_ >= 0).sum
    val nFailed = results.values.count(_ < 0)
    def passTotal(p: Map[String, Double]) = p.values.filter(_ >= 0).sum
    val fullLine = s"""{"metric":"total","value":${ms(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":$nFailed,"queries":$qs,"slowest":$slow,"total_pass1":${ms(passTotal(pass1))},"total_pass2":${ms(passTotal(pass2))},"total_min":${ms(total)},"total":${ms(total)}}"""
    // The recording harness keeps only a bounded (~2000-char) TAIL of
    // stdout, and the full line above (356 per-query entries) is ~20 kB —
    // it has been truncated mid-object in the recorded artifact for two
    // rounds (PERF r13/r14: prev_bench_ok=false, n_common=0). Keep the
    // full line (the complete per-query record, unchanged methodology),
    // write the same JSON to a sidecar file, and make the FINAL stdout
    // line a compact (<1 kB) summary that survives the tail capture:
    // totals + pass totals + the top-10 slowest + the sidecar path.
    // Any earlier sidecar is deleted first, and the path is reported
    // only when this run's write succeeded, so a stale file from an
    // earlier run can never pass for this one.
    println(fullLine)
    val sidecar = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_QUERIES_FILE", s"/tmp/graft_bench_queries_c$cpus.json"))
    val written = try {
      java.nio.file.Files.deleteIfExists(sidecar)
      java.nio.file.Files.write(sidecar,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      true
    } catch { case _: Throwable => false } // the stdout lines are the record
    val queriesFile = if (written) s""","queries_file":"$sidecar"""" else ""
    val slow10 = sorted.takeRight(10).reverse
      .map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":$nFailed,"total_pass1":${ms(passTotal(pass1))},"total_pass2":${ms(passTotal(pass2))},"total_min":${ms(total)},"total":${ms(total)}$queriesFile,"slowest":$slow10}""")
    spark.stop()
  }
}
