package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.sources.Tables

/** Builder-semantics runner: topo order, staleness skip, transitive
  * rerun (SURVEY.md §2.1 B3/B5/B7).
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def mkJobs(root: String) = {
    val src = PipelineJob("src", "src.parquet", Nil)(
      (s, _) => Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val derived = PipelineJob("derived", "derived.parquet", Seq("src.parquet"))(
      (s, in) => in("src.parquet").withColumn("v2", upper(col("v"))))
    val agg = PipelineJob("agg", "agg.parquet", Seq("derived.parquet"))(
      (s, in) => in("derived.parquet").groupBy("v2").count())
    Seq(agg, src, derived) // deliberately out of order
  }

  test("runs in topo order, then skips when fresh, then reruns transitively") {
    val root = Files.createTempDirectory("graft_pipe").toString
    val runner = new PipelineRunner(spark, root)
    val jobs = mkJobs(root)

    val r1 = runner.run(jobs)
    assert(r1.ran == Seq("src", "derived", "agg"))
    assert(spark.read.parquet(s"$root/agg.parquet").count() == 2)

    val r2 = runner.run(jobs)
    assert(r2.ran.isEmpty && r2.skipped.size == 3)

    // staleness is CONTENT-based (de-clocked): a touch of the commit
    // MARKER does not rebuild — forced invalidation is runForced's job,
    // not the clock's. No sleeps needed anywhere: there is no cross-
    // file mtime ordering left to race.
    Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$root/src.parquet/_SUCCESS"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 60000))
    val r3 = runner.run(jobs)
    assert(r3.ran.isEmpty && r3.skipped.size == 3)

    // an in-place DATA-file change (same name, same size) is caught:
    // per-file mtimes participate in the fingerprint hash
    val dataFile = new java.io.File(s"$root/src.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.setLastModifiedTime(dataFile.toPath,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 120000))
    val r3b = runner.run(jobs)
    assert(r3b.ran == Seq("derived", "agg") && r3b.skipped == Seq("src"))

    // a torn _GRAFT_DEPS marker (crash mid-write by an older build)
    // reads as NO marker — mtime fallback, not a wedge
    Files.write(
      java.nio.file.Paths.get(s"$root/agg.parquet/_GRAFT_DEPS"),
      "torn-line-without-a-tab".getBytes("UTF-8"))
    val r3c = runner.run(jobs)
    assert(r3c.skipped.contains("src")) // completed — no MatchError

    // a hand-landed file in a dep dir changes its fingerprint and
    // rebuilds everything downstream (the old mtime rule MISSED this —
    // the round-7 gotcha — because _SUCCESS's own mtime never moved)
    Files.write(
      java.nio.file.Paths.get(s"$root/src.parquet/part-extra.parquet"),
      Files.readAllBytes(new java.io.File(s"$root/src.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath))
    val r4 = runner.run(jobs)
    assert(r4.ran == Seq("derived", "agg") && r4.skipped == Seq("src"))
    // the landed rows flowed through (src now has > 2 rows and agg
    // re-aggregated exactly what src holds)
    val srcRows = spark.read.parquet(s"$root/src.parquet").count()
    assert(srcRows > 2L)
    assert(spark.read.parquet(s"$root/agg.parquet")
      .agg(sum("count")).head().getLong(0) == srcRows)
  }

  test("fingerprint staleness sees files inside partition subdirs") {
    // a dep laid out as a partitioned dir (dt=.../part-*.parquet): an
    // append landing INSIDE an existing partition subdir must change
    // the dep's fingerprint and rebuild the consumer — a top-level-only
    // listing would see the same subdir names and miss it
    val root = Files.createTempDirectory("graft_pfp").toString
    Seq((1L, "a")).toDF("id", "v").write
      .partitionBy("v").parquet(s"$root/ext.parquet")
    val consumer = PipelineJob("agg", "agg.parquet", Seq("ext.parquet"))(
      (s, in) => in("ext.parquet").groupBy("v").count())
    val runner = new PipelineRunner(spark, root)
    assert(runner.run(Seq(consumer)).ran == Seq("agg"))
    assert(runner.run(Seq(consumer)).ran.isEmpty)
    // hand-land a copy of the existing part file inside the v=a subdir
    val sub = new java.io.File(s"$root/ext.parquet/v=a")
    val part = sub.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath,
      java.nio.file.Paths.get(sub.toString, "part-extra.parquet"))
    val r = runner.run(Seq(consumer))
    assert(r.ran == Seq("agg"), s"subdir append missed: $r")
    assert(spark.read.parquet(s"$root/agg.parquet")
      .head().getLong(1) == 2L)
  }

  test("backfill: templates expand over buckets; buildRequest runs one ancestor chain") {
    val root = Files.createTempDirectory("graft_backfill").toString
    val runner = new PipelineRunner(spark, root)
    val raw = TimedJobTemplate("raw", "raw/dt=%dt", Nil)(
      (s, _, dt) => Seq((dt, 1L), (dt, 2L)).toDF("dt", "n"))
    val agg = TimedJobTemplate("agg", "agg/dt=%dt", Seq("raw/dt=%dt"))(
      (s, in, dt) => in(s"raw/dt=$dt").groupBy("dt")
        .agg(sum("n").as("total")))
    val jobs = TimeExpansion.expandAll(Seq(raw, agg),
      Seq("2024-01-01", "2024-01-02"))
    assert(jobs.size == 4)

    // requesting one bucket's agg runs ONLY that bucket's chain
    val r1 = runner.buildRequest(jobs, "agg/dt=2024-01-02")
    assert(r1.ran == Seq("raw@2024-01-02", "agg@2024-01-02"), r1)
    assert(spark.read.parquet(s"$root/agg/dt=2024-01-02")
      .head().getLong(1) == 3L)

    // the full build then backfills only the missing bucket
    val r2 = runner.run(jobs)
    assert(r2.ran.toSet == Set("raw@2024-01-01", "agg@2024-01-01"), r2)
    assert(r2.skipped.toSet ==
      Set("raw@2024-01-02", "agg@2024-01-02"), r2)

    // guardrails: a typo'd target errors (not a silent empty build);
    // a template without %dt refuses to expand; duplicate targets
    // are rejected instead of silently collapsed
    intercept[IllegalArgumentException] {
      runner.buildRequest(jobs, "agg/dt=2024-1-02")
    }
    intercept[IllegalArgumentException] {
      TimeExpansion.expand(
        TimedJobTemplate("static", "dim/users", Nil)((s, _, _) =>
          Seq(1L).toDF("id")), Seq("a", "b"))
    }
    intercept[IllegalArgumentException] {
      runner.topoSort(jobs :+ jobs.head)
    }
  }

  test("time-bucketed output is partition-pruned on read") {
    val root = Files.createTempDirectory("graft_tp").toString
    val ev = graft.sources.Events.load(spark, sf)
    pipeline.TimePartition.writePartitioned(ev, "ts", s"$root/events_bucketed")
    val read = spark.read.parquet(s"$root/events_bucketed")
      .filter(col("dt") === "2024-01-05")
    val expected = ev.filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05").count()
    assert(expected > 0 && read.count() == expected)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(dt") ||
      plan.contains("PartitionFilters: [(dt"))
  }

  test("AvailableInputs reads whichever deps exist (depends_one_or_more)") {
    val root = Files.createTempDirectory("graft_avail").toString
    Seq(1L, 2L).toDF("id").write.parquet(s"$root/a.parquet")
    Seq(3L).toDF("id").write.parquet(s"$root/b.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val df = pipeline.AvailableInputs.readAvailable(spark, schema,
      Seq(s"$root/a.parquet", s"$root/missing.parquet", s"$root/b.parquet"))
    assert(df.count() == 3)
    intercept[IllegalArgumentException] {
      pipeline.AvailableInputs.readAvailable(spark, schema,
        Seq(s"$root/nope1.parquet", s"$root/nope2.parquet"))
    }
  }

  test("Incremental.sync processes only newly arrived files per run") {
    val root = Files.createTempDirectory("graft_inc").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    Seq(1L, 2L).toDF("id").write.parquet(s"$in/batch1")
    pipeline.Incremental.sync(spark, s"$in/*", schema, out, cp)(
      df => df.withColumn("doubled", col("id") * 2))
    assert(spark.read.parquet(out).count() == 2)
    Seq(3L, 4L, 5L).toDF("id").write.parquet(s"$in/batch2")
    pipeline.Incremental.sync(spark, s"$in/*", schema, out, cp)(
      df => df.withColumn("doubled", col("id") * 2))
    val rows = spark.read.parquet(out)
    assert(rows.count() == 5) // batch1 not reprocessed (would be 7)
    assert(rows.agg(sum(col("doubled"))).head().getLong(0) == 30)
  }

  test("GraftExtensions applies without error") {
    new graft.plans.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("runParallel: independent jobs overlap, deps wait, retries recover") {
    val root = Files.createTempDirectory("graft_par").toString
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    def slowJob(name: String) =
      PipelineJob(name, s"$name.parquet", Seq("src.parquet")) { (s, in) =>
        val cur = inFlight.incrementAndGet()
        maxInFlight.getAndUpdate(m => math.max(m, cur))
        Thread.sleep(300)
        inFlight.decrementAndGet()
        in("src.parquet").withColumn("tag", lit(name))
      }
    val src = PipelineJob("src", "src.parquet", Nil)(
      (s, _) => Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val join = PipelineJob("join", "join.parquet",
        Seq("b1.parquet", "b2.parquet")) { (s, in) =>
      // flaky job: fails twice, then succeeds
      if (failures.incrementAndGet() <= 2) sys.error("transient")
      in("b1.parquet").unionByName(in("b2.parquet"))
    }
    val runner = new PipelineRunner(spark, root)
    val r = runner.runParallel(
      Seq(join, slowJob("b1"), slowJob("b2"), src),
      parallelism = 4, maxRetries = 2)
    assert(r.ran.toSet == Set("src", "b1", "b2", "join"))
    assert(maxInFlight.get() == 2, s"b1/b2 did not overlap: ${maxInFlight.get()}")
    assert(failures.get() == 3) // 2 failures + 1 success
    assert(spark.read.parquet(s"$root/join.parquet").count() == 4)
    // second run: everything fresh
    val r2 = runner.runParallel(
      Seq(join, slowJob("b1"), slowJob("b2"), src), parallelism = 4)
    assert(r2.ran.isEmpty && r2.skipped.size == 4)
  }

  test("runParallel: a failed job drains running siblings and starts nothing new") {
    val root = Files.createTempDirectory("graft_par_fail").toString
    val downstreamStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val src = PipelineJob("src", "src.parquet", Nil)(
      (s, _) => Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val bad = PipelineJob("bad", "bad.parquet", Seq("src.parquet"))(
      (s, _) => sys.error("bad job"))
    val slow = PipelineJob("slow", "slow.parquet", Seq("src.parquet")) { (s, in) =>
      Thread.sleep(1500)
      in("src.parquet")
    }
    def downstream(name: String, deps: Seq[String]) =
      PipelineJob(name, s"$name.parquet", deps) { (s, in) =>
        downstreamStarted.set(true)
        in(deps.head)
      }
    val runner = new PipelineRunner(spark, root)
    val e = intercept[Exception] {
      runner.runParallel(Seq(src, bad, slow,
        downstream("after_slow", Seq("slow.parquet")),
        downstream("after_both", Seq("bad.parquet", "slow.parquet"))),
        parallelism = 4)
    }
    assert(e.getMessage.contains("bad job"), e)
    // the sibling's write finished before runParallel threw
    assert(Files.exists(java.nio.file.Paths.get(root, "slow.parquet", "_GRAFT_DEPS")))
    assert(spark.read.parquet(s"$root/slow.parquet").count() == 2)
    assert(!downstreamStarted.get(), "a job started after the build failed")
  }

  test("runParallel: a ready job queued behind a failure never starts") {
    val root = Files.createTempDirectory("graft_par_queue").toString
    val started = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = PipelineJob("bad", "bad.parquet", Nil)(
      (s, _) => sys.error("bad job"))
    val other = PipelineJob("other", "other.parquet", Nil) { (s, _) =>
      started.set(true)
      Seq(1L).toDF("id")
    }
    val e = intercept[Exception] {
      new PipelineRunner(spark, root).runParallel(Seq(bad, other),
        parallelism = 1)
    }
    assert(e.getMessage.contains("bad job"), e)
    assert(!started.get(), "an independent ready job started after the failure")
  }

  test("Compact merges a many-small-file table, preserving rows") {
    val src = Files.createTempDirectory("graft_compact_src").toString
    val dst = Files.createTempDirectory("graft_compact_dst").toString
    spark.range(10000).select(col("id"), (col("id") * 2).as("v"))
      .repartition(20).write.mode("overwrite").parquet(src)
    val smallFiles = new java.io.File(src).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(smallFiles == 20)
    // target sized to land well under the input file count
    val n = Compact.compact(spark, src, dst, targetFileBytes = 64L * 1024)
    val outFiles = new java.io.File(dst).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(outFiles == n && n < smallFiles)
    assert(spark.read.parquet(dst).count() == 10000)
    assert(spark.read.parquet(dst).agg(sum("v")).head.getLong(0)
      == spark.read.parquet(src).agg(sum("v")).head.getLong(0))
  }

  test("Layout.rangeSortedWrite yields disjoint per-file key ranges") {
    val dst = Files.createTempDirectory("graft_layout").toString
    Layout.rangeSortedWrite(
      Tables.load(spark, sf, "orders"), dst, 4, col("o_orderkey"))
    val files = new java.io.File(dst).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length == 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("o_orderkey"), max("o_orderkey")).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    // disjoint and ordered: each file's min exceeds the previous max
    ranges.sliding(2).foreach { case Array((_, amax), (bmin, _)) =>
      assert(bmin > amax)
    }
    // row preservation
    assert(spark.read.parquet(dst).count()
      == Tables.load(spark, sf, "orders").count())
  }

  test("Upsert.mergeByKey: updates win, new keys append, others survive") {
    val root = Files.createTempDirectory("graft_upsert").toString
    val t0 = s"$root/t0"; val t1 = s"$root/t1"
    Seq((1L, "a", 0.1), (2L, "b", 0.2), (3L, "c", 0.3))
      .toDF("doc_id", "text", "score")
      .write.parquet(t0)
    val updates = Seq((2L, "b2", 0.9), (4L, "d", 0.4))
      .toDF("doc_id", "text", "score")
    Upsert.mergeByKey(spark, t0, updates, "doc_id", Some(t1))
    val got = spark.read.parquet(t1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1L, "a", 0.1), (2L, "b2", 0.9),
      (3L, "c", 0.3), (4L, "d", 0.4)))
    // missing target: merge == updates
    val fresh = Upsert.mergeByKey(spark, s"$root/nope", updates, "doc_id")
    assert(fresh.count() == 2)
  }

  test("cycle detection") {
    val a = PipelineJob("a", "a.parquet", Seq("b.parquet"))((s, _) => Seq(1).toDF("x"))
    val b = PipelineJob("b", "b.parquet", Seq("a.parquet"))((s, _) => Seq(1).toDF("x"))
    val runner = new PipelineRunner(spark, "/tmp/unused")
    intercept[IllegalArgumentException](runner.topoSort(Seq(a, b)))
  }

  test("a job that names one dep twice is one edge, not a cycle") {
    val src = PipelineJob("src", "src.parquet", Nil)(
      (s, _) => Seq(1L, 2L).toDF("id"))
    val twice = PipelineJob("twice", "twice.parquet",
      Seq("src.parquet", "src.parquet"))(
      (s, in) => in("src.parquet").select((col("id") * 2).as("id")))
    val after = PipelineJob("after", "after.parquet", Seq("twice.parquet"))(
      (s, in) => in("twice.parquet").groupBy().count())
    val jobs = Seq(after, twice, src)
    val topo = new PipelineRunner(spark, "/tmp/unused").topoSort(jobs)
    assert(topo.map(_.name) == Seq("src", "twice", "after"))
    val root = Files.createTempDirectory("graft_dupdep").toString
    assert(new PipelineRunner(spark, root).run(jobs).ran ==
      Seq("src", "twice", "after"))
    assert(spark.read.parquet(s"$root/after.parquet").head().getLong(0) == 2L)
    val rootP = Files.createTempDirectory("graft_dupdep_par").toString
    assert(new PipelineRunner(spark, rootP).runParallel(jobs).ran ==
      Seq("src", "twice", "after"))
  }

  test("runForced: invalidation cascades to all transitive consumers") {
    val root = Files.createTempDirectory("graft_force").toString
    val runner = new PipelineRunner(spark, root)
    val jobs = mkJobs(root)
    runner.run(jobs)
    // everything fresh: a plain run skips all three
    assert(runner.run(jobs).ran.isEmpty)
    // forcing the middle target rebuilds it AND its consumer, not the root
    val f = runner.runForced(jobs, Set("derived.parquet"))
    assert(f.ran == Seq("derived", "agg") && f.skipped == Seq("src"))
    // unknown target is an error, not a silent no-op
    intercept[IllegalArgumentException] {
      runner.runForced(jobs, Set("nope.parquet"))
    }
  }

  test("q284 incremental pipeline: 3-run composition equals batch latest-per-user") {
    // the query fn itself REQUIREs the incremental contract while it
    // runs (run 1 builds all; run 2 is fingerprint-triggered and its
    // stream reads exactly the new file's rows; run 3 skips all), so
    // executing it IS the staleness/restart test — here we additionally
    // pin the final table to the independent batch computation
    import org.apache.spark.sql.expressions.Window
    val got = queries.Round7.defs("q284_etl_incremental_pipeline")
      .fn(spark, sf).collect().map(_.toString).toSeq
    val w = Window.partitionBy("user_id")
      .orderBy(col("sec").desc, col("event_id").desc)
    val batch = sources.Events.load(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("sec").as("last_sec"),
        col("event_type").as("last_type"))
      .orderBy("user_id").collect().map(_.toString).toSeq
    assert(got == batch)
  }

  test("expandClosed: in-flight buckets are excluded by the curfew") {
    val tpl = TimedJobTemplate("hourly", "out-%dt.parquet", Nil)(
      (s, _, dt) => Seq((dt, 1L)).toDF("dt", "n"))
    val endOf = Map("h1" -> 1000L, "h2" -> 2000L, "h3" -> 3000L)
    val jobs = TimeExpansion.expandClosed(
      tpl, Seq("h1", "h2", "h3"), endOf, curfewMs = 500L, nowMs = 2600L)
    // h1 (1000+500<=2600) and h2 (2500<=2600) build; h3 is still open
    assert(jobs.map(_.name) == Seq("hourly@h1", "hourly@h2"))
  }
}
