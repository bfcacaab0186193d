package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sessionize, TopK}
import graft.pipeline.{PipelineJob, PipelineResult, PipelineRunner, TimeExpansion, TimedJobTemplate, Upsert}
import graft.sources.Events

/** The `builder-backfill` workload: a daily build graph over the 30
  * buckets of `events`, made of the program's own operators and run by
  * `graft.pipeline`.
  *
  * Per day d (a closed bucket):
  *   raw/d      landed input: that day's events (written by [[land]])
  *   clean/d    Dedup.exact on (user_id, event_type, sec), min event_id
  *   sessions/d Sessionize.bySeconds (30 min gap), one row per session
  *   topk/d     TopK.perGroup: the day's 10 longest sessions
  *   rollup/d   trailing 7-day window over clean/(d-6..d): per-user
  *              counts and value, plus the latest event per user folded
  *              day by day with Upsert.applyCdc
  *
  * Buckets become buildable when they close (`expandClosed` with a
  * simulated clock), so landing day d adds exactly d's four jobs: no
  * later window exists yet. */
final class Backfill(spark: SparkSession, data: String, root: String,
    seed: Long, cores: Int) {
  val window = 7
  val gapSeconds = 1800L
  val topN = 10

  private val events = Events.load(spark, data)
    .select("event_id", "user_id", "event_type", "value", "sec")
  val days: Seq[LocalDate] = {
    val ds = events.select(expr("min(sec) DIV 86400"), expr("max(sec) DIV 86400"))
      .head()
    (ds.getLong(0) to ds.getLong(1)).map(LocalDate.ofEpochDay)
  }
  private var landed = 0

  def landedDays: Seq[LocalDate] = days.take(landed)

  /** Lands the next day's events as `raw/<day>`. */
  def land(): LocalDate = {
    val d = days(landed)
    events.filter(expr(s"sec DIV 86400 = ${d.toEpochDay}"))
      .write.mode("overwrite").parquet(s"$root/raw/$d")
    landed += 1
    d
  }

  private def day(dt: String): LocalDate = LocalDate.parse(dt)
  private def endMs(dt: String): Long = (day(dt).toEpochDay + 1) * 86400000L

  private val templates = Seq(
    TimedJobTemplate("clean", "clean/%dt", Seq("raw/%dt"))(
      (_, in, dt) => Dedup.exact(in(s"raw/$dt"),
        Seq("user_id", "event_type", "sec"), "event_id")),
    TimedJobTemplate("sessions", "sessions/%dt", Seq("clean/%dt"))(
      (_, in, dt) => Sessionize.bySeconds(in(s"clean/$dt"), "user_id", "sec",
          "event_id", gapSeconds)
        .groupBy("user_id", "session_id")
        .agg(min("sec").as("start_sec"), max("sec").as("end_sec"),
          count(lit(1)).as("n_events"), sum("value").as("value"))),
    TimedJobTemplate("topk", "topk/%dt", Seq("sessions/%dt"))(
      (_, in, dt) => TopK.perGroup(
        in(s"sessions/$dt").withColumn("dt", lit(dt)), Seq("dt"),
        Seq(col("n_events").desc, (col("end_sec") - col("start_sec")).desc,
          col("user_id"), col("session_id")), topN)))

  private def rollup(dt: String, closed: Set[String]): PipelineJob = {
    val deps = (window - 1 to 0 by -1).map(k => day(dt).minusDays(k).toString)
      .filter(closed).map(d => s"clean/$d")
    PipelineJob(s"rollup@$dt", s"rollup/$dt", deps)((_, in) => {
      val frames = deps.map(in)
      val latest = frames.map(f => Dedup.firstPerKey(f, Seq("user_id"),
          Seq(col("sec").desc, col("event_id").desc))
        .select(col("user_id"), col("sec").as("last_sec"),
          col("event_type").as("last_type"), lit("U").as("op")))
      val last = latest.tail.foldLeft(latest.head.drop("op"))(
        (acc, ch) => Upsert.applyCdc(acc, ch, "user_id", "op"))
      frames.reduce(_ unionByName _).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("value").as("value"))
        .join(last, Seq("user_id"))
    })
  }

  /** The build graph over the closed buckets, in a seed-chosen order
    * (the order jobs are handed to the runner). */
  def expand(): Seq[PipelineJob] = {
    val now = endMs(landedDays.last.toString)
    val buckets = days.map(_.toString)
    val jobs = templates.flatMap(t =>
      TimeExpansion.expandClosed(t, buckets, endMs, 0L, now))
    val closed = buckets.filter(b => endMs(b) <= now).toSet
    val all = jobs ++ closed.toSeq.sorted.map(rollup(_, closed))
    new scala.util.Random(seed).shuffle(all)
  }

  private val runner = new PipelineRunner(spark, root)

  def run(jobs: Seq[PipelineJob]): PipelineResult =
    runner.runParallel(jobs, parallelism = cores)

  /** Every target directory, for the output check. */
  def targets: Seq[String] = Seq("clean", "sessions", "topk", "rollup")
    .flatMap(k => landedDays.map(d => s"$k/$d"))
    .filter(t => Files.exists(Paths.get(root, t, "_SUCCESS")))
}
