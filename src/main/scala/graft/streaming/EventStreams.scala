package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming forms of the event-time operators (SURVEY.md
  * §2.2 streaming column): the same transformations as the batch-scored
  * queries, expressed over an unbounded source with watermarks. At
  * cluster scale these run incrementally (`Trigger.AvailableNow` for
  * catch-up batch, `ProcessingTime` for continuous ingest).
  */
object EventStreams {

  /** Tumbling counts with a late-data watermark. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Session counts per user (gap-based). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))

  /** Stateful streaming dedup: first event per (user_id, event_type)
    * within the watermark horizon.
    */
  def dedupWithinWatermark(events: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Custom streaming state via flatMapGroupsWithState: per-user running
    * event count + first/last seconds, emitted on every update. The
    * KeyValueGroupedDataset form is the Spark-native replacement for a
    * hand-rolled stateful operator — state lives in the state store,
    * checkpointed, and scales with the number of keys, not events.
    */
  case class UserRunning(user_id: Long, n_events: Long, first_sec: Long, last_sec: Long)

  def runningUserCounts(events: DataFrame): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long"),
        unix_timestamp(col("ts")).as("sec"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[UserRunning]) =>
          var cur = state.getOption.getOrElse(UserRunning(user, 0L, Long.MaxValue, Long.MinValue))
          rows.foreach { case (_, sec) =>
            cur = UserRunning(user, cur.n_events + 1,
              math.min(cur.first_sec, sec), math.max(cur.last_sec, sec))
          }
          state.update(cur)
          Iterator(cur)
      }
  }

  /** The same per-user running aggregate on the transformWithState API
    * (Spark 4's arbitrary-state surface, successor to
    * flatMapGroupsWithState): state is a named, typed, TTL-capable
    * ValueState in the state store, and the processor can register
    * event/processing-time timers — the building block for custom
    * streaming operators (sessionizers, CDC appliers, rate trackers)
    * beyond what windowed aggregation expresses. Requires the RocksDB
    * state store provider (column families):
    * `spark.sql.streaming.stateStore.providerClass=
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
    * — which is also the provider of choice at 100 TB (state spills to
    * disk; the default HDFS-backed store is JVM-heap-bound).
    */
  class RunningUserProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), UserRunning] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserRunning] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[UserRunning]("running",
        org.apache.spark.sql.Encoders.product[UserRunning],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserRunning] = {
      var cur = Option(state.get())
        .getOrElse(UserRunning(user, 0L, Long.MaxValue, Long.MinValue))
      rows.foreach { case (_, sec) =>
        cur = UserRunning(user, cur.n_events + 1,
          math.min(cur.first_sec, sec), math.max(cur.last_sec, sec))
      }
      state.update(cur)
      Iterator(cur)
    }
  }

  def runningUserCountsTws(events: DataFrame): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long"),
        unix_timestamp(col("ts")).as("sec"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningUserProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** A closed session: [start_sec, last_sec], n events. */
  case class SessionOut(user_id: Long, start_sec: Long, last_sec: Long,
      n_events: Long)
  case class SessState(start: Long, last: Long, n: Long)
  /** All of one user's not-yet-flushed sessions, sorted by start. */
  case class SessList(xs: Seq[SessState])

  /** Event-time-TIMER sessionizer on transformWithState — the custom
    * stateful-operator shape `session_window` cannot express (emit on
    * quiesce, arbitrary per-session state). Per user the state holds
    * EVERY session still inside the watermark horizon — the open one
    * AND any already-quiesced ones — as a sorted interval list; each
    * incoming event merges by the session_window rule (a gap STRICTLY
    * greater than `gapSec` starts a new session, so `<= gap` merges),
    * which means a watermark-admissible late event can lower a
    * session's start or bridge two existing sessions into one, exactly
    * like batch session_window. Nothing is emitted from
    * handleInputRows: a session flushes only from handleExpiredTimer
    * once the watermark strictly passes (last + gap) — before that
    * point a late event could still legally merge into it. One timer
    * per user at the EARLIEST pending flush time; state size tracks
    * active keys × sessions-in-horizon, not events.
    */
  class TimerSessionProcessor(gapSec: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), SessionOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[SessList] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessList]("sess",
        org.apache.spark.sql.Encoders.product[SessList],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def held: List[SessState] =
      Option(st.get()).map(_.xs.toList).getOrElse(Nil)

    /** One timer per user at the earliest (last + gap); re-pointed on
      * every state change so a merge that extends the earliest session
      * also defers its flush.
      */
    private def repointTimer(xs: List[SessState]): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (xs.nonEmpty)
        getHandle.registerTimer((xs.map(_.last).min + gapSec) * 1000L)
    }

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val singletons = rows.map(r => SessState(r._2.getTime / 1000L,
        r._2.getTime / 1000L, 1)).toList
      val merged = (held ++ singletons).sortBy(c => (c.start, c.last))
        .foldLeft(List.empty[SessState]) {
          case (h :: t, c) if c.start - h.last <= gapSec =>
            SessState(math.min(h.start, c.start),
              math.max(h.last, c.last), h.n + c.n) :: t
          case (acc, c) => c :: acc
        }.reverse
      st.update(SessList(merged))
      repointTimer(merged)
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      // Strict <: an event AT the watermark is still admissible and an
      // event at sec == last + gap still merges, so only sessions the
      // watermark has strictly passed are immutable and safe to flush.
      val wmSec = timerValues.getCurrentWatermarkInMs() / 1000L
      val (due, rest) = held.partition(c => c.last + gapSec < wmSec)
      if (rest.isEmpty) st.clear() else st.update(SessList(rest))
      repointTimer(rest)
      due.sortBy(_.start)
        .map(c => SessionOut(user, c.start, c.last, c.n)).iterator
    }
  }

  /** Timer-driven sessions over a watermarked event stream (see
    * [[TimerSessionProcessor]]). `events` needs `user_id` + timestamp
    * `ts`; `delay` is the watermark lateness bound.
    */
  def timerSessions(events: DataFrame, gapSec: Long,
      delay: String): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long").as("user_id"),
        col("ts"))
      .withWatermark("ts", delay)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new TimerSessionProcessor(gapSec),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** File-stream form of the events source: the same ns-vs-µs schema
    * fallback as the batch `sources.Events` loader (Spark 4 refuses
    * parquet timestamp[ns] unless the legacy conf is set), plus a
    * whole-second `tss` column — the only ts projection that is
    * oracle-safe (SURVEY.md §1.2). The single place the ns hazard is
    * handled for streaming readers.
    */
  def eventFileStream(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    graft.sources.Events.load(s, dir) // ensure the ns-read conf fallback ran
    val src = s.readStream
      .schema(graft.sources.Tables.load(s, dir, "events").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    val sec = if (src.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      expr("ts DIV 1000000000")
    else unix_timestamp(col("ts"))
    src.withColumn("tss", timestamp_seconds(sec))
  }

  /** Stream-stream interval join: click-like events joined to view-like
    * events of the same user within a bounded event-time window. Both
    * sides carry watermarks and the join condition bounds the time
    * difference, so Spark can expire join state — the REQUIRED shape
    * for an unbounded two-stream join (state stays proportional to the
    * interval, not the stream).
    */
  def intervalJoin(
      left: DataFrame, // user_id, ts, + payload
      right: DataFrame,
      intervalSeconds: Long = 300L,
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id").as("l_user"), col("ts").as("l_ts"),
        col("event_id").as("l_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_id").as("r_id"))
    l.join(r,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $intervalSeconds SECONDS") &&
        col("l_id") =!= col("r_id"))
  }

  /** Stream–static enrichment: the unbounded stream joins a static
    * dimension each micro-batch — no state, no watermark needed on the
    * static side. Pass `hintBroadcast = true` ONLY for a dimension
    * whose size is bounded by construction (a config table, a fixed
    * taxonomy); for key spaces that grow with the data (per-user, per-
    * entity lookups) leave it false and the planner's per-batch size
    * estimate picks broadcast vs shuffle — forcing broadcast there
    * OOMs at scale. At scale a re-used dim is worth `.persist()`ing
    * either way (it re-evaluates every micro-batch).
    */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
      key: String, hintBroadcast: Boolean = false): DataFrame =
    if (hintBroadcast)
      stream.join(org.apache.spark.sql.functions.broadcast(dim), key)
    else stream.join(dim, key)

  /** Drain a stream and return its bounded result (test/dev helper —
    * processes everything currently available, then stops). The sink is
    * a SCRATCH PARQUET dir via foreachBatch, NOT the memory sink: the
    * memory sink materializes every output row on the DRIVER heap (the
    * r7 100× streaming probes needed a 20 GiB driver for the harness
    * alone), and the sink CLASS is the scale contract even when today's
    * output is a bounded aggregate. Semantics per output mode match the
    * memory sink's: complete truncates and rewrites each micro-batch
    * (last batch wins), append/update accumulate the emitted rows.
    */
  def runToMemory(df: DataFrame, name: String,
      mode: String = "complete"): DataFrame =
    if (mode == "complete") runToParquetComplete(df, name)
    else runToParquet(df, name, mode)

  /** [[runToParquet]] for COMPLETE-mode aggregates: each micro-batch
    * carries the full result, so the scratch dir is overwritten per
    * batch and the final batch is the answer. */
  def runToParquetComplete(df: DataFrame, name: String): DataFrame = {
    val out = graft.util.Scratch.dir(name)
    val q = df.writeStream.outputMode("complete").foreachBatch {
      (b: DataFrame, _: Long) =>
        b.write.mode("overwrite").parquet(out)
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    df.sparkSession.read.schema(df.schema).parquet(out)
  }

  /** Like [[runToMemory]] for APPEND-mode streams, but the sink is an
    * append-only parquet dir in scratch space via foreachBatch — the
    * memory sink holds every output row on the DRIVER heap (the 100×
    * streaming probes needed a 20 GiB driver for the harness, not the
    * operator state); with this sink rows land on disk per micro-batch
    * and the same queries probe at default heap. Returns the read-back
    * result with the stream's schema (explicit, so a zero-row stream
    * still reads).
    */
  def runToParquet(df: DataFrame, name: String,
      mode: String = "append"): DataFrame = {
    val out = graft.util.Scratch.dir(name)
    val q = df.writeStream.outputMode(mode).foreachBatch {
      (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    df.sparkSession.read.schema(df.schema).parquet(out)
  }

  /** Like [[runToMemory]] but with an explicit checkpoint location, so
    * the run leaves a durable state-store + offset log behind — the
    * input to the `statestore` batch reader (state introspection) and
    * to any restart-and-catch-up scenario. At cluster scale the
    * checkpoint dir lives on shared storage; everything else is
    * identical to the ephemeral form.
    */
  def runToMemoryCheckpointed(df: DataFrame, name: String, ckpt: String,
      mode: String = "complete"): DataFrame = {
    // the sink dir is derived FROM the checkpoint path (not a fresh
    // scratch dir per call): a RESUMED run replays only the new
    // batches, so a per-call directory would silently drop every row
    // the first run emitted — the resumed query must append to the
    // same data dir its checkpoint refers to. Lifecycle follows the
    // checkpoint (caller-owned; tests put both under Scratch roots).
    val out = ckpt.stripSuffix("/") + "-sink"
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(out))
    val writeMode = if (mode == "complete") "overwrite" else "append"
    val q = df.writeStream.outputMode(mode).foreachBatch {
      (b: DataFrame, _: Long) =>
        b.write.mode(writeMode).parquet(out)
        ()
    }.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    df.sparkSession.read.schema(df.schema).parquet(out)
  }

  /** Per-user snapshot from the composite-state processor: running
    * event count, per-type counts serialized sorted, top-3 values.
    */
  case class UserTypedStats(user_id: Long, n_events: Long,
      type_counts: String, top1: Option[Double], top2: Option[Double],
      top3: Option[Double])

  /** transformWithState processor exercising the OTHER two state
    * primitives (q208 covers ValueState, q214 timers): a MapState
    * keyed by event_type for per-type counts — at scale the point is
    * that ONE map entry updates per row without rewriting the rest of
    * the user's state — and a ListState holding the running top-3
    * event values (bounded: merge-sort-truncate keeps it ≤3 elements
    * regardless of stream length). Emits a running snapshot per user
    * per micro-batch; the final snapshot is the one with the maximal
    * monotone n_events.
    */
  class TypedStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, Double), UserTypedStats] {
    @transient private var types: org.apache.spark.sql.streaming.MapState[String, Long] = _
    @transient private var top: org.apache.spark.sql.streaming.ListState[Double] = _
    @transient private var total: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      types = getHandle.getMapState[String, Long]("types",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      top = getHandle.getListState[Double]("top",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, String, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTypedStats] = {
      var n = Option(total.get()).getOrElse(0L)
      var vals = List.empty[Double]
      rows.foreach { case (_, tpe, v) =>
        n += 1
        val cur = if (types.containsKey(tpe)) types.getValue(tpe) else 0L
        types.updateValue(tpe, cur + 1)
        vals ::= v
      }
      total.update(n)
      val merged = (top.get().toSeq ++ vals).sortBy(-_).take(3)
      top.put(merged.toArray)
      val tc = types.iterator().toSeq.sortBy(_._1)
        .map { case (t, c) => s"$t:$c" }.mkString(",")
      Iterator(UserTypedStats(user, n, tc,
        merged.headOption, merged.lift(1), merged.lift(2)))
    }
  }

  /** Composite-state (Map+List+Value) per-user stats over a typed event
    * stream; see [[TypedStatsProcessor]].
    */
  def typedUserStats(events: DataFrame): Dataset[UserTypedStats] = {
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long").as("user_id"),
        col("event_type"), col("value"))
      .as[(Long, String, Double)]
      .groupByKey(_._1)
      .transformWithState(new TypedStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  case class QuotaIn(user_id: Long, day: Long, sec: Long, event_id: Long,
      value: Double)
  case class QuotaOut(user_id: Long, sec: Long, event_id: Long, value: Double)

  /** Ingest-time per-key rate limiting (admission control): admit at
    * most `maxPerDay` events per (user, day), first-come-first-served.
    * State is a MapState keyed by day holding the admitted count — one
    * entry updates per row, entries are bounded by the ingest horizon
    * (in production a TTL evicts old days; the quota decision for a
    * closed day never changes, so eviction is safe). Within a
    * micro-batch rows are admitted in (sec, event_id) order — the
    * deterministic tie-break §2.3 requires; across batches admission is
    * arrival-order, which IS rate-limiter semantics (a quota consumed
    * at ingest time is never retroactively reassigned).
    */
  class RateQuotaProcessor(maxPerDay: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, QuotaIn, QuotaOut] {
    @transient private var used: org.apache.spark.sql.streaming.MapState[Long, Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      used = getHandle.getMapState[Long, Long]("used",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[QuotaIn],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[QuotaOut] = {
      val out = Seq.newBuilder[QuotaOut]
      rows.toSeq.sortBy(r => (r.sec, r.event_id)).foreach { r =>
        val u = if (used.containsKey(r.day)) used.getValue(r.day) else 0L
        if (u < maxPerDay) {
          used.updateValue(r.day, u + 1)
          out += QuotaOut(r.user_id, r.sec, r.event_id, r.value)
        }
      }
      out.result().iterator
    }
  }

  /** Admitted-event stream under a per-(user, day) quota; see
    * [[RateQuotaProcessor]].
    */
  def rateQuota(events: DataFrame, maxPerDay: Long): Dataset[QuotaOut] = {
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long").as("user_id"),
        expr("sec DIV 86400").as("day"), col("sec"), col("event_id"),
        col("value"))
      .as[QuotaIn]
      .groupByKey(_.user_id)
      .transformWithState(new RateQuotaProcessor(maxPerDay),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  case class KeyCount(k: Long, n: Long)

  /** Per-key running count whose state carries a processing-time TTL —
    * the state-retention knob for unbounded key domains (session
    * tokens, request ids): keys idle past the TTL are evicted by the
    * store itself instead of accumulating forever. ttlMs <= 0 means no
    * TTL (control case). Requires TimeMode.ProcessingTime and the
    * RocksDB provider (column families).
    */
  class TtlCountProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Long, KeyCount] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val ttl =
        if (ttlMs > 0)
          org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(ttlMs))
        else org.apache.spark.sql.streaming.TTLConfig.NONE
      st = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong, ttl)
    }

    override def handleInputRows(k: Long, rows: Iterator[Long],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[KeyCount] = {
      val base = if (st.exists()) st.get() else 0L
      val n = base + rows.size
      st.update(n)
      Iterator(KeyCount(k, n))
    }
  }

  def ttlCountsTws(keys: Dataset[Long], ttlMs: Long): Dataset[KeyCount] = {
    import keys.sparkSession.implicits._
    keys.groupByKey(identity)
      .transformWithState(new TtlCountProcessor(ttlMs),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Update())
  }
}
