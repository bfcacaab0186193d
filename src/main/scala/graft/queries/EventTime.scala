package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Events
import graft.util.Det
import graft.util.Det.dsumSql

/** Event-time operators over `events` in their batch-scored forms
  * (tumbling / sliding / session windows), plus a true Structured
  * Streaming variant that must produce the identical answer. Window
  * starts are emitted as whole-second epochs — the only ts projection
  * that hash-matches across parquet-ns (DuckDB) and µs (Spark)
  * (SURVEY.md §1.2).
  */
object EventTime {

  /** Run `body` with a reduced shuffle-partition count, restoring the
    * session value after. Streaming state stores instantiate one store
    * per shuffle partition per micro-batch — at fixture scale (100k
    * events) 32 stores are pure setup overhead, and on a real cluster
    * the state partition count should be sized to state volume, not to
    * the batch shuffle default. Results are partitioning-independent.
    */
  private[queries] def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val old = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n)
    try body finally s.conf.set("spark.sql.shuffle.partitions", old)
  }

  val defs: Map[String, QueryDef] = Map(
    "q37_evt_tumbling" -> QueryDef(
      (s, dir) => Events.load(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("total_value"))
        .select(unix_timestamp(col("w.start")).as("win_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("win_start", "event_type"),
      Some(s"""SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS win_start,
        event_type, COUNT(*) AS n, ${dsumSql("value")} AS total_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // sliding 1h window every 15min: each event lands in exactly 4
    // windows; the oracle reproduces Spark's epoch-aligned slide starts.
    "q38_evt_sliding" -> QueryDef(
      (s, dir) => Events.load(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("win_start"), col("n"))
        .orderBy("win_start"),
      Some("""SELECT CAST(floor(epoch(ts)/900)*900 - k.k*900 AS BIGINT) AS win_start,
        COUNT(*) AS n
      FROM events, (SELECT unnest(range(0, 4)) AS k) k
      GROUP BY 1 ORDER BY 1""")),

    // session windows, 30-min gap. Spark sessionizes on second-truncated
    // ts so gap comparisons are integral on both engines; the oracle is
    // the lag + running-sum sessionization. Spark merges an event landing
    // EXACTLY on the session end (verified on sf0.1: gap == 1800 merges),
    // so a new session starts iff gap > 1800s.
    "q39_evt_session" -> QueryDef(
      (s, dir) => Events.load(s, dir)
        .select(col("user_id"), col("event_id"), timestamp_seconds(col("sec")).as("tss"))
        .groupBy(col("user_id"), session_window(col("tss"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_timestamp(col("sw.start")).as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start"),
      Some(s"""WITH e AS (SELECT user_id, event_id, ${Det.epochSecSql("ts")} AS sec FROM events),
      m AS (SELECT user_id, event_id, sec,
        CASE WHEN lag(sec) OVER w IS NULL THEN 1
             WHEN sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      s AS (SELECT user_id, sec,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM m)
      SELECT user_id, MIN(sec) AS session_start, COUNT(*) AS n_events
      FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""")),

    // True Structured Streaming (file source → AvailableNow → scratch
    // parquet sink), scored against the same batch oracle as tumbling —
    // stream and batch must agree on event-time semantics. Windows sit
    // on whole seconds, so the stream's whole-second `tss` lands every
    // event in the window its raw ts does.
    "q40_stream_tumbling" -> QueryDef(
      (s, dir) => {
        val sink = withShufflePartitions(s, 8) {
          graft.streaming.EventStreams.runToParquet(
            graft.streaming.EventStreams.eventFileStream(s, dir)
              .groupBy(window(col("tss"), "1 hour").as("w"), col("event_type"))
              .agg(count(lit(1)).as("n")),
            "q40_stream_tumbling_sink", mode = "complete")
        }
        sink
          .select(unix_timestamp(col("w.start")).as("win_start"),
            col("event_type"), col("n"))
          .orderBy("win_start", "event_type")
      },
      Some("""SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS win_start,
        event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Streaming sliding windows through the EventStreams module — same
    // oracle construction as the batch q38.
    "q70_stream_sliding" -> QueryDef(
      (s, dir) => {
        val agg = graft.streaming.EventStreams.eventFileStream(s, dir)
          .groupBy(window(col("tss"), "1 hour", "15 minutes").as("w"))
          .agg(count(lit(1)).as("n"))
        val out = withShufflePartitions(s, 8) {
          graft.streaming.EventStreams.runToParquet(
            agg, "q70_stream_sliding_sink", mode = "complete")
        }
        out.select(unix_timestamp(col("w.start")).as("win_start"), col("n"))
          .orderBy("win_start")
      },
      Some("""SELECT CAST(floor(epoch(ts)/900)*900 - k.k*900 AS BIGINT) AS win_start,
        COUNT(*) AS n
      FROM events, (SELECT unnest(range(0, 4)) AS k) k
      GROUP BY 1 ORDER BY 1"""))
  )
}
