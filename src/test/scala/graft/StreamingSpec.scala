package graft

import org.apache.spark.sql.functions._
import graft.sources.{Events, Tables}
import graft.streaming.EventStreams

/** Structured Streaming forms must agree with their batch twins on the
  * same fixture data (stream/batch unification).
  */
class StreamingSpec extends SparkTestBase {

  private def streamEvents = {
    Events.load(spark, sf) // ensure ns-read conf fallback
    val src = spark.readStream
      .schema(Tables.load(spark, sf, "events").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sf)
    // branch on the inferred type like sources.Events: the fixture's ts
    // has shipped as BOTH parquet ns (reads as Long under the legacy
    // conf) and µs (reads as a timestamp directly) across rounds
    // watermarks demand TIMESTAMP (not NTZ); session TZ is UTC so the
    // cast is value-preserving
    if (src.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      src.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else src.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Batch twin with ts coerced to the same TIMESTAMP type the stream
    * carries, so window-start strings compare equal. */
  private def batchEvents =
    Events.load(spark, sf).withColumn("ts", col("ts").cast("timestamp"))

  test("streaming tumbling counts == batch tumbling counts") {
    val streamed = EventStreams.runToParquet(
      EventStreams.tumblingCounts(streamEvents), "t_tumbling", mode = "complete")
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .orderBy("ws", "event_type").collect().map(_.toString)
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .orderBy("ws", "event_type").collect().map(_.toString)
    assert(streamed.sameElements(batch))
  }

  test("streaming session counts == batch session counts") {
    val streamed = EventStreams.runToParquet(
      EventStreams.sessionCounts(streamEvents), "t_session", mode = "complete")
      .select(col("user_id"), col("sw.start").as("ss"), col("n_events"))
      .orderBy("user_id", "ss").collect().map(_.toString)
    val batch = batchEvents
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("ss"), col("n_events"))
      .orderBy("user_id", "ss").collect().map(_.toString)
    assert(streamed.sameElements(batch))
  }

  test("flatMapGroupsWithState running counts: final state matches batch totals") {
    val out = EventStreams.runToParquet(
      EventStreams.runningUserCounts(streamEvents).toDF(), "t_state",
      mode = "update")
    // last emitted row per user == total batch count for that user
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val finalCounts = out.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Events.load(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalCounts == batch)
  }

  test("transformWithState running counts: final state matches batch totals") {
    // transformWithState needs column families -> RocksDB state store
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val out = try EventStreams.runToParquet(
      EventStreams.runningUserCountsTws(streamEvents).toDF(), "t_tws",
      mode = "update")
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val finalCounts = out.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Events.load(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalCounts == batch)
  }

  test("stream-stream interval join == batch interval join") {
    val clicks = streamEvents.filter(col("event_type") === "click")
    val views = streamEvents.filter(col("event_type") === "view")
    val streamed = EventStreams.runToParquet(
      EventStreams.intervalJoin(clicks, views, intervalSeconds = 21600L),
      "t_ssjoin", mode = "append")
      .select("l_id", "r_id").collect().map(_.toString).sorted
    val ev = Events.load(spark, sf)
    val bl = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("l_user"), col("ts").as("l_ts"),
        col("event_id").as("l_id"))
    val br = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_id").as("r_id"))
    val batch = bl.join(br,
        col("l_user") === col("r_user") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 21600 SECONDS") &&
          col("l_id") =!= col("r_id"))
      .select("l_id", "r_id").collect().map(_.toString).sorted
    assert(batch.nonEmpty && streamed.sameElements(batch))
  }

  test("dropDuplicatesWithinWatermark emits one row per (user, type)") {
    val out = EventStreams.runToParquet(
      EventStreams.dedupWithinWatermark(streamEvents), "t_dedup",
      mode = "append")
    val n = out.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).count()
    assert(n == 0)
  }

  test("stream-static enrichment matches the batch join") {
    val dim = Events.load(spark, sf)
      .select(col("user_id")).distinct()
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(5))))
    val streamed = EventStreams.runToParquet(
      EventStreams.enrichWithStatic(
        streamEvents.select("event_id", "user_id"), dim, "user_id"),
      "t_enrich", mode = "append")
      .groupBy("cohort").count()
      .collect().map(_.toString).sorted
    val batch = Events.load(spark, sf)
      .select("event_id", "user_id").join(dim, "user_id")
      .groupBy("cohort").count()
      .collect().map(_.toString).sorted
    assert(batch.nonEmpty && streamed.sameElements(batch))
  }

  test("streaming observe: per-batch metrics sum to the batch aggregates") {
    // The streaming side of q219's observe surface: metrics ride each
    // micro-batch (StreamingQueryProgress.observedMetrics) and their
    // per-batch sums must equal the batch aggregate — zero extra passes
    // over the stream.
    val src = streamEvents.observe("m",
      count(lit(1)).as("n_rows"), sum(col("user_id")).as("sum_uid"))
    val q = src.select("event_id").writeStream.outputMode("append")
      .format("memory").queryName("t_observe_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val per = q.recentProgress.flatMap(p => Option(p.observedMetrics.get("m")))
    val (n, su) = per.foldLeft((0L, 0L)) { case ((a, b), row) =>
      (a + row.getAs[Long]("n_rows"), b + row.getAs[Long]("sum_uid"))
    }
    val batch = Events.load(spark, sf)
      .agg(count(lit(1)).as("n"), sum("user_id").as("s")).head()
    assert(n == batch.getLong(0) && su == batch.getLong(1))
    assert(per.nonEmpty)
  }

  test("event-time timer sessionizer matches batch session_window on flushed sessions") {
    // transformWithState with event-time TIMERS (the emit-on-quiesce
    // shape session_window can't express). AvailableNow's final no-data
    // batch advances the watermark to (max event time - delay) and
    // fires timers below it, so: every emitted session must equal a
    // batch session_window row, and every batch session that closed a
    // margin below the final watermark must have been emitted (q181
    // margin recipe — the exact eviction boundary is engine-internal).
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val gap = 1800L
    val src = streamEvents
      .select(col("user_id"), timestamp_seconds(unix_timestamp(col("ts"))).as("ts"))
    val streamed = try EventStreams.runToParquet(
      EventStreams.timerSessions(src, gap, "1 second").toDF(), "t_timer_sess",
      mode = "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val batchRows = Events.load(spark, sf)
      .select(col("user_id"), timestamp_seconds(col("sec")).as("tss"), col("sec"))
      .groupBy(col("user_id"), session_window(col("tss"), s"$gap seconds").as("sw"))
      .agg(min("sec").as("start_sec"), max("sec").as("last_sec"),
        count(lit(1)).as("n_events"))
      .select("user_id", "start_sec", "last_sec", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val batch = batchRows.toSet
    val maxSec = Events.load(spark, sf).agg(max("sec")).collect()(0).getLong(0)
    val safeBound = maxSec - 1 /*delay*/ - gap - 5 /*margin*/
    val mustFlush = batch.filter(_._3 <= safeBound)
    assert(streamed.subsetOf(batch),
      s"streamed emitted non-batch sessions: ${streamed.diff(batch).take(3)}")
    assert(mustFlush.subsetOf(streamed),
      s"sessions closed below the watermark not flushed: ${mustFlush.diff(streamed).take(3)}")
    assert(mustFlush.nonEmpty) // the check must actually bite
  }

  test("timer sessionizer merges watermark-admissible late events across batches") {
    // The cross-batch late-arrival semantics the file-stream fixture
    // (one micro-batch) can never exercise: batch 1 leaves two held
    // sessions [1000] and [3500] (gap 2500 > 1800); batch 2 delivers a
    // LATE but watermark-admissible event at 2300 that bridges them
    // (2300-1000 and 3500-2300 both <= gap) — the merged session must
    // lower nothing, raise nothing, and count 3; batch 3 advances the
    // watermark past (3500 + gap) so the timer flushes exactly the
    // merged session. Under the old emit-on-in-batch-closure design the
    // [1000] session was emitted in batch 1 with state discarded and
    // the bridge was impossible.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(Long, java.sql.Timestamp)]
      val src = ms.toDF().toDF("user_id", "ts")
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
      val q = EventStreams.timerSessions(src, gapSec = 1800L,
          delay = "7200 seconds").toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("t_late_sess").start()
      val expected = (7L, 1000L, 3500L, 3L)
      try {
        ms.addData(Seq((7L, ts(1000L)), (7L, ts(3500L))))
        q.processAllAvailable() // watermark still 0 (3500 - 7200 < 0)
        ms.addData(Seq((7L, ts(2300L)))) // late bridge, admissible
        q.processAllAvailable()
        ms.addData(Seq((7L, ts(20000L)))) // watermark -> 12800 > 5300
        q.processAllAvailable()
        // the flush rides a no-data micro-batch after the last commit
        val deadline = System.currentTimeMillis() + 30000
        def rows() = spark.table("t_late_sess").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        while (!rows().contains(expected) &&
            System.currentTimeMillis() < deadline) Thread.sleep(200)
        // exactly the merged session: the open [20000] session's flush
        // time (21800) sits above the final watermark and must NOT emit
        assert(rows() == Set(expected), s"got ${rows()}")
      } finally q.stop()
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("drain + insertNew: replayed rows insert once, columns must match, a batch throw surfaces") {
    // The one micro-batch home: the same rows arriving in a second batch
    // (a resumed drain over one checkpoint) insert each composite key
    // once; a frame whose columns are not the table's is refused; a
    // throw in perBatch fails drain itself and leaves no stream running.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.sources.MemCatalog.recreate(spark, "t_insert_new",
      "(a BIGINT, b BIGINT, v DOUBLE)")
    val rows = Seq((1L, 1L, 0.5), (1L, 2L, 0.25), (2L, 1L, 0.125))
    val ms = MemoryStream[(Long, Long, Double)]
    val ckpt = graft.util.Scratch.dir("t_insert_new_ckpt")
    def drainOnce(): Long = EventStreams.drain(ms.toDF().toDF("a", "b", "v"),
        checkpoint = Some(ckpt)) { (batch, _) =>
      EventStreams.insertNew(batch, "t_insert_new", "a", "b")
    }.recentProgress.map(_.numInputRows).sum
    ms.addData(rows)
    assert(drainOnce() == 3L)
    ms.addData(rows)
    assert(drainOnce() == 3L, "the second batch must carry the same rows again")
    val got = spark.sql("SELECT a, b, v FROM graftmem.t_insert_new")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.sorted == rows.sorted)

    intercept[IllegalArgumentException] {
      EventStreams.insertNew(Seq((1L, 0.5, 1L)).toDF("a", "v", "b"),
        "t_insert_new", "a", "b")
    }

    val boom = MemoryStream[Long]
    boom.addData(1L)
    val err = intercept[Exception] {
      EventStreams.drain(boom.toDF()) { (_, _) =>
        throw new IllegalStateException("perBatch failed") }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("perBatch failed")),
      s"the perBatch throw must surface from drain: $err")
    assert(spark.streams.active.isEmpty)
  }

  test("statestore batch reader returns exactly the streaming agg's final state") {
    // Run a streaming per-user count into an explicit checkpoint, then
    // read the state store back with the batch `statestore` source —
    // its rows must equal the batch aggregate exactly (the persisted
    // state IS the answer).
    val ckpt = graft.util.Scratch.dir("t_ss_reader_ckpt")
    val agg = streamEvents.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    EventStreams.runToParquet(agg, "t_ss_reader_sink", mode = "update",
      checkpoint = Some(ckpt))
    val state = spark.read.format("statestore").option("path", ckpt).load()
      .selectExpr("key.user_id", "value.*").toDF("user_id", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Events.load(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty && state == batch)
  }

  test("composite-state processor (Map+List+Value) matches batch groupBys") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val sink = try EventStreams.runToParquet(
      EventStreams.typedUserStats(streamEvents).toDF(), "t_typed_stats",
      mode = "update")
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // final snapshot per user = the one with the maximal monotone count
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val fin = sink.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val e = Events.load(spark, sf)
    val batch = e.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum("c").as("n_events"),
        concat_ws(",", sort_array(collect_list(
          concat(col("event_type"), lit(":"), col("c"))))).as("tc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(batch.nonEmpty && fin == batch)
    // top-3 list: spot-check against the batch top values for one user
    val u = batch.head._1
    val topBatch = e.filter(col("user_id") === u)
      .orderBy(col("value").desc).limit(3)
      .collect().map(_.getAs[Double]("value")).toSeq
    val topStream = sink.filter(col("user_id") === u)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().flatMap(r => Seq(3, 4, 5).flatMap(i =>
        if (r.isNullAt(i)) None else Some(r.getDouble(i)))).toSeq
    assert(topStream == topBatch)
  }

  test("custom DSv2 log source: admission-controlled multi-batch drain, exactly-once") {
    // The Kafka-shaped MicroBatchStream (sources.LogSource): offsets
    // checkpointed per partition, maxRecordsPerBatch caps each trigger.
    // A small cap must produce SEVERAL non-empty micro-batches, and the
    // appended union must equal the batch read of the same log bytes —
    // exactly-once across range-planned batches.
    val log = graft.util.Scratch.dir("t_logsrc")
    graft.sources.LogSource.writeLog(spark, sf, log, nParts = 4)
    val src = spark.readStream.format("graft.sources.LogSource")
      .option("path", log).option("maxRecordsPerBatch", 500).load()
    val q = src.writeStream.outputMode("append").format("memory")
      .queryName("t_logsrc_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) > 1,
      "admission control should split the backlog into several batches")
    val streamed = spark.table("t_logsrc_sink")
      .select("log_part", "log_off", "user_id", "event_type", "sec")
      .collect().map(_.toString).sorted
    val batchRead = spark.read.format("graft.sources.LogSource")
      .option("path", log).load()
      .select("log_part", "log_off", "user_id", "event_type", "sec")
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batchRead))
    assert(batchRead.length == Events.load(spark, sf).count())
  }

  test("log source checkpoint resume: appended segment processed exactly once") {
    // Exactly-once RESTART: drain segment 0 through a checkpoint, append
    // segment 1's files to the log, restart from the SAME checkpoint —
    // the second run must emit only the new offsets (no replay, no
    // loss), and the union must equal the full batch read.
    val seg0 = graft.util.Scratch.dir("t_log_seg0")
    val seg1 = graft.util.Scratch.dir("t_log_seg1")
    val ckpt = graft.util.Scratch.dir("t_log_resume_ckpt")
    val medSec = Events.load(spark, sf)
      .selectExpr("CAST(percentile(sec, 0.5) AS LONG) AS m").first().getLong(0)
    graft.sources.LogSource.writeLogSegments(spark, sf, seg0, seg1,
      nParts = 4, splitSec = medSec)
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    def drain(): Int = {
      val before = got.size
      val src = spark.readStream.format("graft.sources.LogSource")
        .option("path", seg0).option("maxRecordsPerBatch", 300).load()
      val q = src.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(_.toString)
          got.synchronized { got ++= rows }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.size - before
    }
    val n1 = drain()
    // append segment 1: copy its files into segment 0's partition dirs
    for {
      pd <- Option(new java.io.File(seg1).listFiles()).getOrElse(Array.empty)
      if pd.isDirectory && pd.getName.startsWith("log_part=")
      f <- Option(pd.listFiles()).getOrElse(Array.empty)
      if f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")
    } {
      val dstDir = new java.io.File(seg0, pd.getName)
      dstDir.mkdirs()
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(dstDir, "b2-" + f.getName).toPath)
    }
    val n2 = drain()
    val total = spark.read.format("graft.sources.LogSource")
      .option("path", seg0).load().count()
    assert(n1 > 0 && n2 > 0, s"both drains must see data ($n1, $n2)")
    assert(n1 + n2 == total, s"exactly-once: $n1 + $n2 != $total")
    assert(got.distinct.size == got.size, "no offset was delivered twice")
  }

  test("Kafka-shaped MemoryStream source drives the same operators (source-agnostic)") {
    // No broker or spark-sql-kafka jar exists in this container, so the
    // Kafka surface is proven as far as the sandbox allows: a
    // MemoryStream emitting the exact Kafka wire schema (binary
    // key/value + topic/partition/offset/timestamp), parsed with the
    // standard from_json pattern and fed to the SAME operator the file
    // stream uses — the operators never see the source.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val payloads = Events.load(spark, sf)
      .orderBy("event_id").limit(200)
      .select(col("user_id"),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("sec"))).as("v"))
      .collect()
      .map(r => (r.getLong(0).toString.getBytes("UTF-8"),
        r.getString(1).getBytes("UTF-8"), "events", 0, 0L,
        new java.sql.Timestamp(0L)))
    def parse(df: org.apache.spark.sql.DataFrame) = df
      .select(from_json(col("value").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id LONG, user_id LONG, event_type STRING, sec LONG")).as("e"))
      .select(col("e.user_id").as("user_id"),
        timestamp_seconds(col("e.sec")).as("ts"),
        col("e.event_type").as("event_type"))
    val ms = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, java.sql.Timestamp)]
    val kafkaCols = Seq("key", "value", "topic", "partition", "offset", "timestamp")
    ms.addData(payloads.take(100).toSeq)
    ms.addData(payloads.drop(100).toSeq)
    val streamed = EventStreams.runToParquet(
      EventStreams.tumblingCounts(parse(ms.toDF().toDF(kafkaCols: _*))),
      "t_kafka_shaped", mode = "complete")
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .collect().map(_.toString).sorted
    val batch = parse(payloads.toSeq.toDF(kafkaCols: _*))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .collect().map(_.toString).sorted
    assert(batch.nonEmpty && streamed.sameElements(batch))
  }

  test("transformWithState TTL evicts idle state; TTLConfig.NONE retains it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val nodataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val old = spark.conf.getOption(provKey)
    val oldNd = spark.conf.getOption(nodataKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // ProcessingTime TimeMode keeps scheduling no-data micro-batches to
    // advance TTL/timers, which makes even Trigger.AvailableNow spin
    // forever; TTL expiry itself is enforced lazily on state access, so
    // the no-data batches add nothing to this test
    spark.conf.set(nodataKey, "false")
    try {
      // Two AvailableNow runs over a file source sharing ONE checkpoint
      // (processAllAvailable loops on ProcessingTime no-data batches;
      // memory sink can't restart — so file source + foreachBatch, the
      // CLAUDE.md resume pattern). The wall-clock gap between the runs
      // exceeds the TTL: the TTL'd drive must restart the count at 1,
      // the TTLConfig.NONE drive must accumulate to 2.
      def drive(ttlMs: Long): Long = {
        val dir = java.nio.file.Files.createTempDirectory("graft-ttl").toString
        val ckpt = s"$dir/ckpt"
        val data = s"$dir/data"
        val buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        def runOnce(): Unit = {
          val src = spark.readStream
            .schema(org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
            .parquet(data).select(col("k")).as[Long]
          val q = EventStreams.ttlCountsTws(src, ttlMs).toDF()
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              buf.synchronized {
                buf ++= df.collect().map(r => (r.getLong(0), r.getLong(1)))
              }
              ()
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        Seq(1L).toDF("k").write.mode("append").parquet(data)
        runOnce()
        Thread.sleep(1500) // > TTL
        Seq(1L).toDF("k").write.mode("append").parquet(data)
        runOnce()
        buf.filter(_._1 == 1L).map(_._2).max
      }
      assert(drive(ttlMs = 300) === 1L,
        "TTL'd state must be evicted after the idle period")
      assert(drive(ttlMs = 0) === 2L,
        "without TTL the running count must survive the idle period")
    } finally {
      old match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
      oldNd match {
        case Some(v) => spark.conf.set(nodataKey, v)
        case None => spark.conf.unset(nodataKey)
      }
    }
  }

  test("rate quota: state recovers from a checkpoint restart (quota never re-granted)") {
    // The durability claim behind q277: a quota consumed before a
    // restart must stay consumed after it. Drain batch 1 through a
    // checkpoint (RocksDB state snapshot), append a file with an
    // EARLIER event-time row for the same (user, day), restart from the
    // same checkpoint — the late row must NOT be admitted (FCFS is not
    // retroactive), while a new day's row is.
    import spark.implicits._
    val dataDir = graft.util.Scratch.dir("t_quota_data")
    val ckpt = graft.util.Scratch.dir("t_quota_ckpt")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def writeBatch(rows: Seq[(Long, Long, Long, Double)]): Unit =
        rows.toDF("user_id", "sec", "event_id", "value").coalesce(1)
          .write.mode("append").parquet(dataDir)
      writeBatch(Seq((1L, 100L, 1L, 1.0), (1L, 200L, 2L, 2.0),
        (1L, 300L, 3L, 3.0)))
      val schema = spark.read.parquet(dataDir).schema
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
      def drain(): Unit = {
        val src = spark.readStream.schema(schema).parquet(dataDir)
        val q = EventStreams.rateQuota(src, maxPerDay = 2).toDF()
          .writeStream.outputMode("append")
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val ids = df.collect().map(_.getLong(2))
            admitted.synchronized { admitted ++= ids }; ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain()
      assert(admitted.sorted == Seq(1L, 2L), s"first drain admitted $admitted")
      // day-0 quota is FULL; event_id 0 arrives later with an earlier
      // event time — must be rejected after the restart. Day 1 is fresh.
      writeBatch(Seq((1L, 50L, 0L, 9.0), (1L, 86500L, 4L, 4.0)))
      drain()
      assert(admitted.sorted == Seq(1L, 2L, 4L),
        s"post-restart admitted $admitted")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("rate quota: MapState admission persists across micro-batches and days") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // (user_id, sec, event_id, value); day = sec div 86400
      val ms = MemoryStream[(Long, Long, Long, Double)]
      val src = ms.toDF().toDF("user_id", "sec", "event_id", "value")
      val q = EventStreams.rateQuota(src, maxPerDay = 2).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("t_rate_quota").start()
      try {
        // batch 1: user 1 day 0 — 3 events arrive out of event-time
        // order; the TWO earliest by (sec, event_id) must be admitted
        ms.addData(Seq((1L, 300L, 13L, 3.0), (1L, 100L, 11L, 1.0),
          (1L, 200L, 12L, 2.0)))
        q.processAllAvailable()
        // batch 2: same user+day — quota ALREADY CONSUMED in batch 1,
        // even by an earlier event-time arrival (FCFS, not retroactive);
        // a new day has its own fresh MapState entry
        ms.addData(Seq((1L, 50L, 10L, 9.0), (1L, 86500L, 14L, 4.0)))
        q.processAllAvailable()
        val got = spark.table("t_rate_quota").collect()
          .map(r => r.getLong(2)).toSet
        assert(got == Set(11L, 12L, 14L), s"admitted $got")
      } finally q.stop()
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("q265 near-dup pipeline: zero resident state, any batch split") {
    // The round-6 verdict's one scale-killer was q265's complete-mode
    // pair aggregation (state keyed by every pair ever seen). The
    // rebuilt pipeline scores each micro-batch against the static index
    // inside foreachBatch — this test drives the SAME helpers over a
    // 3-batch MemoryStream split and pins both claims: (a) the union of
    // per-batch alerts equals the one-shot batch computation (batch
    // boundaries don't change the answer), and (b) every progress
    // reports ZERO stateful operators — resident state cannot grow with
    // stream length because there isn't any.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docs = sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang")
    def slot(id: Long): Long = {
      val m = (id * 2654435761L) % 10; if (m < 0) m + 10 else m
    }
    val idx = queries.Round6b.shingledDocs(
      docs.filter(pmod(col("doc_id") * lit(2654435761L), lit(10L)) =!= 0),
      "db", "nb").persist()
    val probeRows = docs.as[(Long, String, String)].collect()
      .filter(r => slot(r._1) == 0)
    assert(probeRows.length >= 3, "fixture must provide >= 3 probe docs")
    val expected = queries.Round6b.scoreNearDupBatch(
      queries.Round6b.shingledDocs(
        probeRows.toSeq.toDF("doc_id", "text", "lang"), "da", "na"),
      idx).collect().map(_.toString).toSet
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, String)]
    val probe = queries.Round6b.shingledDocs(
      ms.toDF().toDF("doc_id", "text", "lang"), "da", "na")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = probe.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        queries.Round6b.scoreNearDupBatch(batch, idx).collect()
          .foreach(r => got.add(r.toString))
        ()
    }.start()
    try {
      probeRows.grouped(math.max(1, probeRows.length / 3)).foreach { g =>
        ms.addData(g.toSeq); q.processAllAvailable()
      }
      assert(q.recentProgress.nonEmpty)
      assert(q.recentProgress.forall(_.stateOperators.isEmpty),
        "near-dup pipeline must carry no stateful streaming operator")
    } finally { q.stop(); idx.unpersist() }
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet == expected)
  }

  test("q297 dedup-first ingest scorer: per-batch union == direct on dup-heavy corpus, zero state") {
    // BOTH sides replicated 3x with shifted ids (bit-identical payloads
    // — the make_scale_probe worst case): the rep-level scorer expanded
    // through both groups must emit EXACTLY the rows the direct
    // all-copies scorer does, per batch and in union, with no stateful
    // streaming operator. This is the q265-test's property lifted to
    // the dedup-first twin under the duplication it exists for.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docs = sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang")
    def slot(id: Long): Long = {
      val m = (id * 2654435761L) % 10; if (m < 0) m + 10 else m
    }
    def repl(df: org.apache.spark.sql.DataFrame, shift: Long) =
      (0 to 2).map(i => df.select((col("doc_id") + lit(shift * i)).as("doc_id"),
        col("text"), col("lang"))).reduce(_ unionByName _)
    // corpus copies shifted by a multiple of 10 so every copy keeps its
    // original slot (stays corpus-side); probes likewise
    val corpus = repl(docs.filter(pmod(col("doc_id") * lit(2654435761L),
      lit(10L)) =!= 0), 1000000L * 10)
    val probeRows = repl(docs.toDF("doc_id", "text", "lang"), 1000000L * 10)
      .as[(Long, String, String)].collect().filter(r => slot(r._1) == 0)
    assert(probeRows.length >= 6, "fixture must provide probe docs")
    // direct (all-copies) scoring — the ground truth
    val directIdx = queries.Round6b.shingledDocs(corpus, "db", "nb").persist()
    val expected = queries.Round6b.scoreNearDupBatch(
      queries.Round6b.shingledDocs(
        probeRows.toSeq.toDF("doc_id", "text", "lang"), "da", "na"),
      directIdx).collect().map(_.toString).toSet
    // rep-level index + member map
    val cgrp = corpus.groupBy("lang", "text")
      .agg(min("doc_id").as("rep"), collect_list("doc_id").as("ids"))
      .persist()
    val repIdx = queries.Round6b.shingledDocs(
      cgrp.select(col("rep").as("doc_id"), col("lang"), col("text")),
      "pb", "nb").persist()
    val cmem = cgrp.select(col("rep").as("pb"), explode(col("ids")).as("db"))
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, String)]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = ms.toDF().toDF("doc_id", "text", "lang")
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          queries.Round8.scoreNearDupBatchDeduped(batch, repIdx, cmem)
            .collect().foreach(r => got.add(r.toString))
          ()
      }.start()
    try {
      probeRows.grouped(math.max(1, probeRows.length / 3)).foreach { g =>
        ms.addData(g.toSeq); q.processAllAvailable()
      }
      assert(q.recentProgress.nonEmpty)
      assert(q.recentProgress.forall(_.stateOperators.isEmpty),
        "dedup-first ingest must carry no stateful streaming operator")
    } finally {
      q.stop(); directIdx.unpersist(); repIdx.unpersist(); cgrp.unpersist()
    }
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet == expected)
  }
}
