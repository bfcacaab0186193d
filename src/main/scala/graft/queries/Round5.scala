package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables
import graft.util.Det
import graft.util.Slots

/** Round-5 queries: the arbitrary-stateful-streaming surface scored as
  * a declared query (VERDICT r4 item 5), the q51 multimodal feature set
  * upgraded from rows-only to an exact oracle (item 6), and this
  * round's coverage additions. Determinism rules per SURVEY.md §2.3 /
  * CLAUDE.md (int64-backed sums, whole-second event time, total order
  * with unique tie-break).
  */
object Round5 {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  val defs: Map[String, QueryDef] = Map(

    // ---- arbitrary stateful streaming (transformWithState), SCORED -----
    // Spark 4's arbitrary-state API run as a declared query: per-user
    // running counts + first/last event seconds kept in a named
    // ValueState in the RocksDB state store (column families required;
    // the provider is also the 100 TB choice — state spills to disk
    // instead of living on the JVM heap). The file stream drains under
    // Trigger.AvailableNow into a scratch parquet sink (q148/q152); the
    // final state per user — max of the monotone running count, min/max
    // of the cumulative bounds — is scored against the batch aggregate.
    // State is keyed per user, so store size scales with |users|, not
    // events.
    "q208_stream_stateful" -> QueryDef(
      (s, dir) => {
        val key = "spark.sql.streaming.stateStore.providerClass"
        val old = s.conf.getOption(key)
        s.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val sink = try {
          val src = graft.streaming.EventStreams.eventFileStream(s, dir)
            .select(col("user_id"), col("tss").as("ts"))
          graft.streaming.EventStreams.runToParquet(
            graft.streaming.EventStreams.runningUserCountsTws(src).toDF(),
            "q208_stream_stateful_sink", mode = "update")
        } finally old match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
        sink.groupBy("user_id")
          .agg(max("n_events").as("n_events"),
            min("first_sec").as("first_sec"),
            max("last_sec").as("last_sec"))
          .orderBy("user_id")
      },
      Some(s"""SELECT user_id, COUNT(*) AS n_events,
        MIN(${Det.epochSecSql("ts")}) AS first_sec,
        MAX(${Det.epochSecSql("ts")}) AS last_sec
      FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- multimodal feature extraction, fully ORACLED (q51 upgrade) ----
    // The complete featurize() output scored exactly, wrapping checksum
    // included: Java's `sum = sum * 31 + b` over the 16 synthetic md5
    // bytes is the base-31 polynomial reduced mod 2^64 with two's-
    // complement sign. The degree-15 polynomial's magnitude tops out
    // near 6.3e24 — comfortably inside DuckDB's HUGEINT — so the oracle
    // evaluates it whole in int128, takes one `% 2^64`, and re-signs.
    // Exact integer arithmetic end to end; no float, no ulp hazard.
    "q51_mm_features" -> QueryDef(
      (s, dir) => graft.multimodal.Multimodal
        .featuresDF(Tables.load(s, dir, "documents"))
        .orderBy("doc_id"),
      Some {
        val bytes = (0 until 16)
          .map(i => s"${Round3.hexByteSql("hx", i)} AS b$i").mkString(", ")
        val poly = (0 until 16)
          .foldLeft("CAST(0 AS HUGEINT)")((acc, i) => s"($acc * 31 + b$i)")
        s"""WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
        b AS (SELECT doc_id, $bytes FROM h),
        c AS (SELECT doc_id, b0, b1,
            $poly % 18446744073709551616 AS cku FROM b)
        SELECT doc_id, 'application/octet-stream' AS mime,
          CAST(16 AS BIGINT) AS n_bytes,
          CAST(CASE WHEN cku >= 9223372036854775808
                    THEN cku - 18446744073709551616
                    ELSE cku END AS BIGINT) AS checksum,
          CAST(16 + (b0 % 16) * 16 AS BIGINT) AS width,
          CAST(16 + (b1 % 16) * 16 AS BIGINT) AS height
        FROM c ORDER BY doc_id"""
      }),

    // ---- multimodal resize path, ORACLED --------------------------------
    // Completes the multimodal trio (q146 decode, q147 frame-sample):
    // resize() re-derives a 64x32/64 = 32-byte payload by cycling the
    // original 16 md5 bytes, then featurize() runs over the resized
    // records — the full two-stage mapPartitions pipeline scored. The
    // oracle rebuilds the resized byte sequence (b[i mod 16]) and folds
    // the wrapping checksum in HUGEINT with a per-step % 2^64 (the
    // degree-31 polynomial exceeds int128 unreduced).
    "q209_mm_resize" -> QueryDef(
      (s, dir) => graft.multimodal.Multimodal.featurize(
          graft.multimodal.Multimodal.resize(
            graft.multimodal.Multimodal.syntheticMedia(
              Tables.load(s, dir, "documents")), 64, 32)).toDF()
        .orderBy("doc_id"),
      Some {
        val bytes = (0 until 16)
          .map(i => s"${Round3.hexByteSql("hx", i)} AS b$i").mkString(", ")
        val poly = (0 until 32).foldLeft("CAST(0 AS HUGEINT)")(
          (acc, i) => s"(($acc * 31 + b${i % 16}) % 18446744073709551616)")
        s"""WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
        b AS (SELECT doc_id, $bytes FROM h),
        c AS (SELECT doc_id, b0, b1, $poly AS cku FROM b)
        SELECT doc_id, 'application/octet-stream' AS mime,
          CAST(32 AS BIGINT) AS n_bytes,
          CAST(CASE WHEN cku >= 9223372036854775808
                    THEN cku - 18446744073709551616
                    ELSE cku END AS BIGINT) AS checksum,
          CAST(16 + (b0 % 16) * 16 AS BIGINT) AS width,
          CAST(16 + (b1 % 16) * 16 AS BIGINT) AS height
        FROM c ORDER BY doc_id"""
      }),

    // ---- incremental near-dup (daily-ingest vs standing corpus) --------
    // The update-shaped dedup every production pipeline actually runs:
    // a hash-selected ~10% "new batch" probes the other 90% "corpus"
    // for word-3-gram Jaccard >= 0.5 matches (lang-blocked). Candidates
    // are strictly batch×corpus — the corpus is never self-joined and
    // its index never reshuffles (probe side broadcast; see
    // Dedup.jaccardPairsAgainst). Same shingle math as q43, so the
    // oracle is q43's CTE with the split predicate.
    "q210_llm_incremental_neardup" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val isNew = Slots.Probe.in(col("doc_id"))
        Dedup.jaccardPairsAgainst(docs.filter(isNew), docs.filter(!isNew),
            "doc_id", "text", n = 3, threshold = 0.5,
            blockCols = Seq("lang"))
          .orderBy("da", "db")
      },
      Some(s"""WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      sh0 AS (SELECT doc_id, lang, w[i.i] || '_' || w[i.i+1] || '_' || w[i.i+2] AS g
        FROM s, ${LlmOps.shingleIdx("s")} WHERE i.i + 2 <= len(w)),
      sh AS (SELECT DISTINCT doc_id, lang, g FROM sh0),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      p AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.g = b.g AND a.lang = b.lang
        WHERE ${Slots.Probe.inSql("a.doc_id")}
          AND ${Slots.Probe.outSql("b.doc_id")}
        GROUP BY 1, 2)
      SELECT da, db, round(inter/(x.n + y.n - inter), 6) AS jaccard
      FROM p JOIN sz x ON p.da = x.doc_id JOIN sz y ON p.db = y.doc_id
      WHERE inter/(x.n + y.n - inter) >= 0.5
      ORDER BY da, db""")),

    // ---- canonical-document selection (quality survivorship) -----------
    // Near-dup group resolution ending in the decision real curation
    // makes: per connected component, KEEP the highest-quality member
    // (longest text, doc_id tie-break) rather than the arbitrary
    // min-id. One tiny window per cluster after CC — clusters are
    // near-dup groups, so the window input is bounded by cluster size,
    // not corpus size. Shares q76's pair relation and its recursive-CTE
    // ground truth.
    "q211_llm_canonical_doc" -> QueryDef(
      (s, dir) => {
        val comps = Dedup.components(LlmOps.jaccardPairsShared(s, dir))
          .select(col("id").as("doc_id"), col("comp"))
        val m = comps.join(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id")
        val w = Window.partitionBy("comp")
          .orderBy(col("n_chars").desc, col("doc_id"))
        m.withColumn("rn", row_number().over(w))
          .groupBy("comp")
          .agg(max(when(col("rn") === 1, col("doc_id"))).as("survivor_id"),
            count(lit(1)).as("n_members"),
            max(when(col("rn") === 1, col("n_chars"))).cast("long")
              .as("survivor_chars"))
          .orderBy("comp")
      },
      Some(LlmOps.componentsClosureCte + """,
      comp AS (SELECT a AS doc_id, least(a, MIN(b)) AS comp FROM r GROUP BY a),
      m AS (SELECT c.comp, c.doc_id, d.n_chars,
          row_number() OVER (PARTITION BY c.comp
            ORDER BY d.n_chars DESC, c.doc_id) AS rn
        FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
      SELECT comp, MAX(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
        COUNT(*) AS n_members,
        CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS survivor_chars
      FROM m GROUP BY comp ORDER BY comp""")),

    // ---- n-gram novelty (first-appearance memorization audit) ----------
    // Per document: the fraction of its distinct word-3-grams appearing
    // for the FIRST time in corpus order (min doc_id over the shingle's
    // occurrences) — the dataset-freshness curve a memorization audit
    // reads (a late document with near-zero novelty is recitation).
    // Linear: one distinct, one min-per-shingle aggregate, one join
    // back on the shingle key (co-partitioned with the aggregate's
    // exchange) — attribution to first appearance, never pairs. The
    // shingle relation is persisted: two lineages (min-doc aggregate +
    // novelty join) read it, and without the persist the plan scans
    // and explodes the documents twice (q169 lesson).
    "q212_llm_ngram_novelty" -> QueryDef(
      (s, dir) => {
        val sh = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 3) // Spark sequence() descends when stop < start
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(w) - 3), i -> concat_ws('_', w[i], w[i+1], w[i+2]))"))
            .as("g"))
          .distinct()
          .persist()
        val first = sh.groupBy("g").agg(min("doc_id").as("first_id"))
        sh.join(first, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_sh"),
            sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty_rate",
            col("n_novel").cast("double") / col("n_sh"))
          .orderBy("doc_id")
      },
      Some(s"""WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sh0 AS (SELECT doc_id, w[i.i] || '_' || w[i.i+1] || '_' || w[i.i+2] AS g
        FROM s, ${LlmOps.shingleIdx("s")} WHERE i.i + 2 <= len(w)),
      sh AS (SELECT DISTINCT doc_id, g FROM sh0),
      f AS (SELECT g, MIN(doc_id) AS first_id FROM sh GROUP BY g)
      SELECT sh.doc_id, COUNT(*) AS n_sh,
        CAST(SUM(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        CAST(SUM(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*) AS novelty_rate
      FROM sh JOIN f ON sh.g = f.g
      GROUP BY sh.doc_id ORDER BY sh.doc_id""")),

    // ---- token frequency-of-frequencies (Zipf spectrum) ----------------
    // How many distinct tokens occur exactly k times — the
    // vocabulary-shape diagnostic tokenizer training reads (hapax mass,
    // head/tail balance) without any non-portable log fit. Two hash
    // aggregations, both with map-side partials; output is bounded by
    // the number of DISTINCT frequencies (≈ O(sqrt(corpus tokens))).
    "q213_llm_freq_spectrum" -> QueryDef(
      (s, dir) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
        t(s, dir, "documents")
          .select(explode(split(norm, " ")).as("w"))
          .filter(length(col("w")) >= 1)
          .groupBy("w").agg(count(lit(1)).as("cnt"))
          .groupBy("cnt").agg(count(lit(1)).as("n_tokens"))
          .select(col("cnt").cast("long").as("cnt"),
            col("n_tokens").cast("long").as("n_tokens"))
          .orderBy("cnt")
      },
      Some("""WITH tok AS (SELECT unnest(string_split(trim(regexp_replace(
          regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS w
        FROM documents),
      tf AS (SELECT w, COUNT(*) AS cnt FROM tok WHERE length(w) >= 1 GROUP BY w)
      SELECT cnt, COUNT(*) AS n_tokens FROM tf
      GROUP BY cnt ORDER BY cnt""")),

    // ---- event-time TIMER sessions (transformWithState), SCORED --------
    // The timer surface of the arbitrary-state API as a declared query:
    // EventStreams.TimerSessionProcessor sessionizes per user with
    // in-batch closure + an event-time timer flushing the trailing open
    // session when the watermark passes (last + gap). Scored with the
    // q181 margin recipe: both engines keep only sessions whose end
    // sits a safe margin below the final watermark (maxSec - delay),
    // where every timer has provably fired — the exact eviction
    // boundary is engine-internal and stays outside the compared set.
    // Store size tracks ACTIVE users (one ValueState + one timer each),
    // not events.
    "q214_stream_timer_sessions" -> QueryDef(
      (s, dir) => {
        val key = "spark.sql.streaming.stateStore.providerClass"
        val old = s.conf.getOption(key)
        s.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val sink = try {
          val src = graft.streaming.EventStreams.eventFileStream(s, dir)
            .select(col("user_id"), col("tss").as("ts"))
          graft.streaming.EventStreams.runToParquet(
            graft.streaming.EventStreams
              .timerSessions(src, gapSec = 1800L, delay = "1 second").toDF(),
            "q214_stream_timer_sessions_sink")
        } finally old match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
        val maxSec = graft.sources.Events.load(s, dir)
          .agg(max("sec")).first().getLong(0)
        val bound = maxSec - 1 - 1800 - 5 // delay, gap, engine margin
        sink.filter(col("last_sec") <= bound)
          .select(col("user_id"), col("start_sec"), col("last_sec"),
            col("n_events"))
          .orderBy("user_id", "start_sec")
      },
      Some(s"""WITH e AS (SELECT user_id, ${Det.epochSecSql("ts")} AS sec FROM events),
      x AS (SELECT user_id, sec, CASE WHEN sec - LAG(sec) OVER (
          PARTITION BY user_id ORDER BY sec) > 1800 THEN 1 ELSE 0 END AS brk
        FROM e),
      g AS (SELECT user_id, sec, SUM(brk) OVER (PARTITION BY user_id
          ORDER BY sec ROWS UNBOUNDED PRECEDING) AS sid FROM x),
      sess AS (SELECT user_id, MIN(sec) AS start_sec, MAX(sec) AS last_sec,
          COUNT(*) AS n_events FROM g GROUP BY user_id, sid)
      SELECT user_id, start_sec, last_sec, n_events FROM sess
      WHERE last_sec <= (SELECT MAX(${Det.epochSecSql("ts")}) - 1806 FROM events)
      ORDER BY user_id, start_sec""")),

    // ---- state-store batch reader (state introspection) ----------------
    // Spark's `statestore` batch source: a streaming per-user count
    // drains under AvailableNow into an explicit checkpoint, then the
    // checkpoint's state store is read back as an ordinary DataFrame
    // (key struct + value struct per state row) and scored against the
    // batch aggregate — proving the persisted state IS the answer. This
    // is the ops surface for 100 TB streaming jobs: state audits,
    // skew forensics (partition_id is in the schema), and repair
    // tooling read the store without replaying the stream. Store rows
    // scale with |users|, not events.
    "q216_stream_state_reader" -> QueryDef(
      (s, dir) => {
        val ckpt = graft.util.Scratch.dir("q216_ckpt")
        val src = graft.streaming.EventStreams.eventFileStream(s, dir)
        val agg = src.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        graft.streaming.EventStreams.runToParquet(agg,
          "q216_stream_state_reader_sink", mode = "update",
          checkpoint = Some(ckpt))
        s.read.format("statestore").option("path", ckpt).load()
          .selectExpr("key.user_id", "value.*")
          .toDF("user_id", "n_events")
          .orderBy("user_id")
      },
      Some("SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1 ORDER BY 1")),

    // ---- composite state: MapState + ListState + ValueState ------------
    // The remaining transformWithState primitives as a declared query
    // (q208 = ValueState, q214 = timers): per user, a MapState holds
    // per-event-type counts (point updates — one entry written per row,
    // the rest of the user's state untouched), a ListState the running
    // top-3 event values (merge-sort-truncate keeps it ≤3 forever), a
    // ValueState the monotone total. The final snapshot per user (max
    // n_events) is scored against the batch groupBys. RocksDB provider
    // required (column families) — and the 100 TB choice anyway.
    "q217_stream_composite_state" -> QueryDef(
      (s, dir) => {
        val key = "spark.sql.streaming.stateStore.providerClass"
        val old = s.conf.getOption(key)
        s.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val sink = try {
          val src = graft.streaming.EventStreams.eventFileStream(s, dir)
          graft.streaming.EventStreams.runToParquet(
            graft.streaming.EventStreams.typedUserStats(src).toDF(),
            "q217_stream_composite_state_sink", mode = "update")
        } finally old match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
        val w = Window.partitionBy("user_id").orderBy(col("n_events").desc)
        sink.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select("user_id", "n_events", "type_counts", "top1", "top2", "top3")
          .orderBy("user_id")
      },
      Some("""WITH tc AS (SELECT user_id, event_type, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      tcs AS (SELECT user_id,
          string_agg(event_type || ':' || c, ',' ORDER BY event_type) AS type_counts,
          CAST(SUM(c) AS BIGINT) AS n_events FROM tc GROUP BY 1),
      tv AS (SELECT user_id, v[1] AS top1, v[2] AS top2, v[3] AS top3 FROM (
          SELECT user_id, list(value ORDER BY value DESC)[1:3] AS v
          FROM events GROUP BY 1))
      SELECT t.user_id, t.n_events, t.type_counts, v.top1, v.top2, v.top3
      FROM tcs t JOIN tv v USING (user_id) ORDER BY t.user_id""")),

    // ---- exact-substring duplicate coverage (position-level) -----------
    // The ExactSubstr audit shape (Lee et al., "Deduplicating Training
    // Data Makes Language Models Better"): per document, the fraction
    // of token POSITIONS covered by at least one word-5-gram that also
    // occurs in a DIFFERENT document. q212 attributes each shingle to
    // its first appearance; this measures how much of each document's
    // surface is cross-doc duplicated text — the number a span-removal
    // pass would delete. Linear: shingle explode (~n positions), one
    // distinct-doc count per shingle, join back on the shingle key,
    // ×5 offset explode, distinct positions. Never pairs; the shingle
    // relation is persisted because two lineages (dup-set aggregate +
    // coverage join) read it.
    "q215_llm_dup_span_coverage" -> QueryDef(
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        val sh = base.filter(size(col("w")) >= 5)
          .select(col("doc_id"), posexplode(expr(
            "transform(sequence(0, size(w) - 5), i -> concat_ws('_', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))")))
          .withColumnRenamed("col", "g")
          .persist()
        val dup = sh.groupBy("g").agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") >= 2).select("g")
        // |union of [pos, pos+4]| per doc WITHOUT the ×5 offset explode:
        // Dedup.spanUnionCount's gap-islands window (the 100×-probe
        // fix — the explode+distinct form went superlinear, BASELINE.md)
        val cov = Dedup.spanUnionCount(
          sh.join(dup, "g").select(col("doc_id"), col("pos")),
          "doc_id", "pos", span = 5)
        base.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
          .join(cov, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_cov"), lit(0L)).as("n_cov"),
            (coalesce(col("n_cov"), lit(0L)).cast("double") / col("n_tokens"))
              .as("cov_rate"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      s AS (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM d),
      sh AS (SELECT doc_id, i AS pos,
          w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' || w[i+4] AS g
        FROM s),
      dup AS (SELECT g FROM sh GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
      cov AS (SELECT DISTINCT sh.doc_id, sh.pos + o.o AS p
        FROM sh JOIN dup USING (g), (SELECT unnest(range(0, 5)) AS o) o),
      c2 AS (SELECT doc_id, COUNT(*) AS n_cov FROM cov GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
        CAST(COALESCE(c2.n_cov, 0) AS BIGINT) AS n_cov,
        CAST(COALESCE(c2.n_cov, 0) AS DOUBLE) / len(d.w) AS cov_rate
      FROM d LEFT JOIN c2 USING (doc_id) ORDER BY d.doc_id""")),

    // ---- temperature-scaled mixture weights (alpha = 0.5) --------------
    // Domain-mixture reweighting under a sampling temperature: per
    // language, mass = total chars; tempered weight = mass^0.5 / Z.
    // alpha < 1 flattens the mixture (upweights tail languages) — the
    // standard multilingual-pretraining rebalance. Cross-engine float
    // discipline: sqrt is IEEE-exact in both engines, and Z folds the
    // per-lang sqrts in sorted lang order on BOTH sides (Spark
    // aggregate() HOF over a sort_array'd struct list; DuckDB
    // list_reduce over list(... ORDER BY lang) — same summation order,
    // same doubles). The Z frame is a 1-row broadcast scalar
    // (PlanGuardSpec-whitelisted).
    "q218_llm_mixture_temperature" -> QueryDef(
      (s, dir) => {
        val c = t(s, dir, "documents").groupBy("lang")
          .agg(sum("n_chars").as("mass"))
        val z = c.agg(
            sort_array(collect_list(struct(col("lang"), col("mass")))).as("a"),
            sum("mass").as("total"))
          .select(expr(
            "aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + sqrt(CAST(x.mass AS DOUBLE)))")
            .as("z"), col("total"))
        c.crossJoin(broadcast(z))
          .select(col("lang"), col("mass").cast("long").as("mass"),
            (col("mass").cast("double") / col("total")).as("raw_share"),
            (sqrt(col("mass").cast("double")) / col("z")).as("temp_share"),
            floor(lit(100000) * sqrt(col("mass").cast("double")) / col("z"))
              .cast("long").as("n_target"))
          .orderBy("lang")
      },
      Some("""WITH c AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS mass
        FROM documents GROUP BY lang),
      z AS (SELECT list_reduce(list(sqrt(CAST(mass AS DOUBLE)) ORDER BY lang),
          (a, x) -> a + x) AS z, CAST(SUM(mass) AS BIGINT) AS total FROM c)
      SELECT c.lang, c.mass,
        CAST(c.mass AS DOUBLE) / z.total AS raw_share,
        sqrt(CAST(c.mass AS DOUBLE)) / z.z AS temp_share,
        CAST(FLOOR(100000 * sqrt(CAST(c.mass AS DOUBLE)) / z.z) AS BIGINT) AS n_target
      FROM c, z ORDER BY c.lang""")),

    // ---- observable metrics (CollectMetrics) ---------------------------
    // Spark's `observe` API: accumulator-style metrics collected ON the
    // pipeline's rows as an action runs — zero extra passes over the
    // data, which is the 100 TB point (a separate audit query would
    // re-scan the input; CollectMetrics rides the existing scan). The
    // observed pipeline is a filtered lineitem scan driven by a noop
    // write; the declared result is the 1-row metrics record. Integer
    // metrics only (count / int64 sum / min / max) — exact in both
    // engines; l_quantity is whole-valued so the long cast is lossless.
    "q219_observe_metrics" -> QueryDef(
      (s, dir) => {
        val obs = new org.apache.spark.sql.Observation()
        t(s, dir, "lineitem")
          .filter(col("l_quantity") >= 25)
          .observe(obs,
            count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"))
          .write.format("noop").mode("overwrite").save()
        val m = obs.get
        import s.implicits._
        Seq((m("n_rows").asInstanceOf[Long], m("sum_qty").asInstanceOf[Long],
          m("min_key").asInstanceOf[Long], m("max_key").asInstanceOf[Long]))
          .toDF("n_rows", "sum_qty", "min_key", "max_key")
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
      FROM lineitem WHERE l_quantity >= 25""")),

    // ---- sequence pattern matching WITH MEASURES (q124 upgrade) --------
    // MATCH_RECOGNIZE semantics beyond q124's boolean journey test:
    // per user, find every non-overlapping occurrence of the funnel
    // pattern signup -> view+ -> purchase ("sv+p" over the event-code
    // path) and compute per-match measures — match count, total and
    // max view-run length. Greedy non-overlapping left-to-right
    // matching is identical in java.util.regex (Spark) and RE2
    // (DuckDB) for this pattern class. The path string is per-user
    // bounded (events per user, not corpus-sized); construction is one
    // groupBy with an array_sort — the same single-shuffle shape as
    // q124, measures extracted by array HOFs with no extra pass.
    "q220_evt_pattern_measures" -> QueryDef(
      (s, dir) => {
        val e = graft.sources.Events.load(s, dir)
          .select(col("user_id"), col("sec"), col("event_id"),
            substring(col("event_type"), 1, 1).as("l"))
        e.groupBy("user_id")
          .agg(concat_ws("", transform(
            array_sort(collect_list(struct(col("sec"), col("event_id"), col("l")))),
            x => x.getField("l"))).as("path"))
          .select(col("user_id"),
            expr("regexp_extract_all(path, 'sv+p', 0)").as("m"))
          .filter(size(col("m")) >= 1)
          .select(col("user_id"),
            size(col("m")).cast("long").as("n_matches"),
            expr("aggregate(m, 0L, (a, x) -> a + length(x) - 2)")
              .as("total_views"),
            expr("array_max(transform(m, x -> CAST(length(x) - 2 AS BIGINT)))")
              .as("max_views"))
          .orderBy("user_id")
      },
      Some(s"""WITH e AS (SELECT user_id, ${Det.epochSecSql("ts")} AS sec,
          event_id, substring(event_type, 1, 1) AS l FROM events),
      p AS (SELECT user_id, string_agg(l, '' ORDER BY sec, event_id) AS path
        FROM e GROUP BY user_id),
      m AS (SELECT user_id, regexp_extract_all(path, 'sv+p') AS m FROM p)
      SELECT user_id, CAST(len(m) AS BIGINT) AS n_matches,
        CAST(list_reduce(list_transform(m, x -> length(x) - 2),
          (a, x) -> a + x) AS BIGINT) AS total_views,
        CAST(list_max(list_transform(m, x -> length(x) - 2)) AS BIGINT)
          AS max_views
      FROM m WHERE len(m) >= 1 ORDER BY user_id""")),

    // ---- custom DSv2 micro-batch streaming source (Kafka-shaped) -------
    // The broker-less Kafka answer as a SCORED query: events are
    // materialized as a partitioned commit log (8 partitions, dense
    // per-partition offsets), then streamed back through
    // sources.LogSource — a full MicroBatchStream with checkpointed
    // offset ranges and admission control (maxRecordsPerBatch sized to
    // drain in ~4 batches at any SF). The appended rows are scored
    // against the events batch aggregate: exactly-once delivery across
    // multiple admission-controlled triggers, or the counts don't
    // match. StreamingSpec additionally pins the multi-batch drain and
    // the batch-read twin on identical bytes.
    "q221_stream_log_source" -> QueryDef(
      (s, dir) => {
        val log = graft.util.Scratch.dir("q221_log")
        graft.sources.LogSource.writeLog(s, dir, log, nParts = 8)
        val total = graft.sources.Events.load(s, dir).count()
        val src = s.readStream.format("graft.sources.LogSource")
          .option("path", log)
          .option("maxRecordsPerBatch", math.max(1000L, total / 4))
          .load()
        val sink = graft.streaming.EventStreams.runToParquet(
          src.select("user_id", "event_type", "sec"),
          "q221_stream_log_source_sink")
        sink.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), min("sec").as("first_sec"),
            max("sec").as("last_sec"),
            countDistinct("event_type").as("n_types"))
          .orderBy("user_id")
      },
      Some(s"""SELECT user_id, COUNT(*) AS n_events,
        MIN(${Det.epochSecSql("ts")}) AS first_sec,
        MAX(${Det.epochSecSql("ts")}) AS last_sec,
        COUNT(DISTINCT event_type) AS n_types
      FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- ANN via product quantization + ADC -----------------------------
    // The memory-bounded ANN variant that completes the trio (q46 brute
    // cosine, q47 LSH, q77 IVF): 64-dim vectors quantize to 8 one-byte
    // codes (8 subspaces × 16 centroids; codebook = subvectors of the
    // 16 lowest vec_ids — deterministic, no k-means iterations), and a
    // probe answers via asymmetric distance computation: one 8×16
    // lookup table, approx distance = ordered fold of 8 table entries.
    // At 100 TB this is the shape that matters: codes are 8 bytes per
    // vector (32× smaller than the floats), the codebook and probe
    // table are broadcast literals, and the scan never touches raw
    // vectors. Cross-engine float discipline: all arithmetic in DOUBLE
    // (explicit casts — DuckDB would otherwise fold in FLOAT), every
    // sum a fixed-order fold (zip_with/aggregate ≡ list_zip/
    // list_reduce; 0.0-init vs first-element-init agree exactly since
    // 0.0 + x == x), argmin tie-broken on centroid id.
    "q222_llm_ann_pq" -> QueryDef(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), expr(
            "transform(embedding, v -> CAST(v AS DOUBLE))").as("emb"))
          .persist()
        val sub = (0 until 8).map(i => lit(i)) // subspace ids
        val cb = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("c"), explode(array(sub: _*)).as("s"),
            col("emb"))
          .select(col("c"), col("s"),
            expr("slice(emb, s * 8 + 1, 8)").as("cen"))
        val d2 = expr("""aggregate(
          zip_with(slice(emb, s * 8 + 1, 8), cen, (x, y) -> (x - y) * (x - y)),
          CAST(0.0 AS DOUBLE), (a, x) -> a + x)""")
        val wv = Window.partitionBy("vec_id", "s").orderBy("d2", "c")
        val code = e.crossJoin(broadcast(cb))
          .select(col("vec_id"), col("s"), col("c"), d2.as("d2"))
          .withColumn("rn", row_number().over(wv)).filter(col("rn") === 1)
          .select("vec_id", "s", "c")
        val qt = cb.crossJoin(broadcast(
            e.filter(col("vec_id") === 42).select(col("emb").as("qemb"))))
          .select(col("s"), col("c"), expr("""aggregate(
            zip_with(slice(qemb, s * 8 + 1, 8), cen, (x, y) -> (x - y) * (x - y)),
            CAST(0.0 AS DOUBLE), (a, x) -> a + x)""").as("qd"))
        code.join(broadcast(qt), Seq("s", "c"))
          .groupBy("vec_id")
          .agg(expr("""aggregate(
            transform(sort_array(collect_list(struct(s, qd))), x -> x.qd),
            CAST(0.0 AS DOUBLE), (a, x) -> a + x)""").as("adist"))
          .orderBy("adist", "vec_id").limit(25)
      },
      Some("""WITH e AS (SELECT vec_id,
          list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
        FROM embeddings),
      cb AS (SELECT vec_id AS c, s.s, emb[(s.s*8+1):(s.s*8+8)] AS cen
        FROM e, (SELECT unnest(range(0, 8)) AS s) s WHERE vec_id < 16),
      d AS (SELECT e.vec_id, cb.s, cb.c,
          list_reduce(list_transform(list_zip(e.emb[(cb.s*8+1):(cb.s*8+8)], cb.cen),
            p -> (p[1] - p[2]) * (p[1] - p[2])), (a, x) -> a + x) AS d2
        FROM e, cb),
      code AS (SELECT vec_id, s, c FROM (
          SELECT vec_id, s, c, ROW_NUMBER() OVER (
            PARTITION BY vec_id, s ORDER BY d2, c) AS rn FROM d)
        WHERE rn = 1),
      qt AS (SELECT cb.s, cb.c,
          list_reduce(list_transform(list_zip(p.emb[(cb.s*8+1):(cb.s*8+8)], cb.cen),
            x -> (x[1] - x[2]) * (x[1] - x[2])), (a, x) -> a + x) AS qd
        FROM cb, (SELECT emb FROM e WHERE vec_id = 42) p),
      ad AS (SELECT code.vec_id,
          list_reduce(list(qt.qd ORDER BY code.s), (a, x) -> a + x) AS adist
        FROM code JOIN qt ON code.s = qt.s AND code.c = qt.c
        GROUP BY code.vec_id)
      SELECT vec_id, adist FROM ad ORDER BY adist, vec_id LIMIT 25""")),

    // ---- streaming CDC upsert: foreachBatch + MERGE INTO ----------------
    // The production streaming-upsert pattern end to end: the commit log
    // streams in admission-controlled micro-batches, each batch reduces
    // to its latest row per user (max log_off — users are pinned to one
    // log partition and offsets follow (sec, event_id), so per-user
    // offset order IS event-time order), and foreachBatch MERGEs it
    // into a v2 catalog table with a monotonic-offset guard — the
    // idempotent upsert that makes retried batches safe. Final table =
    // last event per user, scored against the batch window. Ties
    // q221's source and q153's MERGE machinery into one path.
    "q223_stream_merge_upsert" -> QueryDef(
      (s, dir) => {
        graft.sources.MemCatalog.recreate(s, "user_latest",
          "(user_id BIGINT, last_off BIGINT, last_sec BIGINT, last_type STRING)")
        val log = graft.util.Scratch.dir("q223_log")
        graft.sources.LogSource.writeLog(s, dir, log, nParts = 8)
        val total = graft.sources.Events.load(s, dir).count()
        val src = s.readStream.format("graft.sources.LogSource")
          .option("path", log)
          .option("maxRecordsPerBatch", math.max(1000L, total / 4))
          .load()
        graft.streaming.EventStreams.drain(src) { (df, _) =>
          val w = Window.partitionBy("user_id").orderBy(col("log_off").desc)
          df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select("user_id", "log_off", "sec", "event_type")
            .createOrReplaceTempView("q223_batch")
          df.sparkSession.sql(
            """MERGE INTO graftmem.user_latest t USING q223_batch b
              ON t.user_id = b.user_id
              WHEN MATCHED AND b.log_off > t.last_off THEN UPDATE SET
                last_off = b.log_off, last_sec = b.sec, last_type = b.event_type
              WHEN NOT MATCHED THEN INSERT (user_id, last_off, last_sec, last_type)
                VALUES (b.user_id, b.log_off, b.sec, b.event_type)""")
          ()
        }
        s.sql("""SELECT user_id, last_sec, last_type
          FROM graftmem.user_latest ORDER BY user_id""")
      },
      Some(s"""WITH e AS (SELECT user_id, event_id, event_type,
          ${Det.epochSecSql("ts")} AS sec FROM events),
      r AS (SELECT user_id, sec, event_type, ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY sec DESC, event_id DESC) AS rn FROM e)
      SELECT user_id, sec AS last_sec, event_type AS last_type
      FROM r WHERE rn = 1 ORDER BY user_id""")),

    // ---- keyless interval join via time binning -------------------------
    // The interval-overlap JOIN with no equi key (q11/q113 ride an
    // equi key + range residual; q112 is a sweep line): two interval
    // sets (per-user 10-minute activity windows, split even/odd) pair
    // up whenever they overlap. A naive theta join is O(|A|·|B|) — the
    // scalable shape buckets both sides into fixed-width time bins,
    // equi-joins on bin, and counts each pair exactly once AT THE FIRST
    // SHARED BIN (bin == greatest(floor(a_start/W), floor(b_start/W)))
    // so no post-join distinct is needed. Interval length / W bounds
    // bins-per-interval (<= 2 here); per-bin membership is bounded by
    // arrival density, so the join parallelizes by time bin instead of
    // degenerating to all-pairs. The oracle is the plain theta join.
    "q224_join_interval_binned" -> QueryDef(
      (s, dir) => {
        val W = 3600L
        val iv = graft.sources.Events.load(s, dir)
          .groupBy("user_id").agg(min("sec").as("s"))
          .select(col("user_id"), col("s"), (col("s") + 600L).as("e"))
        val a = iv.filter(pmod(col("user_id"), lit(2)) === 0)
          .select(col("user_id").as("a_id"), col("s").as("a_s"), col("e").as("a_e"))
        val b = iv.filter(pmod(col("user_id"), lit(2)) === 1)
          .select(col("user_id").as("b_id"), col("s").as("b_s"), col("e").as("b_e"))
        val ab = a.select(col("a_id"), col("a_s"), col("a_e"),
          explode(expr(s"sequence(a_s DIV $W, a_e DIV $W)")).as("bin"))
        val bb = b.select(col("b_id"), col("b_s"), col("b_e"),
          explode(expr(s"sequence(b_s DIV $W, b_e DIV $W)")).as("bin"))
        ab.join(bb, "bin")
          .filter(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
          .filter(col("bin") === greatest(
            expr(s"a_s DIV $W"), expr(s"b_s DIV $W")))
          .select(col("a_id"), col("b_id"),
            (least(col("a_e"), col("b_e")) -
              greatest(col("a_s"), col("b_s"))).as("overlap_sec"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH iv AS (SELECT user_id, MIN(${Det.epochSecSql("ts")}) AS s,
          MIN(${Det.epochSecSql("ts")}) + 600 AS e FROM events GROUP BY user_id),
      a AS (SELECT user_id AS a_id, s AS a_s, e AS a_e FROM iv WHERE user_id % 2 = 0),
      b AS (SELECT user_id AS b_id, s AS b_s, e AS b_e FROM iv WHERE user_id % 2 = 1)
      SELECT a_id, b_id, LEAST(a_e, b_e) - GREATEST(a_s, b_s) AS overlap_sec
      FROM a, b WHERE a_s <= b_e AND b_s <= a_e
      ORDER BY a_id, b_id""")),

    // ---- iterative k-means (Lloyd, 2 rounds, integer-exact) ------------
    // The iterative-refinement ML kernel q121 (one-shot per-label
    // centroids) doesn't cover: seed centroids -> assign -> recompute ->
    // assign -> recompute, the MLlib Lloyd shape. Embedding floats are
    // quantized to int64 micro-units (floor(x*1e6): float->double is
    // exact, the product and floor are IEEE-deterministic, no decimal
    // rounding ties), so BOTH iterations are exact integer arithmetic —
    // bit-identical in Spark and DuckDB with no float-summation-order
    // hazard. Centroid updates use floor(sum/n) with the division done
    // in double (sums < 2^53, so the quotient is deterministic) rather
    // than integer division, because DuckDB's `//` floors while Spark's
    // DIV truncates — they disagree on negative sums.
    // Scale shape: centroids are k*d rows (tiny) -> broadcast; each
    // iteration is ONE shuffle (the vec_id re-aggregation); assignment
    // is a map-side broadcast join + partial agg. This is exactly how
    // Lloyd runs on a 1000-executor cluster; iteration count is fixed,
    // not data-dependent.
    "q225_llm_kmeans_lloyd" -> QueryDef(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")))
          .select(col("vec_id"), (col("pos") + 1).as("i"),
            floor(col("col").cast("double") * lit(1000000L)).as("x"))
          .persist()
        val c0 = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("cid"), col("i"), col("x").as("c"))
        def assign(cents: org.apache.spark.sql.DataFrame) = {
          val d = e.join(broadcast(cents), Seq("i"))
            .groupBy("vec_id", "cid")
            .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("dist"))
          val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
          d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("vec_id"), col("cid"))
        }
        def update(asg: org.apache.spark.sql.DataFrame) =
          e.join(asg, Seq("vec_id"))
            .groupBy("cid", "i")
            .agg(floor(sum("x").cast("double") / count(lit(1))).as("c"))
        val a1 = assign(c0)
        val c1 = update(a1)
        val a2 = assign(c1).persist()
        val c2 = update(a2)
        val sizes = a2.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
        val csum = c2.groupBy("cid").agg(sum("c").as("c_sum"))
        sizes.join(csum, Seq("cid")).orderBy("cid")
      },
      Some("""WITH e AS (SELECT vec_id, i.i AS i,
          CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT) AS x
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i),
      c0 AS (SELECT vec_id AS cid, i, x AS c FROM e WHERE vec_id < 4),
      d1 AS (SELECT e.vec_id, c0.cid, SUM((x - c) * (x - c)) AS dist
        FROM e JOIN c0 USING (i) GROUP BY 1, 2),
      a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1),
      c1 AS (SELECT cid, i,
          CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM e JOIN a1 USING (vec_id) GROUP BY 1, 2),
      d2 AS (SELECT e.vec_id, c1.cid, SUM((x - c) * (x - c)) AS dist
        FROM e JOIN c1 USING (i) GROUP BY 1, 2),
      a2 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1),
      c2 AS (SELECT cid, i,
          CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM e JOIN a2 USING (vec_id) GROUP BY 1, 2)
      SELECT sz.cid, sz.n_vecs, cs.c_sum
      FROM (SELECT cid, COUNT(*) AS n_vecs FROM a2 GROUP BY 1) sz
      JOIN (SELECT cid, CAST(SUM(c) AS BIGINT) AS c_sum FROM c2 GROUP BY 1) cs
        USING (cid)
      ORDER BY cid""")),

    // ---- BM25 ranked retrieval (inverted-index top-k) -------------------
    // The RAG/retrieval scoring op past q81's tf-idf: per-query BM25
    // over the documents table with k1=1.2, b=0.75, and a RATIONAL idf
    // (N - df + 0.5)/(df + 0.5) — ln() deliberately omitted because
    // libm ln is not bit-portable (q81 precedent); ln is monotone so
    // per-term ranking is unchanged, and the summed score is simply our
    // documented scoring definition. Every term score is +,-,*,/ on
    // doubles — exactly specified by IEEE 754, so identical formula
    // text => identical bits on both engines. The per-document sum
    // folds term scores in sorted-term order (Spark HOF aggregate,
    // 0.0-init ≡ DuckDB list_reduce first-element-init), then rank on
    // round(score, 6) with doc_id tie-break (q46 recipe).
    // Scale shape: queries/df are vocabulary-bounded broadcasts, the
    // corpus-size stats are a 1-row scalar; the only data-sized
    // shuffles are the (doc, term) tf aggregation and the per-(qid,doc)
    // fold — the inverted-index retrieval plan.
    "q226_llm_bm25_retrieval" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val qs = Seq((0L, "agg"), (0L, "join"), (1L, "window"),
          (1L, "scan"), (2L, "filter"), (2L, "value")).toDF("qid", "term")
        val tok = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
          .persist()
        val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("f"))
          .persist()
        val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val stats = dl.agg(count(lit(1)).as("n_docs"),
          sum("dl").as("t_tokens"))
        val dfv = tf.join(broadcast(qs.select("term").distinct()), Seq("term"))
          .groupBy("term").agg(count(lit(1)).as("df"))
        val ts = tf.join(broadcast(qs), Seq("term"))
          .join(broadcast(dfv), Seq("term"))
          .join(dl, Seq("doc_id"))
          .crossJoin(broadcast(stats))
          .withColumn("tscore", expr(
            """((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
               (CAST(df AS DOUBLE) + 0.5)) * (CAST(f AS DOUBLE) * 2.2) /
               (CAST(f AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) *
               CAST(n_docs AS DOUBLE) / CAST(t_tokens AS DOUBLE)))"""))
        val sc = ts.groupBy("qid", "doc_id")
          .agg(expr("""round(aggregate(transform(
              array_sort(collect_list(struct(term, tscore))), x -> x.tscore),
              0.0D, (a, x) -> a + x), 6)""").as("score"))
        val w = Window.partitionBy("qid")
          .orderBy(col("score").desc, col("doc_id"))
        sc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
          .select(col("qid"), col("doc_id"), col("score"),
            col("rnk").cast("long").as("rnk"))
          .orderBy("qid", "rnk")
      },
      Some("""WITH tok AS (SELECT doc_id,
          unnest(string_split(text, ' ')) AS term FROM documents),
      tk AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
      tf AS (SELECT doc_id, term, COUNT(*) AS f FROM tk GROUP BY 1, 2),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
      st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS t_tokens FROM dl),
      q AS (SELECT * FROM (VALUES (0, 'agg'), (0, 'join'), (1, 'window'),
          (1, 'scan'), (2, 'filter'), (2, 'value')) AS t(qid, term)),
      dfv AS (SELECT term, COUNT(*) AS df FROM tf
        WHERE term IN (SELECT term FROM q) GROUP BY 1),
      ts AS (SELECT q.qid, tf.doc_id, tf.term,
          ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
          (CAST(df AS DOUBLE) + 0.5)) * (CAST(f AS DOUBLE) * 2.2) /
          (CAST(f AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) *
          CAST(n_docs AS DOUBLE) / CAST(t_tokens AS DOUBLE))) AS tscore
        FROM tf JOIN q ON tf.term = q.term
        JOIN dfv ON tf.term = dfv.term
        JOIN dl ON tf.doc_id = dl.doc_id, st),
      sc AS (SELECT qid, doc_id,
          round(list_reduce(list(tscore ORDER BY term), (a, x) -> a + x), 6)
            AS score
        FROM ts GROUP BY 1, 2),
      r AS (SELECT qid, doc_id, score, row_number() OVER (
          PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM sc)
      SELECT CAST(qid AS BIGINT) AS qid, doc_id, score, rnk
      FROM r WHERE rnk <= 10 ORDER BY qid, rnk""")),

    // ---- single-source shortest path (bounded min-plus rounds) ---------
    // Iterative graph traversal past PageRank (fixed mass flow) and CC
    // (label prop): SSSP by 4 unrolled rounds of min-plus relaxation
    // over the supplier co-occurrence graph, edge weight = 1 +
    // 1000000 DIV cnt (strong co-occurrence = short hop; all-positive
    // integer DIV agrees between Spark DIV and DuckDB //). Distances
    // stay exact int64, so the result is bit-identical on any
    // partitioning. Each round = one equi-join + one min-aggregation
    // shuffle — the Pregel/GraphX relaxation superstep; round count is
    // fixed (diameter-bounded), frontiers persisted (each round's dist
    // feeds both the join and the union).
    "q227_graph_sssp" -> QueryDef(
      (s, dir) => {
        // the expensive order-key self-join is the shared fixture
        // artifact (q169's build); co-occurrence is symmetric, so the
        // u<v half expands to both directions by a cheap union
        val pc = Round4b.supplierCoPairs(s, dir)
        val edges = pc.select(col("u").as("src"), col("v").as("dst"), col("w").as("cnt"))
          .unionAll(pc.select(col("v").as("src"), col("u").as("dst"), col("w").as("cnt")))
          .select(col("src"), col("dst"),
            expr("1 + 1000000 DIV cnt").as("w"))
          .persist()
        val d0 = s.range(1).select(lit(1L).as("node"), lit(0L).as("dist"))
        def relax(d: org.apache.spark.sql.DataFrame) =
          d.join(edges, d("node") === edges("src"))
            .select(col("dst").as("node"), (d("dist") + col("w")).as("dist"))
            .unionAll(d)
            .groupBy("node").agg(min("dist").as("dist"))
            .persist()
        val d4 = relax(relax(relax(relax(d0))))
        d4.orderBy("node")
      },
      Some("""WITH co AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS cnt
        FROM co a JOIN co b ON a.l_orderkey = b.l_orderkey
          AND a.l_suppkey <> b.l_suppkey
        GROUP BY 1, 2),
      w AS (SELECT src, dst, 1 + 1000000 // cnt AS w FROM e),
      d0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
      d1 AS (SELECT node, MIN(dist) AS dist FROM (
        SELECT dst AS node, d0.dist + w.w AS dist FROM d0 JOIN w ON d0.node = w.src
        UNION ALL SELECT node, dist FROM d0) GROUP BY 1),
      d2 AS (SELECT node, MIN(dist) AS dist FROM (
        SELECT dst AS node, d1.dist + w.w AS dist FROM d1 JOIN w ON d1.node = w.src
        UNION ALL SELECT node, dist FROM d1) GROUP BY 1),
      d3 AS (SELECT node, MIN(dist) AS dist FROM (
        SELECT dst AS node, d2.dist + w.w AS dist FROM d2 JOIN w ON d2.node = w.src
        UNION ALL SELECT node, dist FROM d2) GROUP BY 1),
      d4 AS (SELECT node, MIN(dist) AS dist FROM (
        SELECT dst AS node, d3.dist + w.w AS dist FROM d3 JOIN w ON d3.node = w.src
        UNION ALL SELECT node, dist FROM d3) GROUP BY 1)
      SELECT node, CAST(dist AS BIGINT) AS dist FROM d4 ORDER BY node""")),

    // ---- chained stateful operators (window-of-window, append) ---------
    // Spark 4's multiple-stateful-operators support run as ONE streaming
    // query: watermarked 10-minute (window, event_type) counts feed a
    // SECOND windowed aggregation over the window struct itself (30-min
    // rollup of cell counts + event totals), both stateful, append
    // mode. Per-operator watermark simulation (SPARK-40925) lets the
    // downstream aggregate emit in the same no-data AvailableNow flush
    // batch. The exact eviction boundary is engine-internal (q181
    // recipe), so scoring keeps only windows a full margin below the
    // computable final watermark, mirrored in the oracle.
    // State is keyed by bounded window/type combinations on both
    // levels, so store size scales with time-range x types, not events.
    "q228_stream_chained_agg" -> QueryDef(
      (s, dir) => {
        val src = graft.streaming.EventStreams.eventFileStream(s, dir)
          .select(col("event_type"), col("tss"))
          .withWatermark("tss", "10 minutes")
        val cells = src
          .groupBy(window(col("tss"), "10 minutes").as("w10"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val tot = cells.groupBy(window(col("w10"), "30 minutes").as("w30"))
          .agg(count(lit(1)).as("n_cells"), sum("n").as("n_events"))
        val sink = EventTime.withShufflePartitions(s, 8) {
          graft.streaming.EventStreams.runToParquet(
            tot, "q228_stream_chained_agg_sink")
        }
        val bound = graft.sources.Events.load(s, dir)
          .agg((max("sec") - 600L - 3600L).as("bound"))
        sink.select(unix_timestamp(col("w30.start")).as("win_start"),
            unix_timestamp(col("w30.end")).as("win_end"),
            col("n_cells"), col("n_events"))
          .crossJoin(broadcast(bound))
          .filter(col("win_end") <= col("bound"))
          .select(col("win_start"), col("n_cells"), col("n_events"))
          .orderBy("win_start")
      },
      Some(s"""WITH e AS (SELECT event_type, ${Det.epochSecSql("ts")} AS sec
        FROM events),
      b AS (SELECT MAX(sec) - 600 - 3600 AS bound FROM e),
      cells AS (SELECT (sec // 600) * 600 AS w10, event_type, COUNT(*) AS n
        FROM e GROUP BY 1, 2),
      t AS (SELECT (w10 // 1800) * 1800 AS w30, COUNT(*) AS n_cells,
          CAST(SUM(n) AS BIGINT) AS n_events FROM cells GROUP BY 1)
      SELECT w30 AS win_start, n_cells, n_events FROM t, b
      WHERE w30 + 1800 <= b.bound ORDER BY 1""")),

    // ---- linear interpolation of time-series gaps ----------------------
    // Gap REPAIR past q107's LOCF: per-user hourly event counts on a
    // per-user spine (min..max observed bucket), missing buckets
    // linearly interpolated between the nearest anchors on each side
    // (IGNORE NULLS window frames). The interpolation expression is
    // pure +,-,*,/ on exact integers cast to double with identical
    // grouping on both engines — IEEE-deterministic, no rounding
    // needed. Spine length is bounded by the time-range domain (not by
    // event count); windows partition by user, so no global sort.
    "q229_ts_interpolate" -> QueryDef(
      (s, dir) => {
        val vals = graft.sources.Events.load(s, dir)
          .filter(pmod(col("user_id"), lit(20L)) === 0)
          .groupBy(col("user_id"), expr("(sec DIV 3600) * 3600").as("b"))
          .agg(count(lit(1)).as("v"))
        graft.operators.TimeSeries
          .interpolateLinear(vals, "user_id", "b", "v", step = 3600L)
          .withColumnRenamed("b", "sec")
          .orderBy("user_id", "sec")
      },
      Some(s"""WITH e AS (SELECT user_id, ${Det.epochSecSql("ts")} AS sec
        FROM events WHERE user_id % 20 = 0),
      vals AS (SELECT user_id, (sec // 3600) * 3600 AS b, COUNT(*) AS v
        FROM e GROUP BY 1, 2),
      rng AS (SELECT user_id, MIN(b) AS lo, MAX(b) AS hi FROM vals GROUP BY 1),
      spine AS (SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS b FROM rng),
      j AS (SELECT s.user_id, s.b, v FROM spine s
        LEFT JOIN vals ON s.user_id = vals.user_id AND s.b = vals.b),
      a AS (SELECT user_id, b, v,
        last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
        last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY b DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tn,
        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vn
        FROM j)
      SELECT user_id, b AS sec,
        CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
          ELSE CAST(vp AS DOUBLE) +
            (CAST(vn AS DOUBLE) - CAST(vp AS DOUBLE)) *
            (CAST(b - tp AS DOUBLE) / CAST(tn - tp AS DOUBLE)) END AS val,
        CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
      FROM a ORDER BY user_id, sec""")),

    // ---- reciprocal-rank fusion (hybrid retrieval) ---------------------
    // The hybrid-retrieval combiner: fuse a cosine ranking and an L2
    // ranking of the same candidate set with RRF score
    // 1/(60+rank_cos) + 1/(60+rank_l2) over each list's top-20, keep
    // the fused top-5 per query. Both base metrics derive from the same
    // three dot products (cos = dot/(|q||c|), l2^2 = qq + cc - 2*dot);
    // sqrt and /,+,* are IEEE-exact, the per-pair fold is sorted-order
    // (q46 recipe), ranks use round(metric, 6) with cid tie-break, and
    // the RRF sum itself is rational — bit-identical on both engines.
    // Scale shape: bounded 3-row query side broadcast (q46 class),
    // WindowGroupLimit prunes each ranking before its exchange.
    "q230_llm_rrf_fusion" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb.filter(col("vec_id") >= 3)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        graft.plans.NativeExpressions.register(s)
        val pairs = corpus.crossJoin(broadcast(qs))
          .withColumn("cos", Similarity.cos("qe", "ce"))
          .withColumn("l2", expr(
            "round(vec_dot(qe, qe) + vec_dot(ce, ce) - 2 * vec_dot(qe, ce), 6)"))
        val wc = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
        val wl = Window.partitionBy("qid").orderBy(col("l2"), col("cid"))
        val ranked = pairs
          .withColumn("ra", row_number().over(wc))
          .withColumn("rb", row_number().over(wl))
          .filter(col("ra") <= 20 || col("rb") <= 20)
          .withColumn("rrf", expr(
            """(CASE WHEN ra <= 20 THEN 1.0 / (60.0 + CAST(ra AS DOUBLE)) ELSE 0.0 END) +
               (CASE WHEN rb <= 20 THEN 1.0 / (60.0 + CAST(rb AS DOUBLE)) ELSE 0.0 END)"""))
        val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("cid"))
        ranked.withColumn("rnk", row_number().over(wf)).filter(col("rnk") <= 5)
          .select(col("qid"), col("cid"), col("rrf"),
            col("rnk").cast("long").as("rnk"))
          .orderBy("qid", "rnk")
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        WHERE vec_id < 3),
      c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
        WHERE vec_id >= 3),
      p AS (SELECT qid, cid,
          SUM(CAST(qe[i.i] AS DOUBLE) * CAST(ce[i.i] AS DOUBLE)) AS dot,
          SUM(CAST(qe[i.i] AS DOUBLE) * CAST(qe[i.i] AS DOUBLE)) AS qq,
          SUM(CAST(ce[i.i] AS DOUBLE) * CAST(ce[i.i] AS DOUBLE)) AS cc
        FROM q, c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      m AS (SELECT qid, cid, round(dot / (sqrt(qq) * sqrt(cc)), 6) AS cos,
          round(qq + cc - 2 * dot, 6) AS l2 FROM p),
      r AS (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS ra,
          row_number() OVER (PARTITION BY qid ORDER BY l2, cid) AS rb
        FROM m),
      f AS (SELECT qid, cid,
          (CASE WHEN ra <= 20 THEN 1.0 / (60.0 + CAST(ra AS DOUBLE)) ELSE 0.0 END) +
          (CASE WHEN rb <= 20 THEN 1.0 / (60.0 + CAST(rb AS DOUBLE)) ELSE 0.0 END) AS rrf
        FROM r WHERE ra <= 20 OR rb <= 20),
      t AS (SELECT qid, cid, rrf, row_number() OVER (
          PARTITION BY qid ORDER BY rrf DESC, cid) AS rnk FROM f)
      SELECT qid, cid, rrf, rnk FROM t WHERE rnk <= 5 ORDER BY qid, rnk""")),

    // ---- deterministic bootstrap confidence interval -------------------
    // Resampling inference as a relational op: B=20 bootstrap
    // replicates of the mean order price, each row's multiplicity in
    // replicate b given by a PORTABLE Lehmer mix of (o_orderkey, b)
    // mod 4 (exact int64 in both engines — the q161/q172 portable-hash
    // family; xxhash64 would not match DuckDB). Replicate means use
    // exact DECIMAL(18,2) sums (Det width rule) over int64 weights,
    // then one double division; the CI is an order statistic of the 20
    // replicate means (2nd smallest / 2nd largest — a 10% trimmed
    // interval). One scan fans out x20 map-side (bounded constant),
    // one aggregation per replicate — no data-sized second pass.
    "q231_stat_bootstrap_ci" -> QueryDef(
      (s, dir) => {
        val reps = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            explode(sequence(lit(0L), lit(19L))).as("b"))
          .withColumn("w", expr(
            "((o_orderkey % 2147483647) * 48271 + b * 12345) % 2147483647 % 4"))
        // DECIMAL(18,2): lossless for 2-decimal prices (q207 precedent);
        // per-replicate unscaled sums stay far below 2^53 (width rule)
        val d2 = org.apache.spark.sql.types.DecimalType(18, 2)
        val means = reps.groupBy("b")
          .agg((sum(col("o_totalprice").cast(d2) * col("w")).cast("double") /
            sum("w")).as("m"))
        val wAsc = Window.orderBy(col("m"), col("b"))
        val wDesc = Window.orderBy(col("m").desc, col("b").desc)
        means
          .withColumn("ra", row_number().over(wAsc))
          .withColumn("rd", row_number().over(wDesc))
          .agg(min(when(col("ra") === 2, col("m"))).as("ci_lo"),
            min(when(col("rd") === 2, col("m"))).as("ci_hi"),
            count(lit(1)).as("n_reps"))
          .select(lit("mean_totalprice").as("metric"),
            col("ci_lo"), col("ci_hi"), col("n_reps"))
      },
      Some("""WITH reps AS (SELECT o_orderkey, o_totalprice, b.b AS b
        FROM orders, (SELECT unnest(range(0, 20)) AS b) b),
      wt AS (SELECT o_totalprice, b,
          ((o_orderkey % 2147483647) * 48271 + b * 12345) % 2147483647 % 4 AS w
        FROM reps),
      means AS (SELECT b,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * w) AS DOUBLE) / SUM(w) AS m
        FROM wt GROUP BY 1),
      r AS (SELECT b, m,
          row_number() OVER (ORDER BY m, b) AS ra,
          row_number() OVER (ORDER BY m DESC, b DESC) AS rd
        FROM means)
      SELECT 'mean_totalprice' AS metric,
        MIN(CASE WHEN ra = 2 THEN m END) AS ci_lo,
        MIN(CASE WHEN rd = 2 THEN m END) AS ci_hi,
        COUNT(*) AS n_reps FROM r""")),

    // ---- session window with DYNAMIC per-event gap ---------------------
    // q39's session operator with an expression gap: purchase events
    // extend their session by 3600 s, everything else by 1800 s (the
    // "checkout takes longer" model). Spark evaluates the gap per
    // event; the batch oracle is the gap-islands form generalized to a
    // running MAX of (sec + gap) over preceding events — new session
    // iff sec > that max (touching merges, mirroring the fixed-gap
    // rule in CLAUDE.md). Exact integer arithmetic throughout.
    "q232_evt_session_dynamic_gap" -> QueryDef(
      (s, dir) => {
        val e = graft.sources.Events.load(s, dir)
          .select(col("user_id"), col("event_type"),
            timestamp_seconds(col("sec")).as("tss"))
        val gap = when(col("event_type") === "purchase", lit("3600 seconds"))
          .otherwise(lit("1800 seconds"))
        e.groupBy(col("user_id"), session_window(col("tss"), gap).as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_timestamp(col("sw.start")).as("session_start"),
            col("n_events"))
          .orderBy("user_id", "session_start")
      },
      Some(s"""WITH e AS (SELECT user_id, event_id,
          ${Det.epochSecSql("ts")} AS sec,
          CASE WHEN event_type = 'purchase' THEN 3600 ELSE 1800 END AS g
        FROM events),
      o AS (SELECT user_id, sec,
          MAX(sec + g) OVER (PARTITION BY user_id ORDER BY sec, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
        FROM e),
      f AS (SELECT user_id, sec,
          CASE WHEN m IS NULL OR sec > m THEN 1 ELSE 0 END AS new_s FROM o),
      sid AS (SELECT user_id, sec, SUM(new_s) OVER (
          PARTITION BY user_id ORDER BY sec
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
      SELECT user_id, MIN(sec) AS session_start, COUNT(*) AS n_events
      FROM sid GROUP BY user_id, sid ORDER BY user_id, session_start""")),

    // ---- bitmap index aggregates (distinct-count by bitmap) ------------
    // Spark 3.5+ bitmap functions as the distinct-count surface: bucket
    // users with bitmap_bucket_number, build one 4 KB bitmap per
    // (type, bucket) with bitmap_construct_agg(bitmap_bit_position),
    // pop-count and sum across buckets. Semantically COUNT(DISTINCT)
    // — the oracle — but the aggregation state is a fixed-size bitmap,
    // mergeable map-side, never a hash set of values: the warehouse
    // bitmap-index trick (bucket cardinality 32768 bounds state; the
    // per-bucket partial merges are bitwise OR).
    "q233_agg_bitmap_distinct" -> QueryDef(
      (s, dir) => graft.sources.Events.load(s, dir)
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
        .groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- mixture diversity (Gini impurity per domain) ------------------
    // Curation-mix health check: per source, the Gini impurity of its
    // language distribution, 1 - Σ p². Computed as
    // 1 - Σc² / t² with both sums exact int64 and ONE double division
    // — no per-term float accumulation at all (and no ln(), unlike
    // Shannon entropy, which is not bit-portable — q81 precedent).
    "q234_llm_mixture_gini" -> QueryDef(
      (s, dir) => {
        val c = t(s, dir, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("c"))
        c.groupBy("source")
          .agg(sum("c").as("n_docs"), sum(col("c") * col("c")).as("s2"))
          .select(col("source"), col("n_docs"),
            expr("""1.0 - CAST(s2 AS DOUBLE) /
              (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))""").as("gini"))
          .orderBy("source")
      },
      Some("""WITH c AS (SELECT source, lang, COUNT(*) AS c
        FROM documents GROUP BY 1, 2),
      t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
          CAST(SUM(c * c) AS BIGINT) AS s2 FROM c GROUP BY 1)
      SELECT source, n_docs, 1.0 - CAST(s2 AS DOUBLE) /
        (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) AS gini
      FROM t ORDER BY source""")),

    // ---- missing-value imputation by group median ----------------------
    // The pipeline staple: rows whose metric is "missing" (synthesized
    // deterministically: event_id % 7 = 0) get their event_type's
    // median of the observed values. The median is computed explicitly
    // — row_number over (value, event_id), pick ranks (n+1) DIV 2 and
    // n DIV 2 + 1, average the two — so BOTH engines evaluate the
    // identical (v1 + v2) / 2.0 expression instead of each engine's
    // percentile interpolation (1-ulp hazard). Group medians are a
    // tiny broadcast joined back to the full relation.
    "q235_ts_impute_median" -> QueryDef(
      (s, dir) => {
        val e = graft.sources.Events.load(s, dir)
          .select(col("event_id"), col("event_type"),
            when(pmod(col("event_id"), lit(7L)) =!= 0, col("value")).as("v"))
          .persist()
        val obs = e.filter(col("v").isNotNull)
        // median by counting + Ranks.cumSumsBy (no per-type sort task;
        // v at rank r = min v with cum >= r — same fix as q249)
        val cnt = obs.groupBy(col("event_type"), col("v").as("vv"))
          .agg(count(lit(1)).as("c"))
        val cum = graft.operators.Ranks
          .cumSumsBy(cnt, Seq("event_type"), "vv", Seq("c"))
        val n = obs.groupBy("event_type").agg(count(lit(1)).as("n"))
        val j = cum.join(broadcast(n), Seq("event_type")).persist()
        val v1 = j.filter(col("cum_c") >= expr("(n + 1) DIV 2"))
          .groupBy("event_type").agg(min("vv").as("v1"))
        val v2 = j.filter(col("cum_c") >= expr("n DIV 2 + 1"))
          .groupBy("event_type").agg(min("vv").as("v2"))
        val med = v1.join(v2, Seq("event_type"))
          .select(col("event_type"), expr("(v1 + v2) / 2.0").as("med"))
        e.join(broadcast(med), Seq("event_type"))
          .select(col("event_id"),
            coalesce(col("v"), col("med")).as("value_filled"),
            when(col("v").isNull, lit(1L)).otherwise(lit(0L)).as("imputed"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, event_type,
          CASE WHEN event_id % 7 <> 0 THEN value END AS v FROM events),
      obs AS (SELECT event_id, event_type, v FROM e WHERE v IS NOT NULL),
      r AS (SELECT event_type, v, row_number() OVER (
          PARTITION BY event_type ORDER BY v, event_id) AS rn FROM obs),
      n AS (SELECT event_type, COUNT(*) AS n FROM obs GROUP BY 1),
      med AS (SELECT r.event_type, (MIN(v) + MAX(v)) / 2.0 AS med
        FROM r JOIN n ON r.event_type = n.event_type
        WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        GROUP BY 1)
      SELECT event_id, COALESCE(v, med) AS value_filled,
        CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS imputed
      FROM e JOIN med ON e.event_type = med.event_type
      ORDER BY event_id""")),

    // ---- exact Mann-Whitney AUC (distributed ranking) ------------------
    // The model-eval staple, tie-correct and EXACT: does `value` rank
    // purchases above other events? Tie-averaged ranks via per-distinct-
    // score cumulative counts — 2·avgrank = 2·cum_n − n + 1 stays
    // integral, so the numerator S₂ − n₁(n₁+1) is exact int64 and the
    // single final division is the only float op. The cumulative counts
    // come from Ranks.cumSums: range-binned two-pass prefix sums — NO
    // single-partition global window over the unbounded score relation
    // (the q103 shape); the oracle uses the plain global window, which
    // provably computes the same ranks.
    "q236_eval_auc_exact" -> QueryDef(
      (s, dir) => {
        val d = graft.sources.Events.load(s, dir)
          .select(col("value").as("sc"),
            when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L)).as("p"))
          .groupBy("sc").agg(count(lit(1)).as("n"), sum("p").as("np"))
        graft.operators.Ranks.cumSums(d, "sc", Seq("n", "np"))
          .agg(sum(col("np") * (lit(2L) * col("cum_n") - col("n") + lit(1L))).as("s2"),
            sum("np").as("n1"), sum(col("n") - col("np")).as("n0"))
          .select(lit("auc_purchase_value").as("metric"),
            col("n1"), col("n0"),
            expr("""CAST(s2 - n1 * (n1 + 1) AS DOUBLE) /
              (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))""").as("auc"))
      },
      Some("""WITH e AS (SELECT value AS sc,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p FROM events),
      d AS (SELECT sc, COUNT(*) AS n, CAST(SUM(p) AS BIGINT) AS np
        FROM e GROUP BY 1),
      w AS (SELECT sc, n, np, SUM(n) OVER (ORDER BY sc
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n FROM d),
      a AS (SELECT CAST(SUM(np * (2 * cum_n - n + 1)) AS BIGINT) AS s2,
          CAST(SUM(np) AS BIGINT) AS n1,
          CAST(SUM(n - np) AS BIGINT) AS n0 FROM w)
      SELECT 'auc_purchase_value' AS metric, n1, n0,
        CAST(s2 - n1 * (n1 + 1) AS DOUBLE) /
        (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) AS auc FROM a""")),

    // ---- two-sample KS drift test (exact argmax by cross-multiply) -----
    // Distribution drift between the first 10 days and the rest of the
    // events stream: KS = max |F_a − F_b| over the value distribution.
    // The sup is located EXACTLY in integers — |cum_a·n_b − cum_b·n_a|
    // is an int64 cross-multiplication, so the argmax never touches a
    // float; only the final normalization divides. Same Ranks.cumSums
    // distributed-prefix machinery as q236 (no global window); the
    // drift location (smallest value achieving the sup) ships too.
    "q237_eval_ks_drift" -> QueryDef(
      (s, dir) => {
        val d = graft.sources.Events.load(s, dir)
          .select(col("value").as("sc"),
            when(col("sec") < 1704931200L, lit(1L)).otherwise(lit(0L)).as("a"))
          .groupBy("sc")
          .agg(sum("a").as("na"), sum(lit(1L) - col("a")).as("nb"))
        val c = graft.operators.Ranks.cumSums(d, "sc", Seq("na", "nb"))
        val tot = c.agg(sum("na").as("n_a"), sum("nb").as("n_b"))
        val diffs = c.crossJoin(broadcast(tot))
          .withColumn("diff",
            abs(col("cum_na") * col("n_b") - col("cum_nb") * col("n_a")))
          .persist()
        val m = diffs.agg(max("diff").as("ks_scaled"))
        diffs.crossJoin(broadcast(m))
          .filter(col("diff") === col("ks_scaled"))
          .groupBy("ks_scaled", "n_a", "n_b")
          .agg(min("sc").as("ks_at"))
          .select(lit("ks_value_drift").as("metric"),
            col("n_a"), col("n_b"),
            expr("""CAST(ks_scaled AS DOUBLE) /
              (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))""").as("ks"),
            col("ks_at"))
      },
      Some(s"""WITH e AS (SELECT value AS sc,
          CASE WHEN ${Det.epochSecSql("ts")} < 1704931200 THEN 1 ELSE 0 END AS a
        FROM events),
      d AS (SELECT sc, CAST(SUM(a) AS BIGINT) AS na,
          CAST(SUM(1 - a) AS BIGINT) AS nb FROM e GROUP BY 1),
      w AS (SELECT sc, na, nb,
          SUM(na) OVER (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS cum_na,
          SUM(nb) OVER (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS cum_nb FROM d),
      t AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a,
          CAST(SUM(nb) AS BIGINT) AS n_b FROM d),
      x AS (SELECT sc, CAST(abs(cum_na * n_b - cum_nb * n_a) AS BIGINT)
          AS diff FROM w, t),
      m AS (SELECT MAX(diff) AS ks_scaled FROM x)
      SELECT 'ks_value_drift' AS metric, t.n_a, t.n_b,
        CAST(ks_scaled AS DOUBLE) /
        (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS ks,
        (SELECT MIN(sc) FROM x, m WHERE x.diff = m.ks_scaled) AS ks_at
      FROM t, m""")),

    // ---- decile lift / calibration table -------------------------------
    // The model-eval companion to q236: bucket events into score
    // deciles and report per-decile volume and purchase rate. Deciles
    // are TIE-CONSISTENT and exact: a score's decile derives from its
    // tie-averaged rank (2·avgrank = 2·cum − n + 1 from Ranks.cumSums,
    // integral), decile = (avgrank2 − 1)·5 DIV n_total — pure int64,
    // same bucket for every row of a tied score, no ntile row-split
    // arbitrariness, no global window. Rates are one exact int/int
    // division each.
    "q238_eval_lift_deciles" -> QueryDef(
      (s, dir) => {
        val d = graft.sources.Events.load(s, dir)
          .select(col("value").as("sc"),
            when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L)).as("p"))
          .groupBy("sc").agg(count(lit(1)).as("n"), sum("p").as("np"))
        val c = graft.operators.Ranks.cumSums(d, "sc", Seq("n", "np"))
        val tot = c.agg(sum("n").as("nt"))
        c.crossJoin(broadcast(tot))
          .withColumn("decile",
            expr("LEAST(9L, ((2 * cum_n - n + 1 - 1) * 5) DIV nt)"))
          .groupBy("decile")
          .agg(sum("n").as("n_events"), sum("np").as("n_purchases"))
          .select(col("decile"), col("n_events"), col("n_purchases"),
            expr("CAST(n_purchases AS DOUBLE) / CAST(n_events AS DOUBLE)")
              .as("purchase_rate"))
          .orderBy("decile")
      },
      Some("""WITH e AS (SELECT value AS sc,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p FROM events),
      d AS (SELECT sc, COUNT(*) AS n, CAST(SUM(p) AS BIGINT) AS np
        FROM e GROUP BY 1),
      w AS (SELECT sc, n, np, SUM(n) OVER (ORDER BY sc
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n FROM d),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM d),
      dec AS (SELECT LEAST(9, ((2 * cum_n - n + 1 - 1) * 5) // nt) AS decile,
          n, np FROM w, t)
      SELECT CAST(decile AS BIGINT) AS decile,
        CAST(SUM(n) AS BIGINT) AS n_events,
        CAST(SUM(np) AS BIGINT) AS n_purchases,
        CAST(SUM(np) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS purchase_rate
      FROM dec GROUP BY 1 ORDER BY 1""")),

    // ---- quantile normalization (distribution matching) ----------------
    // Feature-engineering staple: remap each source's n_chars
    // distribution onto the GLOBAL quantile function —
    // v_norm = inf{x : F_global(x) >= F_source-rank(v)} with
    // tie-averaged source fractions. CDF fractions are single correctly-
    // rounded divisions of exact int64 counts, so equal rationals give
    // equal doubles on both engines and every >= comparison agrees.
    // Scale shape: the global CDF uses Ranks.cumSums (no global
    // window); the quantile lookup is a DISTRIBUTED as-of — fractions
    // bucket into 64 bins, a per-bin union window resolves in-bin
    // matches, and a 64-row broadcast suffix-min of global values
    // covers probes whose match lies in a higher bin (value and CDF
    // are co-monotone, so the first at-or-after bin wins). The oracle
    // states the spec directly as a correlated MIN.
    "q239_llm_quantile_normalize" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // per-source tie-averaged CDF fraction of each distinct value
        val sv = docs.groupBy(col("source"), col("n_chars").as("v"))
          .agg(count(lit(1)).as("n"))
        val nsrc = sv.groupBy("source").agg(sum("n").as("ns"))
        val sw = Window.partitionBy("source").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sp = sv.withColumn("cum", sum("n").over(sw))
          .join(nsrc, Seq("source"))
          .withColumn("frac", expr(
            "CAST(2 * cum - n + 1 AS DOUBLE) / CAST(2 * ns AS DOUBLE)"))
        // global inclusive CDF (distributed prefix sums, no global sort)
        val gvd = docs.groupBy(col("n_chars").as("gvv")).agg(count(lit(1)).as("gn"))
        val gc = graft.operators.Ranks.cumSums(gvd, "gvv", Seq("gn"))
        val ng = gc.agg(sum("gn").as("ng"))
        val gp = gc.crossJoin(broadcast(ng))
          .withColumn("frac", expr("CAST(cum_gn AS DOUBLE) / CAST(ng AS DOUBLE)"))
          .select(col("gvv"), col("frac"))
          .persist()
        val bin = least(lit(63), floor(col("frac") * 64).cast("int")).as("bin")
        val gBin = gp.select(col("gvv"), col("frac"), bin)
        // 64-row suffix-min spine: min global value in any HIGHER bin
        val sufBase = gBin.groupBy("bin").agg(min("gvv").as("bmin"))
        val spine = s.range(64).select(col("id").cast("int").as("bin"))
          .join(sufBase, Seq("bin"), "left")
        val wSuf = Window.orderBy(col("bin").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val suf = spine.withColumn("nxt", min("bmin").over(wSuf))
          .select(col("bin"), col("nxt"))
        // per-bin as-of: traverse desc by fraction, sources before
        // probes at equal fraction (>= matches), running min of gvv
        val probes = sp.select(col("source"), col("v"), col("n"),
          col("frac"), bin, lit(1).as("side"), lit(null).cast("long").as("gvv"))
        val globals = gBin.select(lit(null).cast("string").as("source"),
          lit(null).cast("long").as("v"), lit(null).cast("long").as("n"),
          col("frac"), col("bin"), lit(0).as("side"), col("gvv"))
        val wAsof = Window.partitionBy("bin")
          .orderBy(col("frac").desc, col("side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        probes.unionByName(globals)
          .withColumn("local", min("gvv").over(wAsof))
          .filter(col("side") === 1)
          .join(broadcast(suf), Seq("bin"))
          .select(col("source"), col("v"), col("n").as("n_docs"),
            coalesce(col("local"), col("nxt")).as("v_norm"))
          .orderBy("source", "v")
      },
      Some("""WITH sv AS (SELECT source, n_chars AS v, COUNT(*) AS n
        FROM documents GROUP BY 1, 2),
      ns AS (SELECT source, SUM(n) AS ns FROM sv GROUP BY 1),
      sw AS (SELECT source, v, n, SUM(n) OVER (PARTITION BY source
          ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM sv),
      sp AS (SELECT sw.source, v, n,
          CAST(2 * cum - n + 1 AS DOUBLE) / CAST(2 * ns AS DOUBLE) AS sfrac
        FROM sw JOIN ns ON sw.source = ns.source),
      gv AS (SELECT n_chars AS gvv, COUNT(*) AS gn FROM documents GROUP BY 1),
      ng AS (SELECT SUM(gn) AS ng FROM gv),
      gw AS (SELECT gvv, SUM(gn) OVER (ORDER BY gvv
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM gv),
      gp AS (SELECT gvv, CAST(cum AS DOUBLE) / CAST(ng AS DOUBLE) AS gfrac
        FROM gw, ng)
      SELECT source, v, n AS n_docs,
        (SELECT MIN(gvv) FROM gp WHERE gfrac >= sp.sfrac) AS v_norm
      FROM sp ORDER BY source, v""")),

    // ---- water-filling token-budget allocation -------------------------
    // The mixture-budget completion of q190/q155: allocate a global
    // token budget T (here 60% of corpus tokens) across domains so
    // that small domains keep everything and large domains share one
    // common cap c with Σ min(t_d, c) = T EXACTLY. Closed form on the
    // domain-sorted prefix: d is uncapped iff t_d·(remaining domains)
    // + prefix ≤ T; cap = residual DIV (#capped), with the DIV
    // remainder handed out +1 to the first capped domains in source
    // order so allocations still sum to T precisely. Everything is
    // int64; the domain table is an aggregate (bounded), so its
    // windows are post-aggregation spines. Σ alloc = T is asserted by
    // construction in both engines.
    "q240_llm_budget_waterfill" -> QueryDef(
      (s, dir) => {
        val dom = t(s, dir, "documents")
          .groupBy("source").agg(sum(expr("n_chars DIV 4")).as("tok"))
        val tot = dom.agg(expr("CAST(SUM(tok) * 3 DIV 5 AS BIGINT)").as("t_budget"),
          count(lit(1)).as("nd"))
        val wAsc = Window.orderBy("tok", "source")
        val d1 = dom.crossJoin(broadcast(tot))
          .withColumn("rn", row_number().over(wAsc))
          .withColumn("cumprev",
            coalesce(sum("tok").over(wAsc.rowsBetween(
              Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("unc",
            (col("tok") * (col("nd") - col("rn") + 1) + col("cumprev")) <= col("t_budget"))
        val st = d1.agg(sum(when(col("unc"), col("tok"))).as("cum_unc"),
          sum(when(col("unc"), 1L).otherwise(0L)).as("k"))
        val wCap = Window.orderBy("source")
        d1.crossJoin(broadcast(st))
          .withColumn("n_capped", col("nd") - col("k"))
          .withColumn("cap", when(col("n_capped") > 0,
            expr("(t_budget - coalesce(cum_unc, 0)) DIV n_capped")))
          .withColumn("rem", when(col("n_capped") > 0,
            expr("(t_budget - coalesce(cum_unc, 0)) % n_capped")).otherwise(lit(0L)))
          .withColumn("capseq", when(col("unc"), lit(null)).otherwise(
            row_number().over(Window.partitionBy("unc").orderBy("source"))))
          .withColumn("alloc", when(col("unc"), col("tok"))
            .otherwise(col("cap") + when(col("capseq") <= col("rem"), 1L).otherwise(0L)))
          .select(col("source"), col("tok"), col("alloc"),
            when(col("unc"), lit(0L)).otherwise(lit(1L)).as("capped"))
          .orderBy("source")
      },
      Some("""WITH dom AS (SELECT source, CAST(SUM(n_chars // 4) AS BIGINT) AS tok
        FROM documents GROUP BY 1),
      tot AS (SELECT CAST(SUM(tok) * 3 // 5 AS BIGINT) AS t_budget,
          COUNT(*) AS nd FROM dom),
      d1 AS (SELECT source, tok, t_budget, nd,
          row_number() OVER (ORDER BY tok, source) AS rn,
          COALESCE(SUM(tok) OVER (ORDER BY tok, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev
        FROM dom, tot),
      d2 AS (SELECT *, (tok * (nd - rn + 1) + cumprev) <= t_budget AS unc FROM d1),
      st AS (SELECT CAST(COALESCE(SUM(CASE WHEN unc THEN tok END), 0) AS BIGINT)
            AS cum_unc,
          CAST(COALESCE(SUM(CASE WHEN unc THEN 1 ELSE 0 END), 0) AS BIGINT) AS k
        FROM d2),
      d3 AS (SELECT d2.*, cum_unc, k, nd - k AS n_capped,
          CASE WHEN nd - k > 0 THEN (t_budget - cum_unc) // (nd - k) END AS cap,
          CASE WHEN nd - k > 0 THEN (t_budget - cum_unc) % (nd - k) ELSE 0 END AS rem,
          CASE WHEN NOT unc THEN row_number() OVER (
            PARTITION BY unc ORDER BY source) END AS capseq
        FROM d2, st)
      SELECT source, tok,
        CAST(CASE WHEN unc THEN tok
          ELSE cap + CASE WHEN capseq <= rem THEN 1 ELSE 0 END END AS BIGINT)
          AS alloc,
        CAST(CASE WHEN unc THEN 0 ELSE 1 END AS BIGINT) AS capped
      FROM d3 ORDER BY source""")),

    // ---- seasonal-naive forecast backtest (sMAPE) ----------------------
    // Forecasting-eval pattern: predict each (event_type, day, hour)
    // count of the LAST 7 days with the same-hour value 7 days earlier
    // (seasonal naive), score with sMAPE = avg of 2|f−a|/(f+a). Each
    // term is one deterministic double division of exact int64 counts;
    // the mean uses the Det recipe (per-term DECIMAL(18,6) cast, exact
    // sum, one division) so partial-aggregation order never shows.
    "q241_ts_forecast_smape" -> QueryDef(
      (s, dir) => {
        val hourly = graft.sources.Events.load(s, dir)
          .groupBy(col("event_type"),
            expr("(sec DIV 3600) * 3600").as("h"))
          .agg(count(lit(1)).as("a"))
          .persist()
        val maxH = hourly.agg(max("h").as("hmax"))
        val fc = hourly.select(col("event_type"),
          (col("h") + 604800L).as("h"), col("a").as("f"))
        val scored = hourly.join(fc, Seq("event_type", "h"))
          .crossJoin(broadcast(maxH))
          .filter(col("h") > col("hmax") - 604800L)
          .withColumn("term", expr(
            """2.0 * abs(CAST(f AS DOUBLE) - CAST(a AS DOUBLE)) /
               (CAST(f AS DOUBLE) + CAST(a AS DOUBLE))"""))
        scored.groupBy("event_type")
          .agg(count(lit(1)).as("n_hours"), Det.davg(col("term")).as("smape"))
          .orderBy("event_type")
      },
      Some(s"""WITH e AS (SELECT event_type, (${Det.epochSecSql("ts")} // 3600) * 3600
          AS h FROM events),
      hourly AS (SELECT event_type, h, COUNT(*) AS a FROM e GROUP BY 1, 2),
      mx AS (SELECT MAX(h) AS hmax FROM hourly),
      fc AS (SELECT event_type, h + 604800 AS h, a AS f FROM hourly),
      sc AS (SELECT hourly.event_type,
          2.0 * abs(CAST(f AS DOUBLE) - CAST(a AS DOUBLE)) /
          (CAST(f AS DOUBLE) + CAST(a AS DOUBLE)) AS term
        FROM hourly JOIN fc ON hourly.event_type = fc.event_type
          AND hourly.h = fc.h, mx
        WHERE hourly.h > hmax - 604800)
      SELECT event_type, COUNT(*) AS n_hours,
        ${Det.davgSql("term")} AS smape
      FROM sc GROUP BY 1 ORDER BY 1""")),

    // ---- linear multi-touch attribution --------------------------------
    // The fractional-credit companion to q205's last-touch: every
    // click/view by the same user in the 300 s window before a
    // purchase shares the conversion equally (credit 1/k each). The
    // per-touch credit is one exact int division in double; per-type
    // credit totals go through Det.dsum so the fractional credits sum
    // identically on any partitioning. Join is equi on user + bounded
    // range residual (q11 shape, never cartesian).
    "q242_evt_linear_attribution" -> QueryDef(
      (s, dir) => {
        val e = graft.sources.Events.load(s, dir).persist()
        val buys = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("pid"), col("sec").as("psec"))
        val touches = e.filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), col("event_type").as("touch_type"),
            col("sec").as("tsec"))
        val pairs = buys.join(touches, Seq("user_id"))
          .filter(col("tsec") >= col("psec") - 300L && col("tsec") < col("psec"))
        val k = pairs.groupBy("pid").agg(count(lit(1)).as("k"))
        pairs.join(k, Seq("pid"))
          .withColumn("credit", expr("1.0 / CAST(k AS DOUBLE)"))
          .groupBy("touch_type")
          .agg(count(lit(1)).as("n_touches"),
            Det.dsum(col("credit")).as("credit_sum"))
          .orderBy("touch_type")
      },
      Some(s"""WITH e AS (SELECT user_id, event_id, event_type,
          ${Det.epochSecSql("ts")} AS sec FROM events),
      b AS (SELECT user_id, event_id AS pid, sec AS psec FROM e
        WHERE event_type = 'purchase'),
      t AS (SELECT user_id, event_type AS touch_type, sec AS tsec FROM e
        WHERE event_type IN ('click', 'view')),
      p AS (SELECT pid, touch_type FROM b JOIN t ON b.user_id = t.user_id
        AND t.tsec >= b.psec - 300 AND t.tsec < b.psec),
      k AS (SELECT pid, COUNT(*) AS k FROM p GROUP BY 1),
      c AS (SELECT touch_type, 1.0 / CAST(k.k AS DOUBLE) AS credit
        FROM p JOIN k ON p.pid = k.pid)
      SELECT touch_type, COUNT(*) AS n_touches,
        ${Det.dsumSql("credit")} AS credit_sum
      FROM c GROUP BY 1 ORDER BY 1""")),

    // ---- OHLC bar aggregation ------------------------------------------
    // The time-series bar staple: per (event_type, hour) the opening /
    // highest / lowest / closing `value` plus volume. Open/close are
    // exact SELECTIONS (min/max over (sec, event_id, value) structs
    // with a unique tie-break), not arithmetic — the doubles pass
    // through untouched, so no float determinism machinery is needed.
    // One hash aggregation; struct min/max partial-aggregates map-side.
    "q243_ts_ohlc_bars" -> QueryDef(
      (s, dir) => graft.sources.Events.load(s, dir)
        .groupBy(col("event_type"), expr("(sec DIV 3600) * 3600").as("h"))
        .agg(
          expr("min(struct(sec, event_id, value)).value").as("open"),
          max("value").as("high"), min("value").as("low"),
          expr("max(struct(sec, event_id, value)).value").as("close"),
          count(lit(1)).as("volume"))
        .orderBy("event_type", "h"),
      Some(s"""WITH e AS (SELECT event_type, event_id, value,
          ${Det.epochSecSql("ts")} AS sec FROM events),
      r AS (SELECT event_type, (sec // 3600) * 3600 AS h, value,
          row_number() OVER (PARTITION BY event_type, (sec // 3600) * 3600
            ORDER BY sec, event_id) AS rf,
          row_number() OVER (PARTITION BY event_type, (sec // 3600) * 3600
            ORDER BY sec DESC, event_id DESC) AS rl
        FROM e)
      SELECT event_type, h,
        MIN(CASE WHEN rf = 1 THEN value END) AS open,
        MAX(value) AS high, MIN(value) AS low,
        MIN(CASE WHEN rl = 1 THEN value END) AS close,
        COUNT(*) AS volume
      FROM r GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- association rules (market-basket affinity) --------------------
    // Frequent part PAIRS across order baskets with support ≥ 2, ranked
    // by lift. The pair join is per-basket (items-per-order bounds the
    // fan-out — the A-priori candidate shape, never all-parts²);
    // confidence and lift are single divisions of exact int64 counts,
    // ranked with the q46 round-6 + unique-tie-break recipe.
    "q244_basket_association" -> QueryDef(
      (s, dir) => {
        val co = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct().persist()
        val nOrders = co.select(col("l_orderkey")).distinct()
          .agg(count(lit(1)).as("n"))
        val item = co.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_i"))
        val pair = co.as("a").join(co.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
          .agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 2)
        val scored = pair
          .join(item.select(col("l_partkey").as("pa"), col("n_i").as("n_a")), Seq("pa"))
          .join(item.select(col("l_partkey").as("pb"), col("n_i").as("n_b")), Seq("pb"))
          .crossJoin(broadcast(nOrders))
          .withColumn("confidence", expr(
            "round(CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE), 6)"))
          .withColumn("lift", expr(
            """round(CAST(n * n_ab AS DOUBLE) /
               (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)"""))
        val w = Window.orderBy(col("lift").desc, col("pa"), col("pb"))
        scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 20)
          .select(col("pa"), col("pb"), col("n_ab"), col("confidence"),
            col("lift"), col("rnk").cast("long").as("rnk"))
          .orderBy("rnk")
      },
      Some("""WITH co AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      t AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM co),
      item AS (SELECT l_partkey, COUNT(*) AS n_i FROM co GROUP BY 1),
      pair AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
        FROM co a JOIN co b ON a.l_orderkey = b.l_orderkey
          AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      sc AS (SELECT pa, pb, n_ab,
          round(CAST(n_ab AS DOUBLE) / CAST(ia.n_i AS DOUBLE), 6) AS confidence,
          round(CAST(t.n * n_ab AS DOUBLE) /
            (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)), 6) AS lift
        FROM pair JOIN item ia ON pair.pa = ia.l_partkey
        JOIN item ib ON pair.pb = ib.l_partkey, t),
      r AS (SELECT *, row_number() OVER (ORDER BY lift DESC, pa, pb) AS rnk
        FROM sc)
      SELECT pa, pb, n_ab, confidence, lift, rnk
      FROM r WHERE rnk <= 20 ORDER BY rnk""")),

    // ---- pairwise Pearson correlation of daily series ------------------
    // Co-movement of event types: Pearson r between each pair of
    // types' daily-count series (days both present). All five sums
    // (Σx, Σy, Σxy, Σx², Σy², k) are exact int64 over counts, so the
    // numerator k·Σxy − ΣxΣy is exact; sqrt is IEEE-correctly-rounded
    // and the final division is the only rounding point (round-6 for
    // output). Zero-variance series yield NULL (both engines). The
    // type domain is bounded, so the pair join is a broadcast of the
    // tiny per-type day series — one shuffle on day.
    "q245_stat_pearson_pairs" -> QueryDef(
      (s, dir) => {
        val d = graft.sources.Events.load(s, dir)
          .groupBy(col("event_type"), expr("sec DIV 86400").as("day"))
          .agg(count(lit(1)).as("n"))
          .persist()
        val pairs = d.as("a").join(d.as("b"),
            col("a.day") === col("b.day") &&
              col("a.event_type") < col("b.event_type"))
          .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
            col("a.n").as("x"), col("b.n").as("y"))
        pairs.groupBy("ta", "tb")
          .agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .withColumn("r", expr(
            """CASE WHEN k * sxx - sx * sx > 0 AND k * syy - sy * sy > 0 THEN
                 round(CAST(k * sxy - sx * sy AS DOUBLE) /
                   (sqrt(CAST(k * sxx - sx * sx AS DOUBLE)) *
                    sqrt(CAST(k * syy - sy * sy AS DOUBLE))), 6) END"""))
          .select(col("ta"), col("tb"), col("k"), col("r"))
          .orderBy("ta", "tb")
      },
      Some(s"""WITH d AS (SELECT event_type, ${Det.epochSecSql("ts")} // 86400
          AS day, COUNT(*) AS n FROM events GROUP BY 1, 2),
      p AS (SELECT a.event_type AS ta, b.event_type AS tb,
          a.n AS x, b.n AS y FROM d a JOIN d b ON a.day = b.day
          AND a.event_type < b.event_type),
      agg AS (SELECT ta, tb, COUNT(*) AS k,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM p GROUP BY 1, 2)
      SELECT ta, tb, k,
        CASE WHEN k * sxx - sx * sx > 0 AND k * syy - sy * sy > 0 THEN
          round(CAST(k * sxy - sx * sy AS DOUBLE) /
            (sqrt(CAST(k * sxx - sx * sx AS DOUBLE)) *
             sqrt(CAST(k * syy - sy * sy AS DOUBLE))), 6) END AS r
      FROM agg ORDER BY ta, tb""")),

    // ---- time-weighted average (step-function integral) ----------------
    // The metrics-system staple plain AVG gets wrong: each event's
    // value holds until the user's next event, so the mean must weight
    // by holding time — Σ v·Δt / Σ Δt per user (last event carries no
    // duration). Products are IEEE-deterministic doubles; the sum runs
    // through a DECIMAL(18,2) per-term cast (Det recipe, scale chosen
    // so 100×-probe unscaled sums stay far under 2^53) and the
    // denominator is exact int64 seconds. One lead() window per user,
    // one aggregation.
    "q246_ts_time_weighted_avg" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        val d2 = org.apache.spark.sql.types.DecimalType(18, 2)
        graft.sources.Events.load(s, dir)
          .filter(pmod(col("user_id"), lit(10L)) === 0)
          .select(col("user_id"), col("event_id"), col("sec"), col("value"))
          .withColumn("nxt", lead("sec", 1).over(w))
          .filter(col("nxt").isNotNull)
          .withColumn("dt", col("nxt") - col("sec"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_holds"),
            sum((col("value") * col("dt")).cast(d2)).cast("double").as("vsum"),
            sum("dt").as("tsum"))
          .filter(col("tsum") > 0)
          .select(col("user_id"), col("n_holds"),
            expr("vsum / CAST(tsum AS DOUBLE)").as("twa"))
          .orderBy("user_id")
      },
      Some(s"""WITH e AS (SELECT user_id, event_id, value,
          ${Det.epochSecSql("ts")} AS sec FROM events WHERE user_id % 10 = 0),
      h AS (SELECT user_id, value, sec,
          lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS nxt
        FROM e),
      d AS (SELECT user_id, value, nxt - sec AS dt FROM h WHERE nxt IS NOT NULL),
      a AS (SELECT user_id, COUNT(*) AS n_holds,
          CAST(SUM(CAST(value * dt AS DECIMAL(18,2))) AS DOUBLE) AS vsum,
          CAST(SUM(dt) AS BIGINT) AS tsum
        FROM d GROUP BY 1)
      SELECT user_id, n_holds, vsum / CAST(tsum AS DOUBLE) AS twa
      FROM a WHERE tsum > 0 ORDER BY user_id""")),

    // ---- hierarchical subtree rollup (recursive closure + agg) ---------
    // The aggregation q138/q158 stop short of: for EVERY node of the
    // parent-pointer hierarchy, the inclusive subtree descendant count
    // and balance total. The ancestor closure is n·depth rows (the
    // standard hierarchical-rollup shape — depth is logarithmic here),
    // built by the native WITH RECURSIVE UnionLoop and aggregated in
    // one pass; balances sum exactly in DECIMAL(18,2) (2-decimal money,
    // width rule). Identical SQL text both engines modulo DIV-vs-//.
    "q247_hierarchy_rollup" -> QueryDef(
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("q247_customer")
        s.sql("""WITH RECURSIVE anc AS (
            SELECT c_custkey AS id, c_custkey AS anc FROM q247_customer
            UNION ALL
            SELECT id, anc DIV 7 FROM anc WHERE anc > 0)
          SELECT anc.anc AS node, COUNT(*) AS n_desc,
            CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
              AS subtree_bal
          FROM anc JOIN q247_customer c ON anc.id = c.c_custkey
          GROUP BY 1 ORDER BY 1""")
      },
      Some("""WITH RECURSIVE anc AS (
        SELECT c_custkey AS id, c_custkey AS anc FROM customer
        UNION ALL
        SELECT id, anc // 7 FROM anc WHERE anc > 0)
      SELECT anc.anc AS node, COUNT(*) AS n_desc,
        CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          AS subtree_bal
      FROM anc JOIN customer c ON anc.id = c.c_custkey
      GROUP BY 1 ORDER BY 1""")),

    // ---- CUSUM change-point detection (exact integer) ------------------
    // Upward-drift alarm on each type's daily count series. The CUSUM
    // recursion s_t = max(0, s_{t-1} + dev_t) is not windowable, but
    // equals P_t − min_{j≤t} P_j for P = running sum of deviations —
    // two running windows. Deviations are scaled by n_days
    // (n·x_t − total) so everything stays EXACT int64 — no float mean
    // anywhere; the alarm rule s_t ≥ 2·total is in the same scaled
    // units. Per-type partitioned windows only; one aggregation pass.
    "q248_ts_cusum_changepoint" -> QueryDef(
      (s, dir) => {
        val daily = graft.sources.Events.load(s, dir)
          .groupBy(col("event_type"), expr("sec DIV 86400").as("day"))
          .agg(count(lit(1)).as("x"))
        val tot = daily.groupBy("event_type")
          .agg(sum("x").as("total"), count(lit(1)).as("nd"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.join(tot, Seq("event_type"))
          .withColumn("p", sum(col("x") * col("nd") - col("total")).over(w))
          .withColumn("st", col("p") - min("p").over(w))
          .groupBy("event_type")
          .agg(max("st").as("max_s"),
            min(when(col("st") >= lit(2L) * col("total"), col("day"))).as("alarm"),
            min("nd").as("n_days"))
          .select(col("event_type"), col("n_days"), col("max_s"),
            coalesce(col("alarm"), lit(-1L)).as("alarm_day"))
          .orderBy("event_type")
      },
      Some(s"""WITH daily AS (SELECT event_type,
          ${Det.epochSecSql("ts")} // 86400 AS day, COUNT(*) AS x
        FROM events GROUP BY 1, 2),
      tot AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS total,
          COUNT(*) AS nd FROM daily GROUP BY 1),
      p AS (SELECT daily.event_type, day,
          SUM(x * nd - total) OVER (PARTITION BY daily.event_type ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
          total, nd
        FROM daily JOIN tot ON daily.event_type = tot.event_type),
      st AS (SELECT event_type, day, total, nd,
          p - MIN(p) OVER (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st
        FROM p)
      SELECT event_type, MIN(nd) AS n_days, CAST(MAX(st) AS BIGINT) AS max_s,
        CAST(COALESCE(MIN(CASE WHEN st >= 2 * total THEN day END), -1)
          AS BIGINT) AS alarm_day
      FROM st GROUP BY 1 ORDER BY 1""")),

    // ---- robust outliers (median / MAD) --------------------------------
    // The z-score's robust sibling (q131 twin): per type, median and
    // median-absolute-deviation of `value`, flagging |x − med| > 3·MAD.
    // BOTH medians are explicit rank selections with the identical
    // (v1 + v2)/2 expression on each engine (q235 recipe — never each
    // engine's percentile interpolation); the deviations and the 3·MAD
    // comparison are deterministic double arithmetic on identical
    // inputs. Group stats are tiny broadcasts. The medians come from
    // Ranks.cumSumsBy — per-type cumulative counts over (value) with
    // each type's rows spread across 64 range bins, so no type ever
    // sorts in a single task (v at rank r = min v with cum ≥ r; equal
    // values share a v, so rank tie-break is moot). Parallelism is
    // types × bins — the per-group exact median that survives a
    // bounded-cardinality group column over billions of rows.
    "q249_stat_mad_outliers" -> QueryDef(
      (s, dir) => {
        def med(df: org.apache.spark.sql.DataFrame, vc: String,
            out: String) = {
          val cnt = df.groupBy(col("event_type"), col(vc).as("v"))
            .agg(count(lit(1)).as("c"))
          val cum = graft.operators.Ranks
            .cumSumsBy(cnt, Seq("event_type"), "v", Seq("c"))
          val n = df.groupBy("event_type").agg(count(lit(1)).as("n"))
          // both rank probes read the same cumulative relation
          val j = cum.join(broadcast(n), Seq("event_type")).persist()
          val v1 = j.filter(col("cum_c") >= expr("(n + 1) DIV 2"))
            .groupBy("event_type").agg(min("v").as("v1"))
          val v2 = j.filter(col("cum_c") >= expr("n DIV 2 + 1"))
            .groupBy("event_type").agg(min("v").as("v2"))
          v1.join(v2, Seq("event_type"))
            .select(col("event_type"), expr("(v1 + v2) / 2.0").as(out))
        }
        val e = graft.sources.Events.load(s, dir)
          .select(col("event_type"), col("event_id"), col("value"))
          .persist()
        val m1 = med(e, "value", "med")
        // Hard-cut the deviation frame: the MAD pipeline and the final
        // aggregate would otherwise each replay the full first-median
        // tree nested inside cumSumsBy's self-references — the before
        // plan was 425 kB / 392 Exchanges of duplicated subtrees, paid
        // in planning time alone (guide §3.3: materialise to truncate
        // a huge plan).
        val dev = graft.util.Jobs.cut(e.join(broadcast(m1), Seq("event_type"))
          .withColumn("adev", abs(col("value") - col("med"))), "q249_dev")
        val m2 = med(dev, "adev", "mad")
        dev.join(broadcast(m2), Seq("event_type"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            min("med").as("med"), min("mad").as("mad"),
            sum(when(col("adev") > lit(3.0) * col("mad"), 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type, event_id, value FROM events),
      r1 AS (SELECT event_type, value, row_number() OVER (
          PARTITION BY event_type ORDER BY value, event_id) AS rn FROM e),
      n1 AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY 1),
      m1 AS (SELECT r1.event_type, (MIN(value) + MAX(value)) / 2.0 AS med
        FROM r1 JOIN n1 ON r1.event_type = n1.event_type
        WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY 1),
      dev AS (SELECT e.event_type, event_id, value, med,
          abs(value - med) AS adev
        FROM e JOIN m1 ON e.event_type = m1.event_type),
      r2 AS (SELECT event_type, adev, row_number() OVER (
          PARTITION BY event_type ORDER BY adev, event_id) AS rn FROM dev),
      m2 AS (SELECT r2.event_type, (MIN(adev) + MAX(adev)) / 2.0 AS mad
        FROM r2 JOIN n1 ON r2.event_type = n1.event_type
        WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY 1)
      SELECT dev.event_type, COUNT(*) AS n_events,
        MIN(med) AS med, MIN(mad) AS mad,
        CAST(SUM(CASE WHEN adev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
          AS n_outliers
      FROM dev JOIN m2 ON dev.event_type = m2.event_type
      GROUP BY 1 ORDER BY 1""")),

    // ---- positional phrase search (bigram adjacency) -------------------
    // The IR step past q226's bag-of-words BM25: exact PHRASE hits via
    // a positional inverted index — token positions from posexplode,
    // phrase match = equi-join on (doc, first-word position + 1,
    // second word). Counts are exact ints; top-10 docs per phrase by
    // (hits desc, doc_id). The position join is vocabulary-filtered
    // BEFORE joining (only the phrase words' postings ever shuffle) —
    // the classic positional-index query plan.
    "q250_llm_phrase_search" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val phrases = Seq((0L, "agg", "join"), (1L, "window", "scan"),
          (2L, "fast", "slow")).toDF("qid", "w1", "w2")
        val tok = t(s, dir, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .select(col("doc_id"), col("pos"), col("col").as("term"))
        val t1 = tok.join(broadcast(phrases), col("term") === col("w1"))
          .select(col("qid"), col("doc_id"), col("pos"))
        val t2 = tok.join(broadcast(phrases.select(col("qid"), col("w2")).distinct()),
            col("term") === col("w2"))
          .select(col("qid"), col("doc_id"), (col("pos") - 1).as("pos"))
        val hits = t1.join(t2, Seq("qid", "doc_id", "pos"))
          .groupBy("qid", "doc_id").agg(count(lit(1)).as("n_hits"))
        val w = Window.partitionBy("qid")
          .orderBy(col("n_hits").desc, col("doc_id"))
        hits.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
          .select(col("qid"), col("doc_id"), col("n_hits"),
            col("rnk").cast("long").as("rnk"))
          .orderBy("qid", "rnk")
      },
      Some("""WITH ph AS (SELECT * FROM (VALUES (0, 'agg', 'join'),
          (1, 'window', 'scan'), (2, 'fast', 'slow')) AS t(qid, w1, w2)),
      tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      ix AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tk),
      tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS term FROM ix),
      t1 AS (SELECT qid, doc_id, pos FROM tok JOIN ph ON tok.term = ph.w1),
      t2 AS (SELECT qid, doc_id, pos - 1 AS pos FROM tok
        JOIN (SELECT DISTINCT qid, w2 FROM ph) p ON tok.term = p.w2),
      h AS (SELECT t1.qid, t1.doc_id, COUNT(*) AS n_hits
        FROM t1 JOIN t2 ON t1.qid = t2.qid AND t1.doc_id = t2.doc_id
          AND t1.pos = t2.pos
        GROUP BY 1, 2),
      r AS (SELECT qid, doc_id, n_hits, row_number() OVER (
          PARTITION BY qid ORDER BY n_hits DESC, doc_id) AS rnk FROM h)
      SELECT CAST(qid AS BIGINT) AS qid, doc_id, n_hits, rnk
      FROM r WHERE rnk <= 10 ORDER BY qid, rnk""")),

    // ---- rolling 7-day distinct users (exact WAU) ----------------------
    // Rolling COUNT(DISTINCT) does not decompose into window sums — the
    // naive exact form re-scans 7 days per day. Linear exact shape: per
    // user, each active day covers days [e, min(e+6, next_active−1)] —
    // consecutive contribution ranges are DISJOINT by construction (the
    // next range starts at the user's next active day), so exploding
    // them (≤7 rows each) and counting per day IS the distinct count,
    // with no distinct anywhere. One lead() per user, bounded explode,
    // one aggregation. The oracle is the quadratic day×activity join
    // spec.
    "q251_evt_rolling_wau" -> QueryDef(
      (s, dir) => {
        val ud = graft.sources.Events.load(s, dir)
          .select(col("user_id"), expr("sec DIV 86400").as("day")).distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        ud.withColumn("nxt", lead("day", 1).over(w))
          .withColumn("hi", least(col("day") + 6,
            coalesce(col("nxt") - 1, col("day") + 6)))
          .select(col("user_id"),
            explode(sequence(col("day"), col("hi"))).as("d"))
          .groupBy("d").agg(count(lit(1)).as("wau"))
          .orderBy("d")
      },
      Some(s"""WITH ud AS (SELECT DISTINCT user_id,
          ${Det.epochSecSql("ts")} // 86400 AS day FROM events),
      days AS (SELECT DISTINCT day AS d FROM ud
        UNION SELECT DISTINCT day + k.k FROM ud,
          (SELECT unnest(range(1, 7)) AS k) k),
      -- spec: distinct users active within the trailing 7 days of d
      w AS (SELECT d, COUNT(DISTINCT user_id) AS wau
        FROM days JOIN ud ON ud.day BETWEEN d - 6 AND d GROUP BY 1)
      SELECT d, wau FROM w ORDER BY d""")),

    // ---- rolling WAU via mergeable HLL sketches (scale path) -----------
    // The sketch twin of q251 and the reason rolling distinct scales at
    // 100 TB: ONE datasketches-HLL per day (bounded bytes), each
    // contributing to its 7 trailing target days by bounded explode —
    // union + estimate per day touches 7 sketches, never the raw user
    // set. This is the mergeable-sketch pattern q93 establishes for
    // partitioned HLL, applied to a sliding window. Rows-only by
    // necessity (per §2.2: estimates have no DuckDB oracle); q251 is
    // the exactly-oracled twin on the identical day domain.
    "q252_evt_rolling_wau_hll" -> QueryDef(
      (s, dir) => {
        val ud = graft.sources.Events.load(s, dir)
          .select(col("user_id"), expr("sec DIV 86400").as("day")).distinct()
        val daily = ud.groupBy("day")
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        daily.select(explode(sequence(col("day"), col("day") + 6)).as("d"),
            col("sk"))
          .groupBy("d")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("long").as("wau_est"))
          .orderBy("d")
      },
      None),

    // ---- cluster labeling by c-TF-IDF (data cartography) ---------------
    // The BERTopic-style composite: q225's two Lloyd rounds assign each
    // document's embedding (vec_id = doc_id) to a cluster; each
    // cluster's characteristic terms are the top-5 by c-TF-IDF —
    // cluster term frequency × (k / #clusters containing the term),
    // the rational idf variant (no ln, q81 precedent). Ranking divides
    // exact ints once per term (deterministic doubles), ties broken by
    // term. Everything inherits q225's int64-exact assignment, so the
    // oracle replays the full unrolled Lloyd plus the tf tail.
    "q253_llm_cluster_terms" -> QueryDef(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")))
          .select(col("vec_id"), (col("pos") + 1).as("i"),
            floor(col("col").cast("double") * lit(1000000L)).as("x"))
          .persist()
        val c0 = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("cid"), col("i"), col("x").as("c"))
        def assign(cents: org.apache.spark.sql.DataFrame) = {
          val d = e.join(broadcast(cents), Seq("i"))
            .groupBy("vec_id", "cid")
            .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("dist"))
          val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
          d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("vec_id"), col("cid"))
        }
        def update(asg: org.apache.spark.sql.DataFrame) =
          e.join(asg, Seq("vec_id"))
            .groupBy("cid", "i")
            .agg(floor(sum("x").cast("double") / count(lit(1))).as("c"))
        val a2 = assign(update(assign(c0)))
        val tf = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
          .join(a2.select(col("vec_id").as("doc_id"), col("cid")), Seq("doc_id"))
          .groupBy("cid", "term").agg(count(lit(1)).as("tf"))
          .persist()
        val dfc = tf.groupBy("term").agg(count(lit(1)).as("dfc"))
        val scored = tf.join(broadcast(dfc), Seq("term"))
          .withColumn("ctfidf", expr(
            "CAST(tf * 4 AS DOUBLE) / CAST(dfc AS DOUBLE)"))
        val w = Window.partitionBy("cid")
          .orderBy(col("ctfidf").desc, col("term"))
        scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
          .select(col("cid"), col("term"), col("tf"), col("ctfidf"),
            col("rnk").cast("long").as("rnk"))
          .orderBy("cid", "rnk")
      },
      Some("""WITH e AS (SELECT vec_id, i.i AS i,
          CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT) AS x
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i),
      c0 AS (SELECT vec_id AS cid, i, x AS c FROM e WHERE vec_id < 4),
      d1 AS (SELECT e.vec_id, c0.cid, SUM((x - c) * (x - c)) AS dist
        FROM e JOIN c0 USING (i) GROUP BY 1, 2),
      a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1),
      c1 AS (SELECT cid, i,
          CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM e JOIN a1 USING (vec_id) GROUP BY 1, 2),
      d2 AS (SELECT e.vec_id, c1.cid, SUM((x - c) * (x - c)) AS dist
        FROM e JOIN c1 USING (i) GROUP BY 1, 2),
      a2 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1),
      tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      tf AS (SELECT cid, term, COUNT(*) AS tf FROM tok
        JOIN a2 ON tok.doc_id = a2.vec_id
        WHERE length(term) > 0 GROUP BY 1, 2),
      dfc AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
      sc AS (SELECT cid, tf.term, tf,
          CAST(tf * 4 AS DOUBLE) / CAST(dfc AS DOUBLE) AS ctfidf
        FROM tf JOIN dfc ON tf.term = dfc.term),
      r AS (SELECT cid, term, tf, ctfidf, row_number() OVER (
          PARTITION BY cid ORDER BY ctfidf DESC, term) AS rnk FROM sc)
      SELECT cid, term, CAST(tf AS BIGINT) AS tf, ctfidf, rnk
      FROM r WHERE rnk <= 5 ORDER BY cid, rnk""")),

    // ---- per-group OLS trend (exact moments) ---------------------------
    // q117's regression per SERIES: each type's daily-count trend,
    // slope = (kΣxy − ΣxΣy)/(kΣx² − (Σx)²) with x = day index rebased
    // to the type's first day (keeps products small) — all moments
    // exact int64, one double division for slope and one for the
    // intercept, round-6 output. Degenerate single-day series yield
    // NULL on both engines.
    "q254_ts_trend_slopes" -> QueryDef(
      (s, dir) => {
        val daily = graft.sources.Events.load(s, dir)
          .groupBy(col("event_type"), expr("sec DIV 86400").as("day"))
          .agg(count(lit(1)).as("y"))
        val base = daily.groupBy("event_type").agg(min("day").as("d0"))
        daily.join(base, Seq("event_type"))
          .withColumn("x", col("day") - col("d0"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .withColumn("slope", expr(
            """CASE WHEN k * sxx - sx * sx > 0 THEN
               round(CAST(k * sxy - sx * sy AS DOUBLE) /
                 CAST(k * sxx - sx * sx AS DOUBLE), 6) END"""))
          .withColumn("intercept", expr(
            """CASE WHEN k * sxx - sx * sx > 0 THEN
               round((CAST(sy AS DOUBLE) - round(CAST(k * sxy - sx * sy AS DOUBLE) /
                 CAST(k * sxx - sx * sx AS DOUBLE), 6) * CAST(sx AS DOUBLE)) /
                 CAST(k AS DOUBLE), 6) END"""))
          .select(col("event_type"), col("k").as("n_days"),
            col("slope"), col("intercept"))
          .orderBy("event_type")
      },
      Some(s"""WITH daily AS (SELECT event_type,
          ${Det.epochSecSql("ts")} // 86400 AS day, COUNT(*) AS y
        FROM events GROUP BY 1, 2),
      b AS (SELECT event_type, MIN(day) AS d0 FROM daily GROUP BY 1),
      m AS (SELECT daily.event_type, COUNT(*) AS k,
          CAST(SUM(day - d0) AS BIGINT) AS sx,
          CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM((day - d0) * y) AS BIGINT) AS sxy,
          CAST(SUM((day - d0) * (day - d0)) AS BIGINT) AS sxx
        FROM daily JOIN b ON daily.event_type = b.event_type GROUP BY 1)
      SELECT event_type, k AS n_days,
        CASE WHEN k * sxx - sx * sx > 0 THEN
          round(CAST(k * sxy - sx * sy AS DOUBLE) /
            CAST(k * sxx - sx * sx AS DOUBLE), 6) END AS slope,
        CASE WHEN k * sxx - sx * sx > 0 THEN
          round((CAST(sy AS DOUBLE) - round(CAST(k * sxy - sx * sy AS DOUBLE) /
            CAST(k * sxx - sx * sx AS DOUBLE), 6) * CAST(sx AS DOUBLE)) /
            CAST(k AS DOUBLE), 6) END AS intercept
      FROM m ORDER BY event_type"""))
  )
}
