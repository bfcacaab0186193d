package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.Skew
import graft.sources.Tables
import graft.util.Det
import graft.util.Det.{davgSql, dsumSql}
import graft.util.Slots

/** Round-2 completeness batch: deterministic hash sampling and
  * train/val/test splits, lateral (correlated) joins, exact median,
  * ROWS-frame moving averages, skew-salted joins, and the
  * text-pipeline additions (PII redaction, tf-idf, within-doc
  * repetition, quality-filter rule chain).
  *
  * Scale notes (100 TB): sampling/splitting are stateless per-row
  * predicates over a multiplicative hash — no shuffle, fully pushed
  * into the scan stage, and the same rows are selected on any cluster
  * layout (the property randomized `TABLESAMPLE` lacks). The lateral
  * join decorrelates to a ranked window (one shuffle on the
  * correlation key). The salted join spreads a hot key over N reducers
  * at the cost of an N-way dim replicate — the manual fallback when
  * AQE skew splitting isn't enough. tf-idf is two hash aggregations
  * (doc-term, then term) plus a broadcast of the corpus size.
  */
object Round2 {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Knuth multiplicative hash bucket in [0, 1000). Oracle-portable
    * (plain int64 arithmetic, identical in DuckDB), deterministic, and
    * uncorrelated with key order — the right shape for sampling at
    * scale vs `rand()` (nondeterministic under retries) or `xxhash64`
    * (not available to the oracle).
    */
  private def hashBucket(key: org.apache.spark.sql.Column) =
    Slots.of(key, 1000L)

  private val hashBucketSql = Slots.sql("o_orderkey", 1000)

  val defs: Map[String, QueryDef] = Map(
    // ---- deterministic 10% sample ------------------------------------
    "q78_sample_hash" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .filter(hashBucket(col("o_orderkey")) < 100)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          Det.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus"),
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
        ${dsumSql("o_totalprice")} AS sum_price
      FROM orders WHERE $hashBucketSql < 100
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- deterministic train/val/test split (80/10/10) ---------------
    "q79_split_train" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .withColumn("split",
          when(hashBucket(col("o_orderkey")) < 800, "train")
            .when(hashBucket(col("o_orderkey")) < 900, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"),
          Det.davg(col("o_totalprice")).as("avg_price"))
        .orderBy("split"),
      Some(s"""SELECT CASE WHEN $hashBucketSql < 800 THEN 'train'
             WHEN $hashBucketSql < 900 THEN 'val' ELSE 'test' END AS split,
        COUNT(*) AS n, ${davgSql("o_totalprice")} AS avg_price
      FROM orders GROUP BY 1 ORDER BY 1""")),

    // ---- lateral (correlated) join: top-2 orders per customer --------
    // Catalyst decorrelates the LIMITed correlated subquery into a
    // ranked window join — one shuffle on o_custkey, no per-row re-scan.
    "q83_join_lateral" -> QueryDef(
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("q83_customer")
        t(s, dir, "orders").createOrReplaceTempView("q83_orders")
        s.sql("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
          FROM q83_customer c,
          LATERAL (SELECT o_orderkey, o_totalprice FROM q83_orders
                   WHERE o_custkey = c.c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
          ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""")
      },
      Some("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""")),

    // ---- exact median (interpolating percentile) ---------------------
    // l_quantity is integer-valued, so the even-count midpoint is exact
    // in both engines' interpolation formulas (SURVEY.md §2.3).
    "q84_agg_median" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(median(col("l_quantity")).as("med_qty"),
          count(lit(1)).as("n"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, median(l_quantity) AS med_qty,
        COUNT(*) AS n, MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- skew-salted join (identical result to the plain join) -------
    "q85_join_salted" -> QueryDef(
      (s, dir) => {
        val fact = t(s, dir, "lineitem").select(
          col("l_partkey").as("p_partkey"), col("l_orderkey"),
          col("l_extendedprice"))
        val dim = t(s, dir, "part").select("p_partkey", "p_brand")
        Skew.saltedJoin(fact, dim, "p_partkey", "l_orderkey", buckets = 8)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"),
            Det.dsum(col("l_extendedprice")).as("revenue"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, COUNT(*) AS n,
        ${dsumSql("l_extendedprice")} AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""")),

    // ---- ROWS-frame moving average ------------------------------------
    "q86_win_moving_avg" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("l_partkey")
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(-3, Window.currentRow)
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // fixture — only (partkey, shipdate, orderkey, linenumber) is.
        // Total-order on that full key (shipdate ordered, then dropped).
        t(s, dir, "lineitem")
          .withColumn("mavg",
            sum(col("l_extendedprice").cast(Det.D6)).over(w).cast("double")
              / count(col("l_extendedprice")).over(w))
          .orderBy("l_partkey", "l_shipdate", "l_orderkey", "l_linenumber")
          .select(col("l_partkey"), col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"), col("mavg"))
      },
      Some("""SELECT l_partkey, l_orderkey,
        CAST(l_linenumber AS BIGINT) AS l_linenumber,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) OVER w AS DOUBLE)
          / COUNT(l_extendedprice) OVER w AS mavg
      FROM lineitem
      WINDOW w AS (PARTITION BY l_partkey
        ORDER BY l_shipdate, l_orderkey, l_linenumber
        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      ORDER BY l_partkey, l_shipdate, l_orderkey, l_linenumber""")),

    // ---- PII redaction over synthesized log lines ---------------------
    // The fixture text is digit-free word soup, so the query synthesizes
    // realistic PII-bearing lines from orders columns, then extracts the
    // email domain and redacts emails and digit runs. regexp_replace is
    // all-occurrences in Spark; the oracle needs the 'g' flag.
    "q80_llm_pii_redact" -> QueryDef(
      (s, dir) => {
        val line = concat(lit("order #"), col("o_orderkey").cast("string"),
          lit(" cust u"), col("o_custkey").cast("string"),
          lit("@example.com phone 555-0"), col("o_orderkey").cast("string"))
        t(s, dir, "orders")
          .select(col("o_orderkey"),
            regexp_extract(line, "@([A-Za-z0-9.]+)", 1).as("domain"),
            regexp_replace(
              regexp_replace(line, "[A-Za-z0-9._]+@[A-Za-z0-9.]+", "<EMAIL>"),
              "[0-9]+", "<NUM>").as("redacted"))
          .orderBy("o_orderkey")
      },
      Some("""WITH l AS (SELECT o_orderkey,
        'order #' || o_orderkey || ' cust u' || o_custkey ||
          '@example.com phone 555-0' || o_orderkey AS line
      FROM orders)
      SELECT o_orderkey,
        regexp_extract(line, '@([A-Za-z0-9.]+)', 1) AS domain,
        regexp_replace(
          regexp_replace(line, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
          '[0-9]+', '<NUM>', 'g') AS redacted
      FROM l ORDER BY o_orderkey""")),

    // ---- tf-idf: top-5 scored terms per document ----------------------
    // score = tf * (N/df) with the ln() omitted: same ranking, and every
    // arithmetic step is a single IEEE op both engines perform
    // identically (libm ln() is not bit-portable).
    "q81_llm_tfidf" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        // document frequency from its own cheap scan (distinct tokens
        // per doc), NOT derived from tf: the vocabulary is tiny, so
        // broadcasting it saves re-shuffling all tf rows on tok — and
        // an independent subtree avoids recomputing tf for the build
        // side (no mid-query persist needed).
        val dfreq = docs
          .select(explode(array_distinct(split(col("text"), " "))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(broadcast(dfreq), "tok").crossJoin(broadcast(nDocs))
          .withColumn("score",
            col("tf").cast("double")
              * (col("n_docs").cast("double") / col("df")))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("tok"))
        scored.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .select("doc_id", "tok", "tf", "df", "score", "rnk")
          .orderBy("doc_id", "rnk")
      },
      Some("""WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      tfc AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
      dfc AS (SELECT tok, COUNT(*) AS df FROM tfc GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      s AS (SELECT doc_id, tfc.tok, tf, df,
        CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / df) AS score
        FROM tfc JOIN dfc ON tfc.tok = dfc.tok CROSS JOIN n),
      r AS (SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk FROM s)
      SELECT doc_id, tok, tf, df, score, rnk FROM r WHERE rnk <= 5
      ORDER BY doc_id, rnk""")),

    // ---- within-document repetition stats -----------------------------
    "q82_llm_repetition" -> QueryDef(
      (s, dir) => {
        val tf = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        tf.groupBy("doc_id")
          .agg(sum("tf").as("n_words"), count(lit(1)).as("n_distinct"),
            max("tf").as("max_tf"))
          .select(col("doc_id"), col("n_words"), col("n_distinct"),
            round(lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 6)
              .as("rep_ratio"),
            round(col("max_tf").cast("double") / col("n_words"), 6)
              .as("top_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1, 2),
      a AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_words,
        COUNT(*) AS n_distinct, MAX(tf) AS max_tf FROM tf GROUP BY 1)
      SELECT doc_id, n_words, n_distinct,
        round(1.0 - CAST(n_distinct AS DOUBLE) / n_words, 6) AS rep_ratio,
        round(CAST(max_tf AS DOUBLE) / n_words, 6) AS top_frac
      FROM a ORDER BY doc_id""")),

    // ---- quality-filter rule chain (Gopher-style) ----------------------
    // First failing rule wins; thresholds chosen to exercise every branch
    // on the fixtures (word counts 10-99, rep 0-0.72, avg_wl 3.7-5.3).
    "q87_llm_quality_filter" -> QueryDef(
      (s, dir) => {
        val words = split(col("text"), " ")
        val nWords = size(words).cast("long")
        val nDistinct = size(array_distinct(words)).cast("long")
        val avgWl = length(replace(col("text"), lit(" "), lit("")))
          .cast("double") / nWords
        val rep = lit(1.0) - nDistinct.cast("double") / nWords
        val reason = when(nWords < 20, "too_short")
          .when(nWords > 90, "too_long")
          .when(avgWl < 4.0 || avgWl > 5.1, "word_len")
          .when(rep > 0.6, "repetitive")
          .otherwise("pass")
        t(s, dir, "documents")
          .select(col("doc_id"), reason.as("reason"),
            when(reason === "pass", 1L).otherwise(0L).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH m AS (SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        CAST(length(replace(text, ' ', '')) AS DOUBLE)
          / len(string_split(text, ' ')) AS avg_wl,
        1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')) AS rep
      FROM documents),
      r AS (SELECT doc_id,
        CASE WHEN n_words < 20 THEN 'too_short'
             WHEN n_words > 90 THEN 'too_long'
             WHEN avg_wl < 4.0 OR avg_wl > 5.1 THEN 'word_len'
             WHEN rep > 0.6 THEN 'repetitive'
             ELSE 'pass' END AS reason
      FROM m)
      SELECT doc_id, reason,
        CAST(CASE WHEN reason = 'pass' THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM r ORDER BY doc_id""")),

    // ---- streaming session windows (stream/batch unification) ----------
    // Same semantics and oracle as the batch q39: sessionize on
    // whole-second event time with a 30-min gap, via a true file-source
    // stream drained with AvailableNow into a complete-mode scratch sink.
    "q88_stream_session" -> QueryDef(
      (s, dir) => {
        val agg = graft.streaming.EventStreams.eventFileStream(s, dir)
          .groupBy(col("user_id"), session_window(col("tss"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
        // session state at 8 partitions, like q40/q70 (stores instantiate
        // per shuffle partition; results are partitioning-independent)
        val out = EventTime.withShufflePartitions(s, 8) {
          graft.streaming.EventStreams.runToParquet(
            agg, "q88_stream_session_sink", mode = "complete")
        }
        out.select(col("user_id"), unix_timestamp(col("sw.start")).as("session_start"),
            col("n_events"))
          .orderBy("user_id", "session_start")
      },
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

    // ---- ORC source/sink roundtrip -------------------------------------
    "q89_src_orc_roundtrip" -> QueryDef(
      (s, dir) => {
        val tmp = graft.util.Scratch.dir("graft_orc")
        t(s, dir, "supplier")
          .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
            col("s_nationkey").cast("long").as("s_nationkey"))
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp).orderBy("s_suppkey")
      },
      Some("""SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
        CAST(s_nationkey AS BIGINT) AS s_nationkey
      FROM supplier ORDER BY s_suppkey""")),

    // ---- correlated EXISTS / NOT EXISTS --------------------------------
    // q68 covers IN + scalar subqueries; this adds the EXISTS family.
    // Both decorrelate to semi/anti joins on the correlation key.
    "q94_subquery_exists" -> QueryDef(
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("q94_customer")
        t(s, dir, "orders").createOrReplaceTempView("q94_orders")
        s.sql("""SELECT c_custkey, c_mktsegment FROM q94_customer c
          WHERE EXISTS (SELECT 1 FROM q94_orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 400000)
            AND NOT EXISTS (SELECT 1 FROM q94_orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_orderstatus = 'F')
          ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 400000)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderstatus = 'F')
      ORDER BY c_custkey""")),

    // ---- ordered string aggregation ------------------------------------
    // listagg/string_agg with an explicit WITHIN-GROUP order (the only
    // hash-matchable form — unordered string_agg is nondeterministic).
    "q95_agg_string" -> QueryDef(
      (s, dir) => {
        t(s, dir, "nation").createOrReplaceTempView("q95_nation")
        s.sql("""SELECT n_regionkey,
            string_agg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names
          FROM q95_nation
          GROUP BY n_regionkey ORDER BY n_regionkey""")
          .select(col("n_regionkey").cast("long").as("n_regionkey"),
            col("names"))
      },
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        string_agg(n_name, ',' ORDER BY n_name) AS names
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // ---- XML source/sink roundtrip (Spark 4 native spark-xml) ----------
    "q97_src_xml_roundtrip" -> QueryDef(
      (s, dir) => {
        val tmp = graft.util.Scratch.dir("graft_xml")
        t(s, dir, "region")
          .select(col("r_regionkey").cast("long").as("r_regionkey"),
            col("r_name"))
          .write.mode("overwrite").option("rootTag", "regions")
          .option("rowTag", "region").xml(tmp)
        s.read.option("rowTag", "region")
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("r_regionkey",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("r_name",
              org.apache.spark.sql.types.StringType))))
          .xml(tmp)
          .orderBy("r_regionkey")
      },
      Some("""SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
      FROM region ORDER BY r_regionkey""")),

    // ---- text source roundtrip (line-oriented ingest) ------------------
    // The raw-text ingest path of an LLM corpus pipeline: serialize to
    // one line per record, read back with spark.read.text, re-parse.
    "q98_src_text_roundtrip" -> QueryDef(
      (s, dir) => {
        val tmp = graft.util.Scratch.dir("graft_text")
        t(s, dir, "nation")
          .select(concat_ws("|", col("n_nationkey").cast("string"),
            col("n_name")).as("value"))
          .write.mode("overwrite").text(tmp)
        s.read.text(tmp)
          .select(split(col("value"), "\\|").as("p"))
          .select(element_at(col("p"), 1).cast("long").as("n_nationkey"),
            element_at(col("p"), 2).as("n_name"))
          .orderBy("n_nationkey")
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
      FROM nation ORDER BY n_nationkey""")),

    // ---- document chunking (overlapping word windows) ------------------
    // The context-window preparation step: split each document into
    // 32-word chunks with stride 24 (8-word overlap). Stateless per-row
    // expansion (sequence + slice — no shuffle before the final sort),
    // so it scales as a pure map over the corpus.
    "q99_llm_chunk" -> QueryDef(
      (s, dir) => {
        val words = split(col("text"), " ")
        t(s, dir, "documents")
          .select(col("doc_id"), words.as("w"), size(words).as("n"))
          .select(col("doc_id"), col("w"),
            posexplode(sequence(lit(0), col("n") - 1, lit(24))))
          .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
            size(slice(col("w"), col("col") + 1, lit(32))).cast("long")
              .as("n_words"),
            md5(concat_ws(" ", slice(col("w"), col("col") + 1, lit(32))))
              .as("chunk_fp"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH s AS (
        SELECT doc_id, string_split(text, ' ') AS w,
          len(string_split(text, ' ')) AS n
        FROM documents),
      c AS (
        SELECT doc_id, CAST(i.gen AS BIGINT) // 24 AS chunk_id,
          w[i.gen + 1 : i.gen + 32] AS chunk
        FROM s, LATERAL (SELECT unnest(range(0, n, 24)) AS gen) i)
      SELECT doc_id, chunk_id,
        CAST(len(chunk) AS BIGINT) AS n_words,
        md5(array_to_string(chunk, ' ')) AS chunk_fp
      FROM c ORDER BY doc_id, chunk_id""")),

    // ---- the full training-data pipeline, end to end -------------------
    // quality filter -> exact dedup -> chunk -> deterministic sample, as
    // ONE oracled query: three stateless per-row stages around a single
    // dedup shuffle — the whole corpus-preparation flow in one plan,
    // every intermediate semantics pinned by the DuckDB twin.
    "q100_llm_pipeline" -> QueryDef(
      (s, dir) => {
        val words = split(col("text"), " ")
        val nWords = size(words).cast("long")
        val avgWl = length(replace(col("text"), lit(" "), lit("")))
          .cast("double") / nWords
        val rep = lit(1.0) - size(array_distinct(words)).cast("double") / nWords
        val pass = t(s, dir, "documents")
          .filter(nWords >= 20 && nWords <= 90 &&
            avgWl >= 4.0 && avgWl <= 5.1 && rep <= 0.6)
        val uniq = pass.groupBy("text").agg(min("doc_id").as("doc_id"))
        val chunks = uniq
          .select(col("doc_id"), split(col("text"), " ").as("w"),
            size(split(col("text"), " ")).as("n"))
          .select(col("doc_id"), col("w"),
            posexplode(sequence(lit(0), col("n") - 1, lit(24))))
          .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
            size(slice(col("w"), col("col") + 1, lit(32))).cast("long")
              .as("n_words"),
            md5(concat_ws(" ", slice(col("w"), col("col") + 1, lit(32))))
              .as("chunk_fp"))
        // bound the intermediate before the big multiplier: the raw
        // product overflows int64 once doc_id reaches ~3.5e9/1e6 — at
        // sf0.1 already (ANSI overflow), let alone at corpus scale
        chunks.filter(
            hashBucket(pmod(col("doc_id") * 1009L + col("chunk_id"),
              lit(1000003L))) < 300)
          .orderBy("doc_id", "chunk_id")
      },
      Some(s"""WITH m AS (SELECT doc_id, text,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        CAST(length(replace(text, ' ', '')) AS DOUBLE)
          / len(string_split(text, ' ')) AS avg_wl,
        1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')) AS rep
      FROM documents),
      pass AS (SELECT doc_id, text FROM m
        WHERE n_words >= 20 AND n_words <= 90
          AND avg_wl >= 4.0 AND avg_wl <= 5.1 AND rep <= 0.6),
      uniq AS (SELECT MIN(doc_id) AS doc_id, text FROM pass GROUP BY text),
      s AS (SELECT doc_id, string_split(text, ' ') AS w,
        len(string_split(text, ' ')) AS n FROM uniq),
      c AS (SELECT doc_id, CAST(i.gen AS BIGINT) // 24 AS chunk_id,
          w[i.gen + 1 : i.gen + 32] AS chunk
        FROM s, LATERAL (SELECT unnest(range(0, n, 24)) AS gen) i)
      SELECT doc_id, chunk_id,
        CAST(len(chunk) AS BIGINT) AS n_words,
        md5(array_to_string(chunk, ' ')) AS chunk_fp
      FROM c
      WHERE ${Slots.sql("((doc_id * 1009 + chunk_id) % 1000003)", 1000)} < 300
      ORDER BY doc_id, chunk_id""")),

    // ---- int8 embedding quantization -----------------------------------
    // Symmetric per-vector quantization (scale = 127/max|x|, q = round
    // (x*scale)) with reconstruction error — the storage-reduction step
    // of an embedding pipeline (4x smaller vectors at ~1e-3 error).
    // Every arithmetic step is a single IEEE op structured identically
    // in the oracle, and round() ties break away-from-zero in both
    // engines, so the per-vector error is bit-reproducible.
    "q96_llm_quantize" -> QueryDef(
      (s, dir) => {
        val xd = (x: Column) => x.cast("double")
        val absmax = array_max(transform(col("embedding"), x => abs(xd(x))))
        val scale = lit(127.0) / col("absmax")
        val err = (x: Column) =>
          abs(xd(x) - round(xd(x) * scale) / scale)
        t(s, dir, "embeddings")
          .withColumn("absmax", absmax)
          .filter(col("absmax") > 0)
          .select(col("vec_id"),
            round(scale, 6).as("scale"),
            round(array_max(transform(col("embedding"), err)), 6)
              .as("max_abs_err"),
            size(col("embedding")).cast("long").as("n_dims"))
          .orderBy("vec_id")
      },
      Some("""WITH m AS (
        SELECT vec_id, MAX(abs(CAST(embedding[i.i] AS DOUBLE))) AS absmax
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1),
      e AS (
        SELECT eb.vec_id,
          127.0 / m.absmax AS scale,
          MAX(abs(CAST(eb.embedding[i.i] AS DOUBLE)
            - round(CAST(eb.embedding[i.i] AS DOUBLE) * (127.0 / m.absmax))
              / (127.0 / m.absmax))) AS max_err,
          COUNT(*) AS n_dims
        FROM embeddings eb JOIN m ON eb.vec_id = m.vec_id,
             (SELECT unnest(range(1, 65)) AS i) i
        WHERE m.absmax > 0
        GROUP BY 1, 2)
      SELECT vec_id, round(scale, 6) AS scale,
        round(max_err, 6) AS max_abs_err, n_dims
      FROM e ORDER BY vec_id""")),

    // ---- custom DataSourceV2 connector ---------------------------------
    // Generated table through the full DSv2 contract (TableProvider →
    // ScanBuilder with filter + column pushdown → partitioned Batch
    // read); the id-range predicate prunes input partitions at planning
    // time. Oracled against DuckDB's range() generator.
    "q92_src_custom_dsv2" -> QueryDef(
      (s, dir) => s.read.format("graft.sources.SeqSource")
        .option("rows", "2000").option("slices", "8").load()
        .filter(col("id") >= 100 && col("id") < 1900)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), max(col("payload")).as("max_payload"))
        .orderBy("bucket"),
      Some("""SELECT i % 10 AS bucket, COUNT(*) AS n,
        MAX('doc_' || i) AS max_payload
      FROM range(0, 2000) t(i) WHERE i >= 100 AND i < 1900
      GROUP BY 1 ORDER BY 1""")),

    // ---- mergeable HLL sketches (Datasketches) -------------------------
    // THE 100 TB pre-aggregation pattern: build per-group sketches once
    // (e.g. per day/partition), then answer any rollup by UNIONING the
    // sketch column — no re-scan of raw data. approx_count_distinct
    // cannot do this (its state isn't a first-class mergeable value).
    // Sketch state is register-maxima, so estimates are partitioning-
    // independent (the determinism sweep enforces this); approximate vs
    // the oracle, hence rows-only like q20.
    "q93_agg_hll_mergeable" -> QueryDef(
      (s, dir) => {
        val sk = graft.sources.Events.load(s, dir)
          .groupBy("event_type")
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val per = sk.select(col("event_type"),
          hll_sketch_estimate(col("sk")).as("approx_users"))
        val all = sk.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
          .select(lit("~ALL").as("event_type"), col("approx_users"))
        per.unionByName(all).orderBy("event_type")
      },
      None),

    // ---- approximate percentile (t-digest sketch) ----------------------
    // Approximate by construction — rows-only check, like the HLL q20;
    // the exact-percentile q17 is the oracle-scored twin of this family.
    "q90_agg_approx_quantile" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_percentile(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("p50_approx"),
          approx_percentile(col("l_extendedprice"), lit(0.95), lit(1000))
            .as("p95_approx"))
        .orderBy("l_returnflag"),
      None)
  )
}
