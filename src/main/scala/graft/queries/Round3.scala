package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables
import graft.util.Det
import graft.util.Det.{davgSql, dsumSql}
import graft.util.Slots

/** Round-3 completeness batch: warehouse-maintenance operators (SCD2
  * dimension build, CDC snapshot diff), LLM sequence packing, mode
  * aggregate, fixed-width histograms, INTERSECT ALL, and text/sampling
  * additions.
  *
  * Scale notes (100 TB): SCD2 is one window shuffle on the dimension
  * key — the same plan shape at any scale, no self-join. Snapshot diff
  * is a single full-outer shuffle join on the primary key (AQE handles
  * skew); at 100 TB both sides are key-partitioned parquet so the join
  * co-locates. Sequence packing is a running sum over an explicit
  * global order — at scale you partition by shard and pack within
  * shards (the global-window form here is the per-shard kernel). Mode
  * and histogram are two-level hash aggregations with map-side
  * combine; INTERSECT ALL is Spark's built-in count-balancing
  * aggregate (no row explosion).
  */
object Round3 {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  val defs: Map[String, QueryDef] = Map(
    // ---- SCD2 dimension build from a change log -----------------------
    // Each customer's orders are the change stream for a slowly-changing
    // "priority" attribute: valid_from = change date, valid_to =
    // next-change date (exclusive; NULL = current row). One window
    // shuffle on the dimension key; no self-join.
    "q101_scd2_dimension" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderpriority").as("prio"),
            col("o_orderdate").cast("date").as("valid_from"),
            lead(col("o_orderdate"), 1).over(w).cast("date").as("valid_to"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderpriority AS prio,
        CAST(o_orderdate AS DATE) AS valid_from,
        CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey) AS DATE) AS valid_to
      FROM orders ORDER BY o_custkey, o_orderkey""")),

    // ---- CDC snapshot diff (insert/delete/update/same) ----------------
    // Two deterministic snapshots of `orders` (disjoint 10% dropped on
    // each side; every 3rd key repriced in the new one) diffed with a
    // single full-outer join on the primary key.
    "q102_snapshot_diff" -> QueryDef(
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
        val old = base.filter(pmod(col("k"), lit(10)) =!= 0)
        val neu = base.filter(pmod(col("k"), lit(10)) =!= 1)
          .withColumn("price",
            when(pmod(col("k"), lit(3)) === 0, col("price") + lit(100.0))
              .otherwise(col("price")))
        old.as("o").join(neu.as("n"), col("o.k") === col("n.k"), "full_outer")
          .select(
            when(col("o.k").isNull, "insert")
              .when(col("n.k").isNull, "delete")
              .when(col("o.price") =!= col("n.price"), "update")
              .otherwise("same").as("change_type"))
          .groupBy("change_type").agg(count(lit(1)).as("n"))
          .orderBy("change_type")
      },
      Some("""WITH old AS (SELECT o_orderkey AS k, o_totalprice AS price
        FROM orders WHERE o_orderkey % 10 <> 0),
      neu AS (SELECT o_orderkey AS k,
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
               ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 10 <> 1)
      SELECT CASE WHEN o.k IS NULL THEN 'insert'
                  WHEN n.k IS NULL THEN 'delete'
                  WHEN o.price <> n.price THEN 'update'
                  ELSE 'same' END AS change_type, COUNT(*) AS n
      FROM old o FULL OUTER JOIN neu n ON o.k = n.k
      GROUP BY 1 ORDER BY 1""")),

    // ---- LLM sequence packing (cumulative-budget bucketing) -----------
    // Pack documents (n_chars as the token proxy) into training
    // sequences of budget 8192: seq = floor(chars-before-me / budget)
    // over a deterministic document order WITHIN A HASH SHARD
    // (doc_id % 16). Packing is embarrassingly parallel across shards —
    // real pretraining packers shard exactly like this — so the plan is
    // one hash exchange on the shard key + a per-partition window: no
    // single-partition global sort anywhere, and the shard count scales
    // with the cluster, not the corpus. (The earlier global-ORDER-BY
    // form funneled the whole corpus through one task; it survives only
    // as the intra-shard kernel this window computes.)
    "q103_seq_packing" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, dir, "documents")
          .select(pmod(col("doc_id"), lit(16L)).as("shard"),
            col("doc_id"), col("n_chars"))
          .withColumn("before",
            coalesce(sum(col("n_chars")).over(w), lit(0L)))
          .withColumn("seq_id", floor(col("before") / lit(8192)))
          .groupBy("shard", "seq_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"))
          .orderBy("shard", "seq_id")
      },
      Some("""WITH c AS (SELECT doc_id % 16 AS shard, doc_id, n_chars,
        COALESCE(SUM(n_chars) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM documents)
      SELECT CAST(shard AS BIGINT) AS shard,
        CAST(FLOOR(before / 8192) AS BIGINT) AS seq_id,
        COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM c GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- mode (most frequent value, deterministic tie-break) ----------
    // DuckDB's mode() ties are nondeterministic, so both sides use the
    // explicit count + rank form: two hash aggregations + one tiny
    // window over the group's candidate set.
    "q106_agg_mode" -> QueryDef(
      (s, dir) => {
        val counts = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
          .groupBy("l_returnflag", "qty").agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("cnt").desc, col("qty"))
        counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_returnflag"), col("qty").as("mode_qty"), col("cnt"))
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        ORDER BY cnt DESC, qty) AS rn FROM c)
      SELECT l_returnflag, qty AS mode_qty, cnt
      FROM r WHERE rn = 1 ORDER BY l_returnflag""")),

    // ---- fixed-width histogram ----------------------------------------
    // width_bucket-style binning as pure arithmetic (identical IEEE
    // floor/divide both engines); one hash aggregation.
    "q108_histogram" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .select(least(floor(col("o_totalprice") / lit(50000.0)), lit(9.0))
          .cast("long").as("bucket"),
          col("o_totalprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("bucket"),
      Some(s"""SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 9.0) AS BIGINT)
          AS bucket, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
      FROM orders GROUP BY 1 ORDER BY 1""")),

    // ---- INTERSECT ALL (multiset intersection) ------------------------
    // Spark plans intersectAll as a count-balancing aggregate (no row
    // explosion) — multiplicity = min(count_left, count_right).
    "q119_set_intersect_all" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val a = li.filter(col("l_quantity") < 10)
          .select(pmod(col("l_partkey"), lit(500L)).as("k"))
        val b = li.filter(col("l_quantity") > 40)
          .select(pmod(col("l_partkey"), lit(500L)).as("k"))
        a.intersectAll(b)
          .groupBy("k").agg(count(lit(1)).as("n"))
          .orderBy("k")
      },
      Some("""WITH i AS (
        SELECT l_partkey % 500 AS k FROM lineitem WHERE l_quantity < 10
        INTERSECT ALL
        SELECT l_partkey % 500 AS k FROM lineitem WHERE l_quantity > 40)
      SELECT k, COUNT(*) AS n FROM i GROUP BY k ORDER BY k""")),

    // ---- text normalization (lowercase, strip, collapse whitespace) ---
    // Pure per-row string kernels — stateless, fully codegen'd, no
    // shuffle; the token count uses the length-difference identity so
    // both engines compute it with identical integer arithmetic.
    "q104_text_normalize" -> QueryDef(
      (s, dir) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
        t(s, dir, "documents")
          .select(col("doc_id"), norm.as("norm"))
          .select(col("doc_id"),
            substring(col("norm"), 1, 80).as("prefix"),
            when(col("norm") === "", lit(0L))
              .otherwise(length(col("norm"))
                - length(regexp_replace(col("norm"), " ", "")) + 1)
              .cast("long").as("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH n AS (SELECT doc_id, trim(regexp_replace(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        FROM documents)
      SELECT doc_id, substring(norm, 1, 80) AS prefix,
        CAST(CASE WHEN norm = '' THEN 0
             ELSE length(norm) - length(replace(norm, ' ', '')) + 1 END AS BIGINT)
          AS n_tokens
      FROM n ORDER BY doc_id""")),

    // ---- stratified sampling (deterministic per-stratum top-k) --------
    // Each language stratum contributes its 20 lowest multiplicative-
    // hash docs: one window shuffle on the stratum key; the same rows
    // win on any cluster layout (vs rand()'s retry nondeterminism).
    "q105_stratified_sample" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("lang")
          .orderBy(Slots.of(col("doc_id"), 1000000L),
            col("doc_id"))
        t(s, dir, "documents")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .select(col("lang"), col("doc_id"), col("n_chars"))
          .orderBy("lang", "doc_id")
      },
      Some(s"""WITH r AS (SELECT lang, doc_id, n_chars,
        row_number() OVER (PARTITION BY lang
          ORDER BY ${Slots.sql("doc_id", 1000000)}, doc_id) AS rn
        FROM documents)
      SELECT lang, doc_id, n_chars FROM r WHERE rn <= 20
      ORDER BY lang, doc_id""")),

    // ---- null-safe equality join (<=> / IS NOT DISTINCT FROM) ---------
    "q110_join_null_safe" -> QueryDef(
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .select(col("c_custkey"),
            nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
        val dim = cust.select(col("seg")).distinct()
          .select(col("seg"), coalesce(col("seg"), lit("(none)")).as("label"))
        cust.as("c").join(dim.as("d"), col("c.seg") <=> col("d.seg"))
          .groupBy("label").agg(count(lit(1)).as("n_cust"))
          .orderBy("label")
      },
      Some("""WITH cust AS (SELECT c_custkey,
          nullif(c_mktsegment, 'BUILDING') AS seg FROM customer),
      dim AS (SELECT seg, COALESCE(seg, '(none)') AS label
        FROM (SELECT DISTINCT seg FROM cust))
      SELECT d.label, COUNT(*) AS n_cust
      FROM cust c JOIN dim d ON c.seg IS NOT DISTINCT FROM d.seg
      GROUP BY d.label ORDER BY d.label""")),

    // ---- date spine + gap fill (0-fill and LOCF) ----------------------
    // sequence()+explode generates the spine from the data's own
    // bounds; LOCF is last(ignoreNulls) over an ordered frame. At
    // 100 TB the spine is tiny (days) and the join broadcasts it.
    "q107_date_spine_gapfill" -> QueryDef(
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .filter(pmod(col("o_custkey"), lit(50L)) === 0)
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg(count(lit(1)).as("n_raw"))
        val spine = daily.agg(min("d").as("lo"), max("d").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("d"))
        val w = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("d"), "left")
          .select(col("d"), coalesce(col("n_raw"), lit(0L)).as("n"),
            last(col("n_raw"), ignoreNulls = true).over(w).as("locf"))
          .orderBy("d")
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
          COUNT(*) AS n_raw FROM orders WHERE o_custkey % 50 = 0 GROUP BY 1),
      b AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
      spine AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
          CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM b)
      SELECT s.d, COALESCE(n_raw, 0) AS n,
        last_value(n_raw IGNORE NULLS) OVER (ORDER BY s.d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
      FROM spine s LEFT JOIN daily USING (d) ORDER BY s.d""")),

    // ---- URL synthesis + parse + blocklist filter ---------------------
    // regexp_extract host/path parsing (portable to the oracle, unlike
    // parse_url); per-row kernels then one hash aggregation.
    "q114_llm_url_parse" -> QueryDef(
      (s, dir) => {
        val url = concat(lit("https://"), col("source"),
          lit(".example.com/docs/"), col("doc_id").cast("string"),
          lit("?lang="), col("lang"))
        t(s, dir, "documents")
          .select(col("doc_id"), url.as("url"))
          .select(col("doc_id"),
            regexp_extract(col("url"), "https://([^/?]+)", 1).as("host"),
            regexp_extract(col("url"), "/docs/([0-9]+)", 1)
              .cast("long").as("path_id"))
          .filter(col("host") =!= "src0.example.com")
          .groupBy("host")
          .agg(count(lit(1)).as("n_docs"), max(col("path_id")).as("max_doc"))
          .orderBy("host")
      },
      Some("""WITH u AS (SELECT doc_id, 'https://' || source ||
          '.example.com/docs/' || CAST(doc_id AS VARCHAR) ||
          '?lang=' || lang AS url FROM documents),
      p AS (SELECT doc_id,
          regexp_extract(url, 'https://([^/?]+)', 1) AS host,
          CAST(regexp_extract(url, '/docs/([0-9]+)', 1) AS BIGINT) AS path_id
        FROM u)
      SELECT host, COUNT(*) AS n_docs, MAX(path_id) AS max_doc
      FROM p WHERE host <> 'src0.example.com'
      GROUP BY host ORDER BY host""")),

    // ---- contamination overlap score (fraction, not just threshold) ---
    // q75's decontamination join, but scoring: shared-shingle fraction
    // per corpus doc. The shingle index carries each doc's distinct-
    // shingle count through the join, so the score needs no second
    // aggregation over text.
    "q116_llm_contamination_score" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val c = graft.operators.Dedup.shingleIndex(
          docs.filter(col("source") =!= "src0"), "doc_id", "text", 3)
        val b = graft.operators.Dedup.shingleIndex(
          docs.filter(col("source") === "src0"), "doc_id", "text", 3)
          .select(col("gh")).distinct()
        c.join(broadcast(b), "gh")
          .groupBy(col("doc_id"), col("__n").as("n_total"))
          .agg(count(lit(1)).as("n_shared"))
          .select(col("doc_id"), col("n_shared"), col("n_total"),
            round(col("n_shared").cast("double")
              / col("n_total").cast("double"), 6).as("frac"))
          .filter(col("n_shared") >= 3)
          .orderBy("doc_id")
      },
      Some(s"""WITH sp AS (SELECT doc_id, source, string_split(text, ' ') AS w
        FROM documents),
      sh0 AS (SELECT doc_id, source, w[i.i] || '_' || w[i.i+1] || '_' || w[i.i+2] AS g
        FROM sp, ${LlmOps.shingleIdx("sp")} WHERE i.i + 2 <= len(w)),
      sh AS (SELECT DISTINCT doc_id, source, g FROM sh0),
      tot AS (SELECT doc_id, COUNT(*) AS n_total FROM sh
        WHERE source <> 'src0' GROUP BY doc_id),
      bench AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
      shared AS (SELECT c.doc_id, COUNT(*) AS n_shared
        FROM sh c JOIN bench b ON c.g = b.g
        WHERE c.source <> 'src0' GROUP BY c.doc_id)
      SELECT s.doc_id, s.n_shared, t.n_total,
        round(CAST(s.n_shared AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6) AS frac
      FROM shared s JOIN tot t ON s.doc_id = t.doc_id
      WHERE s.n_shared >= 3 ORDER BY s.doc_id""")),

    // ---- binaryFile source (opaque-blob ingest) ------------------------
    // Round-trips document text as raw .bin files through Spark's
    // binaryFile source (the multimodal ingest path: path + length +
    // content as binary). The write side is a driver loop because it
    // seeds a tiny fixture; at scale blobs arrive in object storage and
    // only the read path matters.
    "q109_src_binaryfile" -> QueryDef(
      (s, dir) => {
        import java.nio.file.Files
        val tmp = new java.io.File(graft.util.Scratch.dir("graft_q109_"))
        val docs = t(s, dir, "documents").filter(col("doc_id") < 25)
          .select("doc_id", "text").collect()
        docs.foreach { r =>
          Files.write(new java.io.File(tmp, s"doc_${r.getLong(0)}.bin").toPath,
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
          .load(tmp.getAbsolutePath)
          .select(regexp_extract(col("path"), "doc_([0-9]+)\\.bin", 1)
            .cast("long").as("doc_id"),
            col("length").as("n_bytes"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents WHERE doc_id < 25 ORDER BY doc_id""")),

    // ---- cumulative distinct users per day -----------------------------
    // COUNT(DISTINCT) OVER a running frame is unsupported (and
    // inherently unscalable); the distributed form: each user's first
    // day (one hash agg), daily new-user counts (second hash agg),
    // running sum over the tiny day spine.
    "q111_win_cumulative_distinct" -> QueryDef(
      (s, dir) => {
        val firstDay = graft.sources.Events.load(s, dir)
          .select(col("user_id"), (col("sec") / lit(86400L)).cast("long").as("d"))
          .groupBy("user_id").agg(min(col("d")).as("d"))
        val w = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        firstDay.groupBy("d").agg(count(lit(1)).as("new_users"))
          .withColumn("cum_users", sum(col("new_users")).over(w))
          .orderBy("d")
      },
      Some(s"""WITH f AS (SELECT user_id,
          MIN(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS d
        FROM events GROUP BY user_id),
      byday AS (SELECT d, COUNT(*) AS new_users FROM f GROUP BY d)
      SELECT d, new_users, CAST(SUM(new_users) OVER (ORDER BY d
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      FROM byday ORDER BY d""")),

    // ---- interval-overlap sweep (max concurrency) ----------------------
    // Classic +1/-1 boundary-event sweep: each event holds a 300 s
    // half-open interval; running sum of deltas ordered by (time,
    // delta) gives instantaneous concurrency; max per type. Within a
    // tie group all deltas share a sign, so the partition max is
    // order-independent — safe under any shuffle layout.
    "q112_interval_overlap" -> QueryDef(
      (s, dir) => {
        val e = graft.sources.Events.load(s, dir)
          .select(col("event_type"), col("sec"))
        val deltas = e.select(col("event_type"), col("sec").as("t"),
            lit(1L).as("delta"))
          .unionAll(e.select(col("event_type"),
            (col("sec") + 300L).as("t"), lit(-1L).as("delta")))
        val w = Window.partitionBy("event_type").orderBy("t", "delta")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        deltas.withColumn("conc", sum(col("delta")).over(w))
          .groupBy("event_type")
          .agg(max(col("conc")).as("max_concurrent"))
          .orderBy("event_type")
      },
      Some(s"""WITH e AS (SELECT event_type, ${Det.epochSecSql("ts")} AS sec
        FROM events),
      d AS (SELECT event_type, sec AS t, 1 AS delta FROM e
        UNION ALL SELECT event_type, sec + 300, -1 FROM e),
      c AS (SELECT event_type, SUM(delta) OVER (PARTITION BY event_type
        ORDER BY t, delta ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS conc FROM d)
      SELECT event_type, CAST(MAX(conc) AS BIGINT) AS max_concurrent
      FROM c GROUP BY event_type ORDER BY event_type""")),

    // ---- as-of join with tolerance bound -------------------------------
    // q12's as-of match, nulled when the matched click is more than
    // 10 minutes old — same single-shuffle plan (see AsOfJoin
    // .asOfCodeTol; the post-filter is equivalent to a bounded search).
    "q113_join_asof_tolerance" -> QueryDef(
      (s, dir) => {
        val e = graft.sources.Events.load(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"), col("sec"))
        val probes = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("sec"), col("event_id"))
        // code packs (sec, event_id); the 1e9 base is the key-domain
        // ceiling (event_id < 1e9 holds through ~1e9 events) and the
        // int64 ceiling (epoch-sec ~1.8e9 * 1e9 < 2^63; 1e10 overflows)
        val srcs = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("sec"),
            (col("sec") * lit(1000000000L) + col("event_id")).as("code"))
        graft.operators.AsOfJoin
          .asOfCodeTol(probes, srcs, "user_id", "sec", "event_id",
            codeBase = 1000000000L, tolSecs = 600L)
          .orderBy("event_id")
      },
      Some(s"""WITH e AS (SELECT event_id, user_id, event_type,
          ${Det.epochSecSql("ts")} AS sec FROM events),
      p AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'purchase'),
      c AS (SELECT user_id, sec, sec*1000000000 + event_id AS code
        FROM e WHERE event_type = 'click')
      SELECT p.event_id, p.user_id,
        (SELECT max(c.code) FROM c WHERE c.user_id = p.user_id
          AND c.sec BETWEEN p.sec - 600 AND p.sec) AS match_code
      FROM p ORDER BY p.event_id""")),

    // ---- column profiling (deequ-style stats in one scan) --------------
    // One aggregation computes every column's null count / distinct /
    // min / max, then unpivots to long form on the driver side of the
    // plan (stack) — a single pass over the table regardless of column
    // count, vs the naive one-scan-per-column loop.
    "q115_profile" -> QueryDef(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val agg = c.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("nn_custkey"),
          countDistinct(col("c_custkey")).as("nd_custkey"),
          min(col("c_custkey")).cast("string").as("min_custkey"),
          max(col("c_custkey")).cast("string").as("max_custkey"),
          sum(when(col("c_mktsegment").isNull, 1L).otherwise(0L)).as("nn_seg"),
          countDistinct(col("c_mktsegment")).as("nd_seg"),
          min(col("c_mktsegment")).as("min_seg"),
          max(col("c_mktsegment")).as("max_seg"),
          sum(when(col("c_nationkey").isNull, 1L).otherwise(0L)).as("nn_nat"),
          countDistinct(col("c_nationkey")).as("nd_nat"),
          min(col("c_nationkey")).cast("string").as("min_nat"),
          max(col("c_nationkey")).cast("string").as("max_nat"))
        agg.select(expr(
          """stack(3,
            'c_custkey', n_rows, nn_custkey, nd_custkey, min_custkey, max_custkey,
            'c_mktsegment', n_rows, nn_seg, nd_seg, min_seg, max_seg,
            'c_nationkey', n_rows, nn_nat, nd_nat, min_nat, max_nat)
            AS (col_name, n_rows, n_nulls, n_distinct, min_s, max_s)"""))
          .orderBy("col_name")
      },
      Some("""WITH a AS (SELECT COUNT(*) AS n_rows,
        CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_custkey,
        CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS nd_custkey,
        CAST(MIN(c_custkey) AS VARCHAR) AS min_custkey,
        CAST(MAX(c_custkey) AS VARCHAR) AS max_custkey,
        CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_seg,
        CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS nd_seg,
        MIN(c_mktsegment) AS min_seg, MAX(c_mktsegment) AS max_seg,
        CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_nat,
        CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS nd_nat,
        CAST(MIN(c_nationkey) AS VARCHAR) AS min_nat,
        CAST(MAX(c_nationkey) AS VARCHAR) AS max_nat FROM customer)
      SELECT u.* FROM a, LATERAL (VALUES
        ('c_custkey', a.n_rows, a.nn_custkey, a.nd_custkey, a.min_custkey, a.max_custkey),
        ('c_mktsegment', a.n_rows, a.nn_seg, a.nd_seg, a.min_seg, a.max_seg),
        ('c_nationkey', a.n_rows, a.nn_nat, a.nd_nat, a.min_nat, a.max_nat))
        AS u(col_name, n_rows, n_nulls, n_distinct, min_s, max_s)
      ORDER BY col_name""")),

    // ---- linear regression (slope/intercept from exact sums) -----------
    // regr_slope/regr_intercept recomputed from order-independent
    // decimal sums, then one fixed double formula — bit-identical on
    // any cluster layout, unlike the engines' internal streaming-moment
    // implementations. Decimal widths are chosen int64-backed
    // (DECIMAL(18,s)) with exactly-representable addends: int128-backed
    // decimals (precision > 18) lose oracle parity once the unscaled
    // sum exceeds 2^53, because the two engines' int128->double casts
    // round differently (found empirically: 1-ulp divergence). x is
    // integer-valued and y has 2 decimals, so scales 0/2 are lossless.
    "q117_agg_regression" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val x = col("l_quantity"); val y = col("l_extendedprice")
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(x.cast(DecimalType(18, 0))).cast("double").as("sx"),
            sum(y.cast(Det.D6)).cast("double").as("sy"),
            sum((x * y).cast(DecimalType(18, 2))).cast("double").as("sxy"),
            sum((x * x).cast(DecimalType(18, 0))).cast("double").as("sxx"))
          .withColumn("slope",
            (col("n") * col("sxy") - col("sx") * col("sy"))
              / (col("n") * col("sxx") - col("sx") * col("sx")))
          .withColumn("intercept",
            (col("sy") - col("slope") * col("sx")) / col("n"))
          .select(col("l_returnflag"), col("slope"), col("intercept"),
            col("n").cast("long").as("n"))
          .orderBy("l_returnflag")
      },
      Some("""WITH a AS (SELECT l_returnflag,
        CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sxx
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag,
        (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
        (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n AS intercept,
        CAST(n AS BIGINT) AS n
      FROM a ORDER BY l_returnflag""")),

    // ---- paragraph-level dedup (keep-first within the corpus) ----------
    // Documents sliced into 16-word paragraphs; each distinct paragraph
    // survives only in its first (doc_id, para_id) owner. One shuffle
    // on the paragraph fingerprint; the survivor is an order-independent
    // MIN over an encoded (doc, para) code — no window needed.
    "q118_llm_paragraph_dedup" -> QueryDef(
      (s, dir) => {
        val words = split(col("text"), " ")
        val paras = t(s, dir, "documents")
          .select(col("doc_id"), words.as("w"), size(words).as("n"))
          .select(col("doc_id"), col("w"),
            posexplode(sequence(lit(0), col("n") - 1, lit(16))))
          .select(col("doc_id"), col("pos").cast("long").as("para_id"),
            md5(concat_ws(" ", slice(col("w"), col("col") + 1, lit(16))))
              .as("fp"))
          .withColumn("code", col("doc_id") * 100000L + col("para_id"))
        val survivors = paras.groupBy("fp")
          .agg(min(col("code")).as("keep_code"))
        paras.join(survivors, "fp")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_paras"),
            sum(when(col("code") === col("keep_code"), 1L).otherwise(0L))
              .as("n_kept"))
          .orderBy("doc_id")
      },
      Some("""WITH s AS (SELECT doc_id, string_split(text, ' ') AS w,
          len(string_split(text, ' ')) AS n FROM documents),
      p AS (SELECT doc_id, CAST(i.gen AS BIGINT) // 16 AS para_id,
          md5(array_to_string(w[i.gen + 1 : i.gen + 16], ' ')) AS fp
        FROM s, LATERAL (SELECT unnest(range(0, n, 16)) AS gen) i),
      pc AS (SELECT doc_id, para_id, fp,
          doc_id * 100000 + para_id AS code FROM p),
      sur AS (SELECT fp, MIN(code) AS keep_code FROM pc GROUP BY fp)
      SELECT pc.doc_id, COUNT(*) AS n_paras,
        CAST(SUM(CASE WHEN pc.code = sur.keep_code THEN 1 ELSE 0 END)
          AS BIGINT) AS n_kept
      FROM pc JOIN sur ON pc.fp = sur.fp
      GROUP BY pc.doc_id ORDER BY pc.doc_id""")),

    // ---- partitioned parquet sink + partition-pruned read --------------
    // Hive-style partitionBy(year) write, then a read that prunes to
    // one partition (the .explain shows PartitionFilters, not a full
    // scan) — the layout that bounds every incremental job at 100 TB.
    "q120_src_partitioned_roundtrip" -> QueryDef(
      (s, dir) => {
        val tmp = new java.io.File(graft.util.Scratch.dir("graft_q120_"))
        t(s, dir, "orders")
          .withColumn("yr", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("yr")
          .parquet(tmp.getAbsolutePath)
        s.read.parquet(tmp.getAbsolutePath)
          .filter(col("yr") === 1996)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            Det.dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
        ${dsumSql("o_totalprice")} AS sum_price
      FROM orders WHERE year(o_orderdate) = 1996
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- per-label centroids + outlier distances (k-means kernel) ------
    // The assignment/update step of distributed k-means: centroids via
    // exact-decimal per-dimension means (one shuffle on (label, dim)),
    // distances via a second exact-decimal sum — bit-identical on any
    // partitioning, then top-5 outliers per label.
    "q121_llm_embedding_centroids" -> QueryDef(
      (s, dir) => {
        // WIDTH RULE (Det.scala): addend cast stays int64-backed
        // (precision <= 18). d2 <= ~1.4 (embeddings are unit-scale), so
        // scale 12 keeps the per-vector unscaled sum ~1e14 << 2^53.
        val wide = org.apache.spark.sql.types.DecimalType(18, 12)
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")))
          .select(col("vec_id"), col("label"),
            (col("pos") + 1).as("pos"), col("col").cast("double").as("v"))
        val cent = e.groupBy("label", "pos")
          .agg((sum(col("v").cast(Det.D6)).cast("double") / count(col("v")))
            .as("c"))
        val dist = e.join(cent, Seq("label", "pos"))
          .withColumn("d2", (col("v") - col("c")) * (col("v") - col("c")))
          .groupBy("vec_id", "label")
          .agg(sum(col("d2").cast(wide)).cast("double").as("dist2"))
        val w = Window.partitionBy("label")
          .orderBy(col("dist2").desc, col("vec_id"))
        dist.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("label").cast("long").as("label"),
            col("vec_id"), col("dist2"))
          .orderBy("label", "vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, label, i.i AS pos,
          CAST(embedding[i.i] AS DOUBLE) AS v
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i),
      cent AS (SELECT label, pos,
          CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)/COUNT(v) AS c
        FROM e GROUP BY label, pos),
      d AS (SELECT e.vec_id, e.label,
          CAST(SUM(CAST((v-c)*(v-c) AS DECIMAL(18,12))) AS DOUBLE) AS dist2
        FROM e JOIN cent ON e.label = cent.label AND e.pos = cent.pos
        GROUP BY e.vec_id, e.label),
      r AS (SELECT *, row_number() OVER (PARTITION BY label
          ORDER BY dist2 DESC, vec_id) AS rn FROM d)
      SELECT CAST(label AS BIGINT) AS label, vec_id, dist2
      FROM r WHERE rn <= 5 ORDER BY label, vec_id""")),

    // ---- event funnel (ordered-stage conversion) -----------------------
    // view -> click -> purchase, each stage's timestamp bounded below
    // by the previous stage (per user): three hash aggregations chained
    // by broadcast-sized joins on user_id — no window over the raw
    // event stream, so the plan scales with users, not events.
    "q122_evt_funnel" -> QueryDef(
      (s, dir) => {
        val e = graft.sources.Events.load(s, dir)
          .select(col("user_id"), col("event_type"), col("sec"))
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("sec").as("t1"))
        val c = e.filter(col("event_type") === "click").as("e")
          .join(v.as("v"), col("e.user_id") === col("v.user_id"))
          .filter(col("e.sec") >= col("v.t1"))
          .groupBy(col("e.user_id")).agg(min("sec").as("t2"))
        val p = e.filter(col("event_type") === "purchase").as("e")
          .join(c.as("c"), col("e.user_id") === col("c.user_id"))
          .filter(col("e.sec") >= col("c.t2"))
          .groupBy(col("e.user_id")).agg(min("sec").as("t3"))
        v.agg(count(lit(1)).as("n")).select(lit("s1_view").as("stage"), col("n"))
          .unionAll(c.agg(count(lit(1)).as("n"))
            .select(lit("s2_click").as("stage"), col("n")))
          .unionAll(p.agg(count(lit(1)).as("n"))
            .select(lit("s3_purchase").as("stage"), col("n")))
          .orderBy("stage")
      },
      Some(s"""WITH e AS (SELECT user_id, event_type,
          ${Det.epochSecSql("ts")} AS sec FROM events),
      v AS (SELECT user_id, MIN(sec) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, MIN(e.sec) AS t2 FROM e
        JOIN v ON e.user_id = v.user_id AND e.sec >= v.t1
        WHERE e.event_type = 'click' GROUP BY e.user_id),
      p AS (SELECT e.user_id, MIN(e.sec) AS t3 FROM e
        JOIN c ON e.user_id = c.user_id AND e.sec >= c.t2
        WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      SELECT stage, n FROM (
        SELECT 's1_view' AS stage, COUNT(*) AS n FROM v
        UNION ALL SELECT 's2_click', COUNT(*) FROM c
        UNION ALL SELECT 's3_purchase', COUNT(*) FROM p)
      ORDER BY stage""")),

    // ---- near-dup cluster size distribution ----------------------------
    // Analytics over the dedup graph: component sizes -> histogram.
    // Reuses the shared (persisted) jaccard pair set and the same
    // recursive-CTE ground truth as q76/q91.
    "q123_llm_cluster_stats" -> QueryDef(
      (s, dir) => {
        val comps = graft.operators.Dedup
          .components(LlmOps.jaccardPairsShared(s, dir))
        comps.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
          .orderBy("cluster_size")
      },
      Some(LlmOps.componentsClosureCte +
        """, comps AS (SELECT a AS doc_id, least(a, MIN(b)) AS comp FROM r GROUP BY a),
      cs AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM comps GROUP BY comp)
      SELECT cluster_size, COUNT(*) AS n_clusters
      FROM cs GROUP BY cluster_size ORDER BY cluster_size""")),

    // ---- event-path pattern match (MATCH_RECOGNIZE-lite) ---------------
    // Each user's ordered event initials collapse to one path string
    // (one hash agg; the sort happens inside the per-user array, not
    // over the event stream), then a regex classifies the journey.
    "q124_evt_path_regex" -> QueryDef(
      (s, dir) => {
        val e = graft.sources.Events.load(s, dir)
          .select(col("user_id"), col("sec"), col("event_id"),
            substring(col("event_type"), 1, 1).as("l"))
        e.groupBy("user_id")
          .agg(concat_ws("", transform(
            array_sort(collect_list(struct(col("sec"), col("event_id"), col("l")))),
            x => x.getField("l"))).as("path"))
          .select(when(col("path").rlike("v.*c.*p"), "converted")
            .otherwise("other").as("journey"))
          .groupBy("journey").agg(count(lit(1)).as("n_users"))
          .orderBy("journey")
      },
      Some(s"""WITH e AS (SELECT user_id, ${Det.epochSecSql("ts")} AS sec,
          event_id, substring(event_type, 1, 1) AS l FROM events),
      p AS (SELECT user_id,
          string_agg(l, '' ORDER BY sec, event_id) AS path
        FROM e GROUP BY user_id)
      SELECT CASE WHEN regexp_matches(path, 'v.*c.*p') THEN 'converted'
                  ELSE 'other' END AS journey, COUNT(*) AS n_users
      FROM p GROUP BY 1 ORDER BY 1""")),

    // ---- unpivot / melt (wide -> long) ---------------------------------
    "q125_unpivot_melt" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .groupBy("metric")
        .agg(count(lit(1)).as("n"), Det.dsum(col("val")).as("total"))
        .orderBy("metric"),
      Some(s"""SELECT 'l_quantity' AS metric, COUNT(*) AS n,
          ${dsumSql("l_quantity")} AS total FROM lineitem
      UNION ALL SELECT 'l_extendedprice', COUNT(*),
          ${dsumSql("l_extendedprice")} FROM lineitem
      UNION ALL SELECT 'l_discount', COUNT(*),
          ${dsumSql("l_discount")} FROM lineitem
      ORDER BY metric""")),

    // ---- schema evolution across parquet snapshots ---------------------
    // Two snapshot generations (the newer one adds a column) merged by
    // mergeSchema=true; old rows surface NULL for the new column. The
    // write is a fixture seed; the read path is the scored surface.
    "q126_src_schema_evolution" -> QueryDef(
      (s, dir) => {
        val tmp = new java.io.File(graft.util.Scratch.dir("graft_q126_"))
        val o = t(s, dir, "orders")
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$tmp/gen=1")
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .write.mode("overwrite").parquet(s"$tmp/gen=2")
        s.read.option("mergeSchema", "true").parquet(tmp.getAbsolutePath)
          .groupBy(coalesce(col("o_orderpriority"), lit("(missing)")).as("prio"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("total"))
          .orderBy("prio")
      },
      Some(s"""SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
          ELSE '(missing)' END AS prio, COUNT(*) AS n,
        ${dsumSql("o_totalprice")} AS total
      FROM orders GROUP BY 1 ORDER BY 1""")),

    // ---- gaps & islands (longest consecutive-day streak per user) ------
    // The row_number-difference trick: within a user, consecutive days
    // share (day - rank), so islands fall out of one window + one agg —
    // two shuffles on user_id total, no self-join.
    "q128_win_gap_islands" -> QueryDef(
      (s, dir) => {
        val days = graft.sources.Events.load(s, dir)
          .select(col("user_id"), (col("sec") / lit(86400L)).cast("long").as("d"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("d")
        days.withColumn("island", col("d") - row_number().over(w))
          .groupBy("user_id", "island")
          .agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(max(col("len")).as("best_streak"),
            sum(col("len")).cast("long").as("n_active_days"))
          .orderBy("user_id")
      },
      Some(s"""WITH days AS (SELECT DISTINCT user_id,
          CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS d FROM events),
      isl AS (SELECT user_id, d,
          d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
        FROM days),
      runs AS (SELECT user_id, island, COUNT(*) AS len
        FROM isl GROUP BY user_id, island)
      SELECT user_id, MAX(len) AS best_streak,
        CAST(SUM(len) AS BIGINT) AS n_active_days
      FROM runs GROUP BY user_id ORDER BY user_id""")),

    // ---- period-over-period change (month-over-month revenue) ----------
    // Exact-decimal monthly sums, then lag + one double division — the
    // time-series shape where the series is tiny after aggregation, so
    // the window costs nothing at any input scale.
    "q129_ts_mom_change" -> QueryDef(
      (s, dir) => {
        val w = Window.orderBy("ym")
        t(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
          .agg(Det.dsum(col("o_totalprice")).as("rev"))
          .withColumn("prev_rev", lag(col("rev"), 1).over(w))
          .withColumn("pct_change",
            (col("rev") - col("prev_rev")) / col("prev_rev"))
          .orderBy("ym")
      },
      Some(s"""WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS ym,
          ${dsumSql("o_totalprice")} AS rev FROM orders GROUP BY 1)
      SELECT ym, rev, lag(rev) OVER (ORDER BY ym) AS prev_rev,
        (rev - lag(rev) OVER (ORDER BY ym)) / lag(rev) OVER (ORDER BY ym)
          AS pct_change
      FROM m ORDER BY ym""")),

    // ---- cohort retention (weekly) -------------------------------------
    // cohort = user's first active week; retention = distinct users
    // active k weeks later. Two hash aggs + a join on user_id — the
    // standard retention-triangle shape, no event-stream window.
    "q130_evt_cohort_retention" -> QueryDef(
      (s, dir) => {
        // cohort via min-over-window instead of agg+self-join: the
        // distinct and the window share one hashpartitioning(user_id)
        // exchange, so the whole retention triangle is two shuffles.
        val weeks = graft.sources.Events.load(s, dir)
          .select(col("user_id"),
            (col("sec") / lit(604800L)).cast("long").as("wk"))
          .distinct()
        val cwk = min(col("wk")).over(Window.partitionBy("user_id"))
        weeks.withColumn("cwk", cwk)
          .groupBy(col("cwk"), (col("wk") - col("cwk")).as("offset_wk"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cwk", "offset_wk")
      },
      Some(s"""WITH weeks AS (SELECT DISTINCT user_id,
          CAST(FLOOR(epoch(ts)) AS BIGINT) // 604800 AS wk FROM events),
      cohort AS (SELECT user_id, MIN(wk) AS cwk FROM weeks GROUP BY user_id)
      SELECT c.cwk, w.wk - c.cwk AS offset_wk, COUNT(*) AS n_users
      FROM weeks w JOIN cohort c ON w.user_id = c.user_id
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- feature scaling (z-score + min-max, ML preprocessing) ---------
    // Group stats from exact decimal sums, broadcast back, then pure
    // per-row IEEE arithmetic — bit-identical normalized features on
    // any partitioning (the property a trainer's feature store needs).
    // price^2 sums use DECIMAL(18,0): int64-backed for oracle parity
    // (see q117's note) and tie-free (a 4-decimal square never ends in
    // .5000 — 50 is not a quadratic residue mod 100, nor 5000 mod 10^4).
    "q131_fn_zscore" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val stats = li.groupBy(col("l_returnflag").as("flag"))
          .agg(count(lit(1)).cast("double").as("n"),
            sum(col("l_extendedprice").cast(Det.D6)).cast("double").as("sx"),
            sum((col("l_extendedprice") * col("l_extendedprice"))
              .cast(org.apache.spark.sql.types.DecimalType(18, 0)))
              .cast("double").as("sxx"),
            min(col("l_extendedprice")).as("mn"),
            max(col("l_extendedprice")).as("mx"))
        li.join(broadcast(stats), li("l_returnflag") === stats("flag"))
          .select(col("l_partkey"), col("l_shipdate").cast("date").as("sd"),
            col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
            ((col("l_extendedprice") - col("sx") / col("n"))
              / sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
                / (col("n") - 1))).as("z"),
            ((col("l_extendedprice") - col("mn")) / (col("mx") - col("mn")))
              .as("scaled"))
          .orderBy("l_partkey", "sd", "l_orderkey", "ln")
      },
      Some("""WITH s AS (SELECT l_returnflag AS flag,
          CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,0)))
            AS DOUBLE) AS sxx,
          MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
        FROM lineitem GROUP BY 1)
      SELECT l_partkey, CAST(l_shipdate AS DATE) AS sd, l_orderkey,
        CAST(l_linenumber AS BIGINT) AS ln,
        (l_extendedprice - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)) AS z,
        (l_extendedprice - mn) / (mx - mn) AS scaled
      FROM lineitem JOIN s ON l_returnflag = s.flag
      ORDER BY l_partkey, sd, l_orderkey, ln""")),

    // ---- CSV bad-record handling (PERMISSIVE + corrupt-record column) --
    // A deterministically corrupted CSV fixture (every 7th key gets a
    // non-numeric field) read back in PERMISSIVE mode: malformed rows
    // surface in _corrupt_record instead of killing the job — the
    // ingest contract for dirty data at scale.
    "q132_src_csv_badrecords" -> QueryDef(
      (s, dir) => {
        import java.nio.file.Files
        val tmp = new java.io.File(graft.util.Scratch.dir("graft_q132_"))
        val rows = t(s, dir, "customer").filter(col("c_custkey") < 100)
          .select("c_custkey", "c_acctbal").collect()
        val lines = rows.map { r =>
          val k = r.getLong(0)
          if (k % 7 == 0) s"$k,not_a_number" else s"$k,${r.getDouble(1)}"
        }
        Files.write(new java.io.File(tmp, "part.csv").toPath,
          lines.mkString("\n").getBytes("UTF-8"))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("c_custkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("c_acctbal",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("_corrupt_record",
            org.apache.spark.sql.types.StringType)))
        // Spark refuses plans whose scan materializes ONLY the corrupt
        // column (column pruning strips everything else from this
        // aggregate); the documented workaround is caching the parsed
        // frame so all columns materialize once.
        val parsed = s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(tmp.getAbsolutePath)
          .cache()
        parsed
          .select(when(col("_corrupt_record").isNull, "good")
            .otherwise("bad").as("kind"))
          .groupBy("kind").agg(count(lit(1)).as("n"))
          .orderBy("kind")
      },
      Some("""SELECT CASE WHEN c_custkey % 7 = 0 THEN 'bad' ELSE 'good' END
          AS kind, COUNT(*) AS n
      FROM customer WHERE c_custkey < 100 GROUP BY 1 ORDER BY 1""")),

    // ---- VARIANT semi-structured path (Spark 4) ------------------------
    // parse_json -> VariantType -> typed variant_get: the
    // shred-at-read path for semi-structured columns (vs q35's
    // string-walking get_json_object). Same oracle surface.
    "q133_fn_variant" -> QueryDef(
      (s, dir) => graft.sources.Events.load(s, dir)
        .select(col("event_id"), parse_json(col("props")).as("v"))
        .select(col("event_id"),
          variant_get(col("v"), "$.k", "bigint").as("k_val"),
          variant_get(col("v"), "$.k", "string").as("k_str"),
          try_variant_get(col("v"), "$.missing", "string").as("miss"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        json_extract_string(props, '$.k') AS k_str,
        json_extract_string(props, '$.missing') AS miss
      FROM events ORDER BY event_id""")),

    // ---- time-weighted average (irregular time series) -----------------
    // Each observation holds until the next one (per user): weight =
    // seconds to successor via lead(), then exact-decimal weighted
    // sums — one window shuffle + one hash agg.
    "q134_ts_time_weighted_avg" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        graft.sources.Events.load(s, dir)
          .select(col("user_id"), col("sec"), col("event_id"), col("value"))
          .withColumn("dt",
            (lead(col("sec"), 1).over(w) - col("sec")).cast("double"))
          .filter(col("dt").isNotNull && col("dt") > 0)
          .groupBy("user_id")
          .agg(Det.dsum(col("value") * col("dt")).as("vw"),
            Det.dsum(col("dt")).as("tw"))
          .select(col("user_id"), (col("vw") / col("tw")).as("twa"))
          .orderBy("user_id")
      },
      Some(s"""WITH o AS (SELECT user_id, ${Det.epochSecSql("ts")} AS sec,
          event_id, value FROM events),
      d AS (SELECT user_id, value, CAST(lead(sec) OVER (PARTITION BY user_id
          ORDER BY sec, event_id) - sec AS DOUBLE) AS dt FROM o)
      SELECT user_id,
        ${dsumSql("value * dt")} / ${dsumSql("dt")} AS twa
      FROM d WHERE dt IS NOT NULL AND dt > 0
      GROUP BY user_id ORDER BY user_id""")),

    // ---- TPC-H Q10-ish: returned-item revenue by customer --------------
    // 4-way join with the two small dims broadcast; one shuffle pair
    // for the fact-fact join, one for the aggregation; top-20 via
    // TakeOrderedAndProject (no global sort).
    "q135_tpch_q10ish" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name,
        ${dsumSql("l_extendedprice*(1-l_discount)")} AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ---- TPC-H Q12-ish: order-priority counts by ship bucket -----------
    // Conditional aggregation over one join — the CASE pushes into the
    // aggregate, so the whole query is a single shuffle after the join.
    "q136_tpch_q12ish" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy((col("l_quantity") < 25).cast("string").as("small_ship"))
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("high_line_count"),
            sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("low_line_count"))
          .orderBy("small_ship")
      },
      Some("""SELECT CAST(l_quantity < 25 AS VARCHAR) AS small_ship,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1""")),

    // ---- CDC apply (MERGE with updates AND deletes) --------------------
    // A deterministic change feed (every 7th key deleted, every 5th
    // repriced) applied through Upsert.applyCdc: one anti-join removes
    // all changed keys, upserts union back — deletes cost nothing
    // beyond the anti-join the merge already pays.
    "q137_merge_cdc_apply" -> QueryDef(
      (s, dir) => {
        val target = t(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val changes = target
          .filter(pmod(col("o_orderkey"), lit(7)) === 0
            || pmod(col("o_orderkey"), lit(5)) === 0)
          .withColumn("op",
            when(pmod(col("o_orderkey"), lit(7)) === 0, "D").otherwise("U"))
          .withColumn("o_totalprice",
            when(col("op") === "U", col("o_totalprice") + 1000.0)
              .otherwise(col("o_totalprice")))
        graft.pipeline.Upsert.applyCdc(target, changes, "o_orderkey", "op")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(s"""WITH merged AS (SELECT o_orderstatus,
          CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
               ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT o_orderstatus, COUNT(*) AS n,
        ${dsumSql("o_totalprice")} AS total
      FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- hierarchical traversal (recursive-CTE replacement) ------------
    // Synthetic parent pointers (parent = key DIV 7) walked to the
    // root by operators.Hierarchy: a driver loop of frontier
    // self-joins, rounds = max depth (switch to pointer-doubling past
    // ~20 levels). Scored against DuckDB's native WITH RECURSIVE.
    "q138_hierarchy_depth" -> QueryDef(
      (s, dir) => {
        val edges = t(s, dir, "customer")
          .select(col("c_custkey").as("id"),
            expr("c_custkey DIV 7").as("parent"))
        graft.operators.Hierarchy.depths(edges)
          .groupBy(col("d").as("depth"))
          .agg(count(lit(1)).as("n"))
          .orderBy("depth")
      },
      Some("""WITH RECURSIVE walk AS (
        SELECT c_custkey AS id, c_custkey // 7 AS cur, CAST(1 AS BIGINT) AS d
        FROM customer
        UNION ALL
        SELECT id, cur // 7, d + 1 FROM walk WHERE cur > 0)
      SELECT d AS depth, COUNT(*) AS n FROM walk WHERE cur = 0
      GROUP BY d ORDER BY d""")),

    // ---- point-in-time join (SCD2 lookup) ------------------------------
    // Each lineitem priced under the priority its customer had as of
    // the ship date: one equi-join to attach the customer, then the
    // as-of union+window directly over the fact rows — a single shuffle
    // of the facts on the dimension key. The lineitem⋈orders key join
    // carries NO broadcast hint: orders is fact-sized (grows with sf),
    // so the planner's size estimate decides — broadcast at fixture
    // scale, sort-merge over co-bucketed orderkey layout at 100 TB.
    // (A distinct-probe + re-join variant measured ~2x slower here: its
    // extra two fact shuffles cost more than the smaller window saves.)
    "q139_join_point_in_time" -> QueryDef(
      (s, dir) => {
        val changes = t(s, dir, "orders")
          .select(col("o_custkey").as("cust"),
            col("o_orderdate").cast("date").as("d"),
            col("o_orderkey"), col("o_orderpriority").as("prio"))
        val facts = t(s, dir, "lineitem").as("l")
          .join(t(s, dir, "orders")
            .select("o_orderkey", "o_custkey").as("o"),
            col("l.l_orderkey") === col("o.o_orderkey"))
          .select(col("o.o_custkey").as("cust"),
            col("l.l_shipdate").cast("date").as("d"),
            col("l.l_extendedprice"))
        val matched = graft.operators.AsOfJoin
          .asOf(facts, changes, "cust", "d", "o_orderkey", Seq("prio"))
        // ships can predate the first change in this synthetic data, so
        // unmatched facts keep a '(none)' sentinel on both sides
        matched
          .groupBy(coalesce(col("prio"), lit("(none)")).as("prio"))
          .agg(count(lit(1)).as("n"),
            Det.dsum(col("l_extendedprice")).as("total"))
          .orderBy("prio")
      },
      Some(s"""WITH changes AS (SELECT o_custkey AS cust,
          CAST(o_orderdate AS DATE) AS d, o_orderpriority AS prio,
          -- pack (day, orderkey) so MAX(code) = lexicographic max; the
          -- 1e10 multiplier is derived from the key domain (TPC-H
          -- o_orderkey max = 6M*sf, < 1e10 through sf~1600; day < 2e4
          -- keeps day*1e10 + key < 2^63)
          (CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400) * 10000000000
            + o_orderkey AS code
        FROM orders),
      facts AS (SELECT o_custkey AS cust, CAST(l_shipdate AS DATE) AS d,
          l_extendedprice
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      probes AS (SELECT DISTINCT cust, d FROM facts),
      m AS (SELECT p.cust, p.d, MAX(c.code) AS mc
        FROM probes p LEFT JOIN changes c ON p.cust = c.cust AND c.d <= p.d
        GROUP BY p.cust, p.d),
      pm AS (SELECT m.cust, m.d, c.prio
        FROM m LEFT JOIN changes c ON c.code = m.mc)
      SELECT COALESCE(pm.prio, '(none)') AS prio, COUNT(*) AS n,
        ${dsumSql("f.l_extendedprice")} AS total
      FROM facts f JOIN pm ON f.cust = pm.cust AND f.d = pm.d
      GROUP BY 1 ORDER BY 1""")),

    // ---- typed cogroup (custom per-key merge of two datasets) ----------
    // KeyValueGroupedDataset.cogroup: both sides hash-partition on the
    // key once, then arbitrary JVM logic sees each key's two iterators
    // — the escape hatch when per-key merge logic outgrows SQL. Here:
    // views before each user's first purchase (scored against the
    // equivalent relational form).
    "q140_cogroup_typed" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val e = graft.sources.Events.load(s, dir)
          .select(col("user_id"), col("sec"), col("event_type"))
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id").as[Long], col("sec").as[Long])
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as[Long], col("sec").as[Long])
        views.groupByKey(_._1).cogroup(purchases.groupByKey(_._1)) {
          (uid, vs, ps) =>
            val firstP = ps.map(_._2).minOption
            val vsecs = vs.map(_._2)
            val n = firstP match {
              case Some(fp) => vsecs.count(_ < fp).toLong
              case None => vsecs.size.toLong
            }
            Iterator((uid, n, if (firstP.isDefined) "yes" else "no"))
        }.toDF("user_id", "n_views_before", "purchased")
          .orderBy("user_id")
      },
      Some(s"""WITH e AS (SELECT user_id, ${Det.epochSecSql("ts")} AS sec,
          event_type FROM events),
      v AS (SELECT user_id, sec FROM e WHERE event_type = 'view'),
      p AS (SELECT user_id, MIN(sec) AS fp FROM e
        WHERE event_type = 'purchase' GROUP BY user_id),
      keys AS (SELECT DISTINCT user_id FROM e
        WHERE event_type IN ('view', 'purchase')),
      a AS (SELECT k.user_id, p.fp FROM keys k
        LEFT JOIN p ON k.user_id = p.user_id)
      SELECT a.user_id,
        CAST(COUNT(v.sec) AS BIGINT) AS n_views_before,
        CASE WHEN a.fp IS NULL THEN 'no' ELSE 'yes' END AS purchased
      FROM a LEFT JOIN v ON v.user_id = a.user_id
        AND (a.fp IS NULL OR v.sec < a.fp)
      GROUP BY a.user_id, a.fp ORDER BY a.user_id""")),

    // ---- burst dedup (batch twin of dropDuplicatesWithinWatermark) -----
    // Keep the first event of each (user, type) burst: a new burst
    // starts when the gap to the previous same-key event exceeds 10
    // minutes. One window shuffle on the key — the batch semantics of
    // streaming's within-watermark dedup, verifiable by oracle.
    "q141_evt_dedup_burst" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy("sec", "event_id")
        graft.sources.Events.load(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"), col("sec"))
          .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
          .filter(col("gap").isNull || col("gap") > 600)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n_bursts"))
          .orderBy("user_id", "event_type")
      },
      Some(s"""WITH e AS (SELECT event_id, user_id, event_type,
          ${Det.epochSecSql("ts")} AS sec FROM events),
      g AS (SELECT user_id, event_type,
          sec - lag(sec) OVER (PARTITION BY user_id, event_type
            ORDER BY sec, event_id) AS gap FROM e)
      SELECT user_id, event_type, COUNT(*) AS n_bursts
      FROM g WHERE gap IS NULL OR gap > 600
      GROUP BY user_id, event_type ORDER BY user_id, event_type""")),

    // ---- percent-of-total contribution (ratio_to_report) ---------------
    // Each nation's share of its region's revenue: exact-decimal
    // region sums via a window over the aggregated (tiny) frame, then
    // one IEEE division — the aggregate-then-window shape keeps the
    // window off the fact table entirely.
    "q142_win_percent_of_total" -> QueryDef(
      (s, dir) => {
        val rev = t(s, dir, "customer").as("c")
          .join(t(s, dir, "orders").as("o"),
            col("c.c_custkey") === col("o.o_custkey"))
          .join(broadcast(t(s, dir, "nation")).as("n"),
            col("c.c_nationkey") === col("n.n_nationkey"))
          .join(broadcast(t(s, dir, "region")).as("r"),
            col("n.n_regionkey") === col("r.r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(Det.dsum(col("o_totalprice")).as("rev"))
        val w = Window.partitionBy("r_name")
        rev.withColumn("region_rev", sum(col("rev").cast(Det.D6)).over(w)
            .cast("double"))
          .withColumn("share", col("rev") / col("region_rev"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""WITH rev AS (SELECT r_name, n_name,
          ${dsumSql("o_totalprice")} AS rev
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name)
      SELECT r_name, n_name, rev,
        CAST(SUM(CAST(rev AS DECIMAL(18,6))) OVER (PARTITION BY r_name)
          AS DOUBLE) AS region_rev,
        rev / CAST(SUM(CAST(rev AS DECIMAL(18,6))) OVER (PARTITION BY r_name)
          AS DOUBLE) AS share
      FROM rev ORDER BY r_name, n_name""")),

    // ---- fuzzy matching (blocked Levenshtein) --------------------------
    // Edit-distance candidate pairs over documents — the standard
    // entity-resolution shape: block, compare, threshold. The block key
    // is (lang, length bucket, FIRST TOKEN): the content-derived first
    // token bounds per-block size by token collision frequency (vocab-
    // distributed) rather than letting blocks grow linearly with the
    // corpus as a (lang, bucket)-only key would — (langs × buckets) is a
    // small constant, so those blocks are O(n) and the in-block compare
    // O(n²). Recall trade-off is the usual one for prefix-edit-distance
    // blocking: a near-pair whose first token differs is missed, which
    // dist≤6-over-24-chars pairs rarely do. levenshtein() is the same
    // integer DP in both engines.
    "q143_llm_fuzzy_match" -> QueryDef(
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            (col("n_chars") / lit(64)).cast("long").as("lb"),
            element_at(split(col("text"), " "), 1).as("ft"),
            substring(col("text"), 1, 24).as("pfx"))
        val a = d.select(col("doc_id").as("da"), col("lang"),
          col("lb"), col("ft"), col("pfx").as("pa"))
        val b = d.select(col("doc_id").as("db"), col("lang"),
          col("lb"), col("ft"), col("pfx").as("pb"))
        a.join(b, Seq("lang", "lb", "ft"))
          .filter(col("da") < col("db"))
          .withColumn("dist", levenshtein(col("pa"), col("pb")).cast("long"))
          .filter(col("dist") <= 6)
          .select("da", "db", "dist")
          .orderBy("da", "db")
      },
      Some(fuzzyMatchOracle)),

    // Same semantics, duplication-robust plan (the q159 pattern applied
    // to edit distance): the compared key is the 24-char prefix, so
    // group identical (block, prefix) values, run ONE Levenshtein per
    // unique prefix pair, expand matches through the duplicate groups
    // (intra-group pairs are distance 0 by definition in both engines).
    // Scored against the identical all-pairs oracle.
    "q160_llm_fuzzy_match_dedup" -> QueryDef(
      (s, dir) => {
        // NULL blocking keys produce no pairs in the all-pairs form
        // (equi-join drops them); filter before grouping so the
        // intra-group path cannot resurrect NULL-keyed groups.
        val g = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            (col("n_chars") / lit(64)).cast("long").as("lb"),
            element_at(split(col("text"), " "), 1).as("ft"),
            substring(col("text"), 1, 24).as("pfx"))
          .filter(col("lang").isNotNull && col("lb").isNotNull &&
            col("ft").isNotNull && col("pfx").isNotNull)
          .groupBy("lang", "lb", "ft", "pfx")
          .agg(min(col("doc_id")).as("rep"),
            collect_list(col("doc_id")).as("ids"))
        val a = g.select(col("lang"), col("lb"), col("ft"),
          col("pfx").as("pa"), col("rep").as("ra"), col("ids").as("idsa"))
        val b = g.select(col("lang"), col("lb"), col("ft"),
          col("pfx").as("pb"), col("rep").as("rb"), col("ids").as("idsb"))
        val cross = a.join(b, Seq("lang", "lb", "ft"))
          .filter(col("ra") < col("rb"))
          .withColumn("dist", levenshtein(col("pa"), col("pb")).cast("long"))
          .filter(col("dist") <= 6)
          .select(explode(col("idsa")).as("x"), col("idsb"), col("dist"))
          .select(col("x"), explode(col("idsb")).as("y"), col("dist"))
          .select(least(col("x"), col("y")).as("da"),
            greatest(col("x"), col("y")).as("db"), col("dist"))
        val intra = g.filter(size(col("ids")) > 1)
          .select(explode(col("ids")).as("x"), col("ids"))
          .select(col("x"), explode(col("ids")).as("y"))
          .filter(col("x") < col("y"))
          .select(col("x").as("da"), col("y").as("db"),
            lit(0L).as("dist"))
        cross.unionByName(intra).orderBy("da", "db")
      },
      Some(fuzzyMatchOracle)),

    // ---- discrete percentile (no interpolation) ------------------------
    // percentile_disc returns an actual data value (vs q17's
    // interpolating percentile_cont) — exact-match-safe for any double
    // column because nothing is computed, only selected.
    "q144_agg_percentile_disc" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
          .as("p50_disc"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("p90_disc"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
        quantile_disc(o_totalprice, 0.5) AS p50_disc,
        quantile_disc(o_totalprice, 0.9) AS p90_disc,
        COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- grouping_id over rollup (subtotal-level marker) ---------------
    "q145_agg_grouping_id" -> QueryDef(
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("q145_lineitem")
        s.sql("""SELECT l_returnflag, l_linestatus,
            CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
            CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
            CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
            COUNT(*) AS n
          FROM q145_lineitem
          GROUP BY ROLLUP(l_returnflag, l_linestatus)
          ORDER BY gid, l_returnflag, l_linestatus""")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        COUNT(*) AS n
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag, l_linestatus""")),

    // ---- multimodal decode metadata, ORACLED ---------------------------
    // q51's mapPartitions decode path scored exactly: the synthetic
    // payload is unhex(md5(text)), so the oracle re-derives each byte
    // from the md5 hex digits with integer arithmetic and applies the
    // same stub header-decode formula. (The wrapping-Long checksum
    // stays rows-only in q51 — Java wraparound has no portable SQL
    // twin; width/height/n_bytes are the decode contract.)
    "q146_mm_decode_meta" -> QueryDef(
      (s, dir) => graft.multimodal.Multimodal
        .featuresDF(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"))
        .orderBy("doc_id"),
      Some(s"""WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
      b AS (SELECT doc_id, ${Round3.hexByteSql("hx", 0)} AS b0,
          ${Round3.hexByteSql("hx", 1)} AS b1 FROM h)
      SELECT doc_id, CAST(16 AS BIGINT) AS n_bytes,
        CAST(16 + (b0 % 16) * 16 AS BIGINT) AS width,
        CAST(16 + (b1 % 16) * 16 AS BIGINT) AS height
      FROM b ORDER BY doc_id""")),

    // ---- multimodal frame sampling, ORACLED ----------------------------
    // frameSample slices each payload into 4-byte frames and keeps
    // every 2nd; with 4-byte frames the 31-polynomial checksum stays
    // far inside int64, so the oracle computes it exactly from the
    // same md5 bytes — the full flatMap fan-out path scored.
    "q147_mm_frame_sample" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.multimodal.Multimodal.frameSample(
          graft.multimodal.Multimodal.syntheticMedia(
            Tables.load(s, dir, "documents")),
          frameBytes = 4, everyN = 2)
          .toDF()
          .orderBy("doc_id", "frame_no")
      },
      Some {
        val bytes = (0 until 16)
          .map(i => s"${Round3.hexByteSql("hx", i)} AS b$i").mkString(", ")
        def ck(f: Int) = {
          val b = (0 until 4).map(j => s"b${4 * f + j}")
          s"((${b(0)} * 31 + ${b(1)}) * 31 + ${b(2)}) * 31 + ${b(3)}"
        }
        s"""WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
        b AS (SELECT doc_id, $bytes FROM h),
        f AS (SELECT doc_id, CAST(0 AS BIGINT) AS frame_no,
            CAST(${ck(0)} AS BIGINT) AS checksum FROM b
          UNION ALL
          SELECT doc_id, CAST(2 AS BIGINT), CAST(${ck(2)} AS BIGINT) FROM b)
        SELECT doc_id, frame_no, CAST(4 AS BIGINT) AS n_bytes, checksum
        FROM f ORDER BY doc_id, frame_no"""
      }),

    // ---- stream-static enrichment, SCORED ------------------------------
    // The unbounded event stream joins a static cohort dimension per
    // micro-batch (no stream state), aggregates, and lands in a memory
    // sink — scored against the equivalent batch SQL. The lookup-
    // enrichment shape every ingest pipeline runs. The dim is keyed
    // per-user (grows with the stream), so NO broadcast hint: the
    // planner's per-batch size estimate decides (see
    // EventStreams.enrichWithStatic's hintBroadcast contract).
    "q148_stream_enrich" -> QueryDef(
      (s, dir) => {
        val src = graft.streaming.EventStreams.eventFileStream(s, dir)
          .select(col("event_id"), col("user_id"))
        val dim = graft.sources.Events.load(s, dir)
          .select("user_id").distinct()
          .withColumn("cohort",
            concat(lit("c"), pmod(col("user_id"), lit(4L))))
        graft.streaming.EventStreams.runToParquet(
            graft.streaming.EventStreams.enrichWithStatic(src, dim, "user_id"),
            "q148_stream_enrich_sink")
          .groupBy("cohort").agg(count(lit(1)).as("n"))
          .orderBy("cohort")
      },
      Some("""SELECT 'c' || CAST(user_id % 4 AS VARCHAR) AS cohort,
        COUNT(*) AS n
      FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- bigram language-model scoring (statistical fluency) -----------
    // A corpus-trained bigram model scores each document by its mean
    // transition probability P(w2|w1) = c(w1,w2)/c(w1·) — the KenLM-
    // style quality signal without logs (libm ln is not bit-portable;
    // the probability ratios are exact integer divisions and the mean
    // is an exact decimal sum, so the score is bit-identical). Doc
    // bigrams come from arrays_zip of shifted slices — stateless, no
    // window over the token stream. Only the unigram table c1 is
    // broadcast: its cardinality is vocabulary-bounded. The bigram
    // table c2 is keyed on (w1,w2) whose distinct count grows with the
    // corpus, so that join stays a shuffle join — the bigram stream is
    // already hash-partitioned on (w1,w2) by the count aggregation, so
    // the exchange is reused rather than added.
    "q149_llm_bigram_score" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val words = split(col("text"), " ")
        val bigrams = docs.select(col("doc_id"), words.as("w"))
          .select(col("doc_id"), explode(arrays_zip(
            slice(col("w"), lit(1), size(col("w")) - 1).as("w1"),
            slice(col("w"), lit(2), size(col("w")) - 1).as("w2"))).as("bg"))
          .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        // c1 rolls up from c2 (c1(w1) = Σ_w2 c2) — a pass over the
        // distinct-bigram table, not a second pass over the corpus
        val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
        bigrams
          .join(c2, Seq("w1", "w2"))
          .join(broadcast(c1), Seq("w1"))
          .withColumn("p", col("c2").cast("double") / col("c1").cast("double"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            (Det.dsum(col("p")) / count(lit(1))).as("fluency"))
          .orderBy("doc_id")
      },
      Some(s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS w
        FROM documents),
      bg AS (SELECT doc_id, w[i.i] AS w1, w[i.i+1] AS w2
        FROM sp, ${LlmOps.shingleIdx("sp")}
        WHERE i.i + 1 <= len(w)),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
      p AS (SELECT bg.doc_id,
          CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) AS p
        FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
        JOIN c1 ON bg.w1 = c1.w1)
      SELECT doc_id, COUNT(*) AS n_bigrams,
        ${dsumSql("p")} / COUNT(*) AS fluency
      FROM p GROUP BY doc_id ORDER BY doc_id""")),

    // ---- dataset card (corpus summary in one scan) ---------------------
    // The one-row statistics block a training-data release publishes:
    // size, language/source diversity, exact-duplicate rate — one
    // aggregation pass, countDistincts expanded by Spark into a single
    // multi-distinct plan.
    "q150_llm_dataset_card" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(md5(col("text"))).as("n_unique_texts"))
        .withColumn("dup_rate",
          (col("n_docs") - col("n_unique_texts")).cast("double")
            / col("n_docs").cast("double")),
      Some("""SELECT COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
        CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS dup_rate
      FROM documents"""))
  )

  /** All-pairs blocked-Levenshtein ground truth, shared by q143
    * (all-pairs plan) and q160 (dedup-first plan) — one oracle, two
    * physical strategies of one operator.
    */
  // lazy: declared after `defs`, which references it at object init
  private lazy val fuzzyMatchOracle = """WITH d AS (SELECT doc_id, lang, n_chars // 64 AS lb,
          string_split(text, ' ')[1] AS ft,
          substring(text, 1, 24) AS pfx FROM documents)
      SELECT a.doc_id AS da, b.doc_id AS db,
        CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
      FROM d a JOIN d b ON a.lang = b.lang AND a.lb = b.lb AND a.ft = b.ft
        AND a.doc_id < b.doc_id
      WHERE levenshtein(a.pfx, b.pfx) <= 6
      ORDER BY da, db"""

  /** Oracle helper: byte `i` (0-based) of a lowercase hex string column
    * as integer arithmetic DuckDB evaluates exactly.
    */
  def hexByteSql(hexCol: String, i: Int): String = {
    def nib(pos: Int) =
      s"(instr('0123456789abcdef', substring($hexCol, $pos, 1)) - 1)"
    s"(${nib(2 * i + 1)} * 16 + ${nib(2 * i + 2)})"
  }
}
