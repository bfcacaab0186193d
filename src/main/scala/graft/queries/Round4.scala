package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.{MemCatalog, Tables}
import graft.util.Slots

/** Round-4 additions: the Avro ingest roundtrip (the one mainstream
  * event-pipeline format previously missing — spark-avro is bundled in
  * Spark 4's spark-sql jar) and the scored stream-stream interval join
  * (EventStreams.intervalJoin promoted from spec-only to a declared
  * CORRECTNESS entry, per the round-3 verdict).
  */
object Round4 {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)


  val defs: Map[String, QueryDef] = Map(
    // ---- Avro source/sink roundtrip ------------------------------------
    // Same shape as q89's ORC roundtrip: write a typed subset, read it
    // back, prove values and schema survive. Avro is the wire format of
    // Kafka-centric event pipelines, so ingest hits it early. The
    // distribution bundles the avro FileFormat classes in spark-sql but
    // not their DataSourceRegister service entry, so the format is
    // addressed by class name rather than the "avro" shortname.
    "q151_src_avro_roundtrip" -> QueryDef(
      (s, dir) => {
        val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"
        val tmp = graft.util.Scratch.dir("graft_avro")
        t(s, dir, "customer")
          .select(col("c_custkey").cast("long").as("c_custkey"),
            col("c_name"), col("c_acctbal").cast("double").as("c_acctbal"))
          .write.mode("overwrite").format(avroFmt).save(tmp)
        s.read.format(avroFmt).load(tmp).orderBy("c_custkey")
      },
      Some("""SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
        CAST(c_acctbal AS DOUBLE) AS c_acctbal
      FROM customer ORDER BY c_custkey""")),

    // ---- stream-stream interval join (scored) --------------------------
    // Purchases stream joined to the same user's clicks within the next
    // 5 minutes — both sides watermarked and the join condition bounds
    // event-time distance, so join state expires instead of growing with
    // the streams (the REQUIRED shape for an unbounded two-stream join).
    // Joined at whole-second granularity (timestamp_seconds(sec)) so the
    // boundary comparisons are integral in both engines; scored against
    // the equivalent batch join.
    "q152_stream_interval_join" -> QueryDef(
      (s, dir) => {
        import graft.streaming.EventStreams.eventFileStream
        val purchases = eventFileStream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("tss").as("ts"), col("event_id"))
        val clicks = eventFileStream(s, dir)
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("tss").as("ts"), col("event_id"))
        val joined = graft.streaming.EventStreams
          .intervalJoin(purchases, clicks, intervalSeconds = 300L)
        val sink = EventTime.withShufflePartitions(s, 8) {
          graft.streaming.EventStreams.runToParquet(
            joined, "q152_stream_interval_join_sink")
        }
        sink
          .groupBy(col("l_id").as("event_id"))
          .agg(count(lit(1)).as("n_clicks"),
            min(col("r_id")).as("first_click"),
            max(col("r_id")).as("last_click"))
          .orderBy("event_id")
      },
      Some(s"""WITH e AS (SELECT event_id, user_id, event_type,
          ${graft.util.Det.epochSecSql("ts")} AS sec FROM events),
      p AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'purchase'),
      c AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'click')
      SELECT p.event_id, COUNT(*) AS n_clicks,
        MIN(c.event_id) AS first_click, MAX(c.event_id) AS last_click
      FROM p JOIN c ON p.user_id = c.user_id
        AND c.sec BETWEEN p.sec AND p.sec + 300
        AND p.event_id != c.event_id
      GROUP BY 1 ORDER BY 1""")),

    // ---- SQL MERGE INTO (native row-level-operation path) --------------
    // The SQL-syntax upsert entry point over a writable v2 table
    // (sources.MemCatalog): Spark's RewriteMergeIntoTable plans
    // ReplaceData(MergeRows(target ⟗ source)) — matching, WHEN-clause
    // actions, and the matched-more-than-once cardinality check are all
    // engine-native. Same semantics as the DataFrame composition
    // pipeline.Upsert.applyCdc (q137): updates win, 'D' rows delete,
    // unmatched non-deletes insert. The oracle rebuilds the post-merge
    // state relationally (kept ∪ updated ∪ inserted).
    "q153_sql_merge_into" -> QueryDef(
      (s, dir) => {
        MemCatalog.recreate(s, "tgt", "(c_custkey BIGINT, bal DOUBLE, seg STRING)")
        t(s, dir, "customer")
          .filter(pmod(col("c_custkey"), lit(3)) =!= 0)
          .select(col("c_custkey").cast("long").as("c_custkey"),
            col("c_acctbal").cast("double").as("bal"),
            col("c_mktsegment").as("seg"))
          .createOrReplaceTempView("q153_seed")
        s.sql("INSERT INTO graftmem.tgt SELECT * FROM q153_seed")
        t(s, dir, "customer")
          .filter(pmod(col("c_custkey"), lit(2)) === 0)
          .select(col("c_custkey").cast("long").as("c_custkey"),
            when(pmod(col("c_custkey"), lit(10)) === 0, lit("D"))
              .otherwise(lit("U")).as("op"),
            (col("c_acctbal").cast("double") + lit(100.0)).as("bal"),
            lower(col("c_mktsegment")).as("seg"))
          .createOrReplaceTempView("q153_changes")
        s.sql("""MERGE INTO graftmem.tgt t USING q153_changes c
          ON t.c_custkey = c.c_custkey
          WHEN MATCHED AND c.op = 'D' THEN DELETE
          WHEN MATCHED THEN UPDATE SET bal = c.bal, seg = c.seg
          WHEN NOT MATCHED AND c.op != 'D' THEN
            INSERT (c_custkey, bal, seg) VALUES (c.c_custkey, c.bal, c.seg)""")
        s.sql("SELECT c_custkey, bal, seg FROM graftmem.tgt ORDER BY c_custkey")
      },
      Some("""WITH tgt AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
          CAST(c_acctbal AS DOUBLE) AS bal, c_mktsegment AS seg
        FROM customer WHERE c_custkey % 3 != 0),
      ch AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
          CASE WHEN c_custkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
          CAST(c_acctbal AS DOUBLE) + 100 AS bal,
          lower(c_mktsegment) AS seg
        FROM customer WHERE c_custkey % 2 = 0)
      SELECT c_custkey, bal, seg FROM (
        SELECT t.c_custkey, t.bal, t.seg FROM tgt t
          LEFT JOIN ch c ON t.c_custkey = c.c_custkey
          WHERE c.c_custkey IS NULL
        UNION ALL
        SELECT t.c_custkey, c.bal, c.seg FROM tgt t
          JOIN ch c ON t.c_custkey = c.c_custkey WHERE c.op = 'U'
        UNION ALL
        SELECT c.c_custkey, c.bal, c.seg FROM ch c
          LEFT JOIN tgt t ON t.c_custkey = c.c_custkey
          WHERE t.c_custkey IS NULL AND c.op != 'D')
      ORDER BY c_custkey""")),

    // ---- SQL UPDATE + DELETE (row-level copy-on-write) ------------------
    // The remaining two row-level SQL verbs over the same v2 catalog:
    // UPDATE rewrites to ReplaceData(updated ∪ carry-over), DELETE to
    // ReplaceData(surviving rows) — both engine-native, no connector
    // logic beyond scan + replace-write. price*2 is an exact IEEE
    // scale, so values stay bit-identical to the oracle's CASE form.
    "q154_sql_update_delete" -> QueryDef(
      (s, dir) => {
        MemCatalog.recreate(s, "ord", "(o_orderkey BIGINT, status STRING, price DOUBLE)")
        t(s, dir, "orders").filter(col("o_orderkey") < 2000)
          .select(col("o_orderkey").cast("long").as("o_orderkey"),
            col("o_orderstatus").as("status"),
            col("o_totalprice").cast("double").as("price"))
          .createOrReplaceTempView("q154_seed")
        s.sql("INSERT INTO graftmem.ord SELECT * FROM q154_seed")
        s.sql("""UPDATE graftmem.ord SET status = 'X', price = price * 2
          WHERE status = 'F' AND o_orderkey % 2 = 0""")
        s.sql("DELETE FROM graftmem.ord WHERE status = 'O' AND o_orderkey % 3 = 0")
        s.sql("SELECT o_orderkey, status, price FROM graftmem.ord ORDER BY o_orderkey")
      },
      Some("""WITH seed AS (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
          o_orderstatus AS status, CAST(o_totalprice AS DOUBLE) AS price
        FROM orders WHERE o_orderkey < 2000),
      upd AS (SELECT o_orderkey,
          CASE WHEN status = 'F' AND o_orderkey % 2 = 0
               THEN 'X' ELSE status END AS status,
          CASE WHEN status = 'F' AND o_orderkey % 2 = 0
               THEN price * 2 ELSE price END AS price
        FROM seed)
      SELECT o_orderkey, status, price FROM upd
      WHERE NOT (status = 'O' AND o_orderkey % 3 = 0)
      ORDER BY o_orderkey""")),

    // ---- dataset mixture: per-domain downsampling to target weights ----
    // Training-data mixture construction: each source tier keeps a
    // target fraction of its docs (high-quality 75%, mid 50%, tail
    // 12.5% — binary-exact doubles so ceil() is bit-identical in both
    // engines), chosen by the deterministic multiplicative-hash rank
    // (same rows win on any partitioning/retry — what rand() can't
    // promise). One window shuffle on the source key; at 100 TB each
    // domain ranks independently, no global pass.
    "q155_llm_mixture_downsample" -> QueryDef(
      (s, dir) => {
        val idx = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
        val frac = when(idx < 5, lit(0.75))
          .when(idx < 13, lit(0.5)).otherwise(lit(0.125))
        val bySrc = Window.partitionBy("source")
        val w = bySrc.orderBy(
          Slots.of(col("doc_id"), 1000000L),
          col("doc_id"))
        t(s, dir, "documents")
          .withColumn("rn", row_number().over(w))
          .withColumn("quota",
            ceil(frac * count(lit(1)).over(bySrc)).cast("long"))
          .filter(col("rn") <= col("quota"))
          .select(col("source"), col("doc_id"))
          .orderBy("source", "doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, source,
          TRY_CAST(regexp_extract(source, '([0-9]+)$$', 1) AS INT) AS idx
        FROM documents),
      r AS (SELECT doc_id, source,
          CASE WHEN idx < 5 THEN CAST(0.75 AS DOUBLE)
               WHEN idx < 13 THEN CAST(0.5 AS DOUBLE)
               ELSE CAST(0.125 AS DOUBLE) END AS frac,
          row_number() OVER (PARTITION BY source
            ORDER BY ${Slots.sql("doc_id", 1000000)}, doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY source) AS n
        FROM d)
      SELECT source, doc_id FROM r
      WHERE rn <= CAST(ceil(frac * n) AS BIGINT)
      ORDER BY source, doc_id""")),

    // ---- dataset mixture: per-domain epoch upsampling ------------------
    // The other half of mixture construction: small high-value domains
    // repeat for multiple epochs (3×/2×/1× by tier) — a stateless
    // explode(sequence(1, epochs)), no shuffle at all; the repeat index
    // rides along so downstream shuffling/packing can keep copies
    // distinguishable.
    "q156_llm_mixture_epochs" -> QueryDef(
      (s, dir) => {
        val idx = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
        val epochs = when(idx < 5, 3).when(idx < 13, 2).otherwise(1)
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(sequence(lit(1), epochs)).as("rep"))
          .select(col("doc_id"), col("source"),
            col("rep").cast("long").as("rep"))
          .orderBy("doc_id", "rep")
      },
      Some("""WITH d AS (SELECT doc_id, source,
          TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) AS idx
        FROM documents),
      f AS (SELECT doc_id, source,
          CASE WHEN idx < 5 THEN 3 WHEN idx < 13 THEN 2 ELSE 1 END AS ep
        FROM d)
      SELECT doc_id, source, CAST(unnest(range(1, ep + 1)) AS BIGINT) AS rep
      FROM f ORDER BY doc_id, rep""")),

    // ---- SQL time travel (VERSION AS OF) -------------------------------
    // Every MemCatalog commit snapshots the table; `VERSION AS OF n`
    // pins a scan to snapshot n via the catalog's versioned loadTable —
    // the audit/rollback surface (Iceberg/Delta-style) joined here
    // against the live table to compute per-key drift across an UPDATE.
    // All arithmetic (×1.5, +100, subtraction) is IEEE-exact.
    "q157_sql_time_travel" -> QueryDef(
      (s, dir) => {
        MemCatalog.recreate(s, "tt", "(k BIGINT, v DOUBLE)")
        t(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("k"),
            (col("n_nationkey").cast("double") * lit(1.5)).as("v"))
          .createOrReplaceTempView("q157_seed")
        s.sql("INSERT INTO graftmem.tt SELECT * FROM q157_seed") // version 1
        s.sql("UPDATE graftmem.tt SET v = v + 100 WHERE k % 2 = 0") // version 2
        s.sql("""SELECT cur.k, old.v AS v_then, cur.v AS v_now,
            cur.v - old.v AS delta
          FROM graftmem.tt cur
          JOIN graftmem.tt VERSION AS OF 1 old ON cur.k = old.k
          ORDER BY cur.k""")
      },
      Some("""WITH seed AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
          CAST(n_nationkey AS DOUBLE) * CAST(1.5 AS DOUBLE) AS v
        FROM nation),
      cur AS (SELECT k,
          CASE WHEN k % 2 = 0 THEN v + 100 ELSE v END AS v FROM seed)
      SELECT c.k, s.v AS v_then, c.v AS v_now, c.v - s.v AS delta
      FROM cur c JOIN seed s ON c.k = s.k ORDER BY c.k""")),

    // ---- native recursive CTE (Spark 4 WITH RECURSIVE) -----------------
    // The same DIV-7 parent walk as q138, but expressed as a native
    // recursive CTE on BOTH engines — Spark 4's UnionLoop executes the
    // iteration inside the engine (one anchor + repeated step over the
    // previous iteration's frontier) instead of q138's driver-side
    // self-join loop. Both formulations of recursion stay in the
    // catalog: the native form is the API surface, the driver loop
    // (operators.Hierarchy) is the checkpoint-controlled variant for
    // when step results need persistence policy.
    "q158_sql_recursive_cte" -> QueryDef(
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("q158_customer")
        s.sql("""WITH RECURSIVE walk AS (
            SELECT c_custkey AS id, c_custkey DIV 7 AS cur,
              CAST(1 AS BIGINT) AS d
            FROM q158_customer
            UNION ALL
            SELECT id, cur DIV 7, d + 1 FROM walk WHERE cur > 0)
          SELECT d AS depth, COUNT(*) AS n FROM walk WHERE cur = 0
          GROUP BY d ORDER BY d""")
      },
      Some("""WITH RECURSIVE walk AS (
        SELECT c_custkey AS id, c_custkey // 7 AS cur, CAST(1 AS BIGINT) AS d
        FROM customer
        UNION ALL
        SELECT id, cur // 7, d + 1 FROM walk WHERE cur > 0)
      SELECT d AS depth, COUNT(*) AS n FROM walk WHERE cur = 0
      GROUP BY d ORDER BY d""")),

    // ---- SQL MERGE INTO, delta-based (merge-on-read) path --------------
    // The same native MERGE surface as q153 but over MemDeltaCatalog,
    // whose row-level operations implement SupportsDelta: Spark plans
    // WriteDelta instead of ReplaceData — per-row DELETE/UPDATE/INSERT
    // instructions keyed by row identity, so only touched rows are
    // rewritten (a 0.1%-churn MERGE at 100 TB writes 0.1% of the data,
    // not every scanned group). Also exercises the fourth WHEN branch —
    // NOT MATCHED BY SOURCE — absent from q153.
    "q162_sql_merge_delta" -> QueryDef(
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftdelta",
          "graft.sources.MemDeltaCatalog")
        s.sql("DROP TABLE IF EXISTS graftdelta.pt")
        s.sql("CREATE TABLE graftdelta.pt (pk BIGINT NOT NULL, rp DOUBLE, brand STRING)")
        t(s, dir, "part")
          .filter(pmod(col("p_partkey"), lit(3)) =!= 1)
          .select(col("p_partkey").cast("long").as("pk"),
            col("p_retailprice").cast("double").as("rp"),
            col("p_brand").as("brand"))
          .createOrReplaceTempView("q162_seed")
        s.sql("INSERT INTO graftdelta.pt SELECT * FROM q162_seed")
        t(s, dir, "part")
          .filter(pmod(col("p_partkey"), lit(2)) === 0)
          .select(col("p_partkey").cast("long").as("pk"),
            when(pmod(col("p_partkey"), lit(10)) === 4, lit("D"))
              .otherwise(lit("U")).as("op"),
            (col("p_retailprice").cast("double") + lit(50.0)).as("rp"),
            lower(col("p_brand")).as("brand"))
          .createOrReplaceTempView("q162_changes")
        s.sql("""MERGE INTO graftdelta.pt t USING q162_changes c
          ON t.pk = c.pk
          WHEN MATCHED AND c.op = 'D' THEN DELETE
          WHEN MATCHED THEN UPDATE SET rp = c.rp, brand = c.brand
          WHEN NOT MATCHED AND c.op != 'D' THEN
            INSERT (pk, rp, brand) VALUES (c.pk, c.rp, c.brand)
          WHEN NOT MATCHED BY SOURCE AND t.pk % 7 = 0 THEN DELETE""")
        s.sql("SELECT pk, rp, brand FROM graftdelta.pt ORDER BY pk")
      },
      Some("""WITH tgt AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
          CAST(p_retailprice AS DOUBLE) AS rp, p_brand AS brand
        FROM part WHERE p_partkey % 3 != 1),
      ch AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
          CASE WHEN p_partkey % 10 = 4 THEN 'D' ELSE 'U' END AS op,
          CAST(p_retailprice AS DOUBLE) + 50 AS rp,
          lower(p_brand) AS brand
        FROM part WHERE p_partkey % 2 = 0)
      SELECT pk, rp, brand FROM (
        SELECT t.pk, t.rp, t.brand FROM tgt t
          LEFT JOIN ch c ON t.pk = c.pk
          WHERE c.pk IS NULL AND t.pk % 7 != 0
        UNION ALL
        SELECT t.pk, c.rp, c.brand FROM tgt t
          JOIN ch c ON t.pk = c.pk WHERE c.op = 'U'
        UNION ALL
        SELECT c.pk, c.rp, c.brand FROM ch c
          LEFT JOIN tgt t ON t.pk = c.pk
          WHERE t.pk IS NULL AND c.op != 'D')
      ORDER BY pk""")),

    // ---- storage-partitioned join (zero-shuffle v2 co-partitioning) ----
    // Two v2 tables PARTITIONED BY the same key: their scans report
    // KeyGroupedPartitioning (one input split per key value, each
    // declaring its key), and with spark.sql.sources.v2.bucketing.enabled
    // the join runs with NO exchange on either side — the DSv2 form of
    // the co-located join (StoragePartitionedJoinSpec pins the plan).
    // At 100 TB this is THE fact⋈fact strategy when data is already
    // laid out by key: both sides stay in place, only local sorts run.
    // Per-nation customer and supplier rollups land in co-partitioned
    // tables, then join storage-partitioned.
    "q163_join_storage_partitioned" -> QueryDef(
      (s, dir) => {
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        MemCatalog.recreate(s, "cnat",
          "(nkey BIGINT, ncust BIGINT, cbal DOUBLE) PARTITIONED BY (nkey)")
        MemCatalog.recreate(s, "snat",
          "(nkey BIGINT, nsupp BIGINT, sbal DOUBLE) PARTITIONED BY (nkey)")
        t(s, dir, "customer")
          .groupBy(col("c_nationkey").cast("long").as("nkey"))
          .agg(count(lit(1)).as("ncust"),
            graft.util.Det.dsum(col("c_acctbal").cast("double")).as("cbal"))
          .createOrReplaceTempView("q163_c")
        s.sql("INSERT INTO graftmem.cnat SELECT * FROM q163_c")
        t(s, dir, "supplier")
          .groupBy(col("s_nationkey").cast("long").as("nkey"))
          .agg(count(lit(1)).as("nsupp"),
            graft.util.Det.dsum(col("s_acctbal").cast("double")).as("sbal"))
          .createOrReplaceTempView("q163_s")
        s.sql("INSERT INTO graftmem.snat SELECT * FROM q163_s")
        s.sql("""SELECT c.nkey, c.ncust, c.cbal, s.nsupp, s.sbal
          FROM graftmem.cnat c JOIN graftmem.snat s ON c.nkey = s.nkey
          ORDER BY c.nkey""")
      },
      Some(s"""WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nkey,
          COUNT(*) AS ncust,
          ${graft.util.Det.dsumSql("CAST(c_acctbal AS DOUBLE)")} AS cbal
        FROM customer GROUP BY 1),
      s AS (SELECT CAST(s_nationkey AS BIGINT) AS nkey,
          COUNT(*) AS nsupp,
          ${graft.util.Det.dsumSql("CAST(s_acctbal AS DOUBLE)")} AS sbal
        FROM supplier GROUP BY 1)
      SELECT c.nkey, c.ncust, c.cbal, s.nsupp, s.sbal
      FROM c JOIN s ON c.nkey = s.nkey ORDER BY c.nkey""")),

    // ---- DSv2 aggregate pushdown (closed-form source statistics) -------
    // Global COUNT/MIN/MAX/SUM over the generated v2 source collapse
    // INSIDE the scan: each slice returns one closed-form partial row
    // (SeqSource.AggSpec), so the aggregate reads `slices` rows instead
    // of 100k — the parquet-footer-statistics pattern generalized to a
    // custom connector. The id-range filter is fully pushed (slice
    // clamping applies it exactly), which is what lets Spark's
    // V2ScanRelationPushDown move the aggregate into the source.
    // SeqSourceSpec pins that the scan's read schema IS the partial-agg
    // schema and that group-by/avg correctly decline pushdown.
    "q164_src_agg_pushdown" -> QueryDef(
      (s, dir) => {
        s.read.format("graft.sources.SeqSource")
          .option("rows", "100000").option("slices", "32")
          .load()
          .filter(col("id") >= 250 && col("id") < 99750)
          .agg(count(lit(1)).as("n_rows"),
            min(col("id")).as("min_id"), max(col("id")).as("max_id"),
            sum(col("id")).as("sum_id"),
            sum(col("bucket")).as("sum_bucket"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        MIN(i) AS min_id, MAX(i) AS max_id,
        CAST(SUM(i) AS BIGINT) AS sum_id,
        CAST(SUM(i % 10) AS BIGINT) AS sum_bucket
      FROM range(0, 100000) t(i) WHERE i >= 250 AND i < 99750""")),

    // ---- DSv2 top-k pushdown ------------------------------------------
    // ORDER BY id DESC LIMIT k over the v2 source: the pushed top-k
    // bounds every slice to its k id-extreme rows (O(slices x k) read,
    // not O(rows)); Spark still applies the exact final bound above the
    // scan (isPartiallyPushed), so pushdown is never a correctness
    // dependency.
    "q165_src_topn_pushdown" -> QueryDef(
      (s, dir) => {
        s.read.format("graft.sources.SeqSource")
          .option("rows", "100000").option("slices", "32")
          .load()
          .orderBy(col("id").desc)
          .limit(10)
      },
      Some("""SELECT i AS id, i % 10 AS bucket,
        'doc_' || CAST(i AS VARCHAR) AS payload
      FROM range(0, 100000) t(i) ORDER BY id DESC LIMIT 10""")),

    // ---- DSv2 runtime filtering (dynamic partition pruning) ------------
    // The v2 source implements SupportsRuntimeFiltering on id: when it
    // feeds a join whose dim side carries a selective predicate, Spark
    // broadcasts the dim FIRST and hands the surviving join-key values
    // to the scan at EXECUTION time — slices with no candidate id are
    // never read (SeqSourceSpec pins 10 slices -> 1). Pruning-only:
    // surviving slices emit their full range and the join re-filters,
    // so the runtime filter is never a correctness dependency. This is
    // DPP generalized to a custom connector — at 100 TB it's the
    // difference between scanning the whole fact table and scanning
    // the handful of partitions the dim filter actually selects.
    "q166_src_runtime_filter" -> QueryDef(
      (s, dir) => {
        val dim = t(s, dir, "nation")
          .filter(col("n_name").isin(
            "NATION_3", "NATION_7", "NATION_11", "NATION_19", "NATION_23"))
          .select(col("n_nationkey").cast("long").as("id"), col("n_name"))
        s.read.format("graft.sources.SeqSource")
          .option("rows", "100000").option("slices", "32")
          .load()
          .join(dim, "id")
          .select(col("id"), col("bucket"), col("payload"), col("n_name"))
          .orderBy("id")
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS id,
        CAST(n_nationkey % 10 AS BIGINT) AS bucket,
        'doc_' || CAST(n_nationkey AS VARCHAR) AS payload, n_name
      FROM nation
      WHERE n_name IN ('NATION_3','NATION_7','NATION_11','NATION_19',
        'NATION_23') AND n_nationkey < 100000
      ORDER BY id""")),

    // ---- v2 catalog functions: magic-method scalar ---------------------
    // SQL-addressable functions resolved through the catalog (the
    // engine-native shared function library — no session UDF
    // registration): hash_bucket's MAGIC_METHOD `invoke(long, int)` is
    // called via codegen with primitive args, no boxing or row
    // wrapping. Same multiplicative hash as the sampling queries, so
    // the oracle reproduces it arithmetically.
    "q167_fn_catalog_scalar" -> QueryDef(
      (s, dir) => {
        MemCatalog.register(s)
        t(s, dir, "customer").createOrReplaceTempView("q167_customer")
        s.sql("""SELECT b AS bucket, COUNT(*) AS n, MIN(k) AS min_key
          FROM (SELECT CAST(c_custkey AS BIGINT) AS k,
            graftmem.hash_bucket(CAST(c_custkey AS BIGINT), 8) AS b
            FROM q167_customer)
          GROUP BY b ORDER BY b""")
      },
      Some(s"""WITH k AS (SELECT CAST(c_custkey AS BIGINT) AS k,
          ${Slots.sql("CAST(c_custkey AS BIGINT)", 8)} AS b
        FROM customer)
      SELECT b AS bucket, COUNT(*) AS n, MIN(k) AS min_key
      FROM k GROUP BY b ORDER BY b""")),

    // ---- v2 catalog functions: mergeable aggregate ---------------------
    // util.Det.dsum as a catalog AGGREGATE function: state is one int64
    // unscaled DECIMAL(18,6) sum, update/merge are exact integer adds,
    // so partial aggregation composes and the result is bit-identical
    // on ANY partitioning (FunctionCatalogSpec pins 1-partition ==
    // 13-partition == Det.dsum). The determinism contract the whole
    // oracle harness depends on, packaged as a reusable engine function.
    "q168_fn_catalog_agg" -> QueryDef(
      (s, dir) => {
        MemCatalog.register(s)
        t(s, dir, "customer").createOrReplaceTempView("q168_customer")
        s.sql("""SELECT c_mktsegment AS seg,
            graftmem.dsum(CAST(c_acctbal AS DOUBLE)) AS bal
          FROM q168_customer GROUP BY c_mktsegment ORDER BY seg""")
      },
      Some(s"""SELECT c_mktsegment AS seg,
        ${graft.util.Det.dsumSql("CAST(c_acctbal AS DOUBLE)")} AS bal
      FROM customer GROUP BY 1 ORDER BY 1""")),

    // ---- rolling-hash document fingerprints (winnowing) ----------------
    // The MOSS/winnowing local-fingerprint scheme: an 8-char rolling
    // polynomial hash (base 31, exact in int64 — max value ~7e13, so no
    // modulus and no overflow in either engine) at every position, then
    // the minimum hash of each 16-gram window; the distinct selected
    // minima are the document's fingerprints. Guarantees any shared
    // substring of length >= 23 chars yields a shared fingerprint —
    // the plagiarism/near-dup primitive that, unlike shingle hashing,
    // is position-robust. Shape: posexplode the char codes ONCE, build
    // each gram hash from 8 window leads, then the window minimum —
    // both windows share one (doc_id)-ordered exchange and every row
    // costs O(1). Two rejected shapes, both O(n²): the all-HOF form
    // (grams array + per-window slice) hits the CollapseProject trap —
    // the array expression inlines into the window lambda and
    // recomputes per window (26 s at sf0.1); per-position
    // substring(t, i, 1) is O(i) on UTF8 strings, so even exploded
    // rows go quadratic (14 s). This shape: ~2 s.
    "q161_llm_winnow_fingerprint" -> QueryDef(
      (s, dir) => winnowFingerprints(s, dir).orderBy("doc_id", "fp"),
      Some(winnowCte + """
      SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp FROM w
      ORDER BY doc_id, fp"""))
  )

  /** Distinct winnowing fingerprints per doc (the q161 pipeline, shared
    * with q184's duplicated-fingerprint rate).
    */
  private[queries] def winnowFingerprints(
      s: SparkSession, dir: String): DataFrame = {
    // base-31 coefficients 31^7..31^0 — the 8-char polynomial fits
    // int64 (max ~7e13) with no modulus, so values are exact in
    // both engines
    val pows = Seq(27512614111L, 887503681L, 28629151L, 923521L,
      29791L, 961L, 31L, 1L)
    val chars = t(s, dir, "documents")
      .filter(length(col("text")) >= 24)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .withColumn("n", length(col("t")))
      .select(col("doc_id"), col("n"),
        posexplode(expr("transform(split(t, ''), c -> ascii(c))"))
          .as(Seq("i0", "code")))
    val wl = Window.partitionBy("doc_id").orderBy("i0")
    val gram = pows.zipWithIndex.map { case (c, j) =>
      (if (j == 0) col("code") else lead(col("code"), j).over(wl))
        .cast("long") * lit(c)
    }.reduce(_ + _)
    val wm = Window.partitionBy("doc_id").orderBy("i0")
      .rowsBetween(Window.currentRow, 15)
    chars.withColumn("gram", gram)
      .filter(col("i0") <= col("n") - 8)
      .withColumn("fp", min(col("gram")).over(wm))
      .filter(col("i0") <= col("n") - 8 - 15)
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** Shared winnowing-fingerprint CTE prefix (ends at `w` = one row per
    * selected window minimum); q161 and q184 append their own tails.
    */
  private[queries] lazy val winnowCte =
    """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents
        WHERE length(text) >= 24),
      g AS (SELECT doc_id, list_transform(range(1, length(t) - 7 + 1), i ->
          list_sum(list_transform(range(0, 8), j ->
            ascii(t[i+j:i+j])
              * [27512614111,887503681,28629151,923521,29791,961,31,1][j+1])))
          AS gr
        FROM d),
      w AS (SELECT doc_id, unnest(list_transform(range(1, len(gr) - 15 + 1),
          p -> list_min(gr[p:p+15]))) AS fp FROM g)"""
}
