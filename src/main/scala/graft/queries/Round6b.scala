package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.QueryDef
import graft.operators.Similarity
import graft.sources.{MemCatalog, Tables}
import graft.streaming.EventStreams
import graft.util.Det
import graft.util.Slots

/** Round-6 continuation batch: statistical LM quality scoring (the
  * CCNet-style filter, division-exact), weighted sampling without
  * replacement (priority sampling), Bloom-prefiltered anti-join (the
  * blocklist shape), a Deequ-style data-quality audit, and SemDeDup
  * (cluster-bucketed embedding dedup). Determinism per SURVEY.md §2.3:
  * every float path is IEEE-exact (+,-,*,/ and round only — ln/pow
  * deliberately avoided, the q226 precedent), sums go through int64-
  * backed decimals, every output totally ordered with unique tie-break.
  */
object Round6b {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  /** The portable Lehmer-mix hash family (q161/q172/q231 recipe): exact
    * int64 in both engines, parameterized by the multiplier so several
    * independent hash functions can be drawn. */
  private def lehmer(key: String, mult: Long): String =
    s"($key % 2147483647) * $mult % 2147483647"

  private val D9 = DecimalType(18, 9)

  /** Row-local trigram shingler shared by q265's static index, its
    * streaming probe side, and StreamingSpec's bounded-state test:
    * distinct xxhash64 trigram hashes per document, exploded with the
    * per-doc shingle count. Row-local by construction (a transform HOF
    * + explode — streaming-safe with no stateful pre-aggregation).
    */
  def shingledDocs(df: DataFrame, idAs: String, nAs: String): DataFrame = df
    .withColumn("w", split(col("text"), " "))
    .withColumn("sh", array_distinct(expr(
      """transform(slice(w, 1, greatest(size(w) - 2, 0)),
         (x, i) -> xxhash64(concat_ws(' ', x, element_at(w, i + 2), element_at(w, i + 3))))""")))
    .filter(size(col("sh")) > 0)
    .select(col("doc_id").as(idAs), col("lang"),
      size(col("sh")).cast("long").as(nAs), explode(col("sh")).as("gh"))

  /** Per-micro-batch near-dup scoring for q265: join one batch of probe
    * shingles against the static inverted index, aggregate intersection
    * counts, keep Jaccard >= 0.5. Globally complete per batch because
    * a probe doc's shingles never span batches and the corpus side is
    * static — the reason q265 needs NO stateful streaming operator.
    */
  def scoreNearDupBatch(batch: DataFrame, idx: DataFrame): DataFrame = batch
    .join(idx, Seq("gh", "lang"))
    .groupBy("da", "db", "na", "nb").agg(count(lit(1)).as("inter"))
    .withColumn("jaccard",
      col("inter") / (col("na") + col("nb") - col("inter")))
    .filter(col("jaccard") >= 0.5)
    .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))

  val defs: Map[String, QueryDef] = Map(

    // ---- bigram-LM fluency scoring (CCNet-style quality filter) --------
    // Score every document against a bigram language model trained on a
    // designated high-quality reference slice (source src1..src5) — the
    // CCNet/DSIR shape: LM-based quality filtering of a crawl. The
    // smoothed conditional probability P(w2|w1) = (c2+1)/(c1+V) is an
    // exact int64 ratio evaluated with ONE double division (IEEE-exact,
    // bit-identical cross-engine); log-perplexity is deliberately NOT
    // taken because libm ln is not bit-portable (q226 precedent) and ln
    // is monotone per pair — mean_p / min_p / oov_pairs carry the same
    // filtering signal. Scale shape: the model (bigram + history counts,
    // vocab scalar) is vocabulary-bounded; scoring is one linear pass
    // over doc bigrams with two equi-joins against the model and a
    // per-doc aggregation — no data-sized second pass.
    "q260_llm_bigram_lm" -> QueryDef(
      (s, dir) => {
        val refSrcs = Seq("src1", "src2", "src3", "src4", "src5")
        val tok = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("tl"))
        def pairsOf(df: DataFrame): DataFrame = {
          val tks = df.select(col("doc_id"), posexplode(col("tl")))
            .select(col("doc_id"), col("pos"), col("col").as("w1"))
          val w = Window.partitionBy("doc_id").orderBy("pos")
          tks.withColumn("w2", lead("w1", 1).over(w))
            .filter(col("w2").isNotNull)
            .select(col("doc_id"), col("w1"), col("w2"))
        }
        val refTok = tok.filter(col("source").isin(refSrcs: _*))
        val refPairs = pairsOf(refTok)
        val vDf = refTok.select(explode(col("tl")).as("w"))
          .agg(countDistinct("w").as("v")).withColumn("one", lit(1))
        val hist = refPairs.groupBy("w1").agg(count(lit(1)).as("c1"))
        val big = refPairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        val scored = pairsOf(tok)
          .join(big, Seq("w1", "w2"), "left")
          .join(hist, Seq("w1"), "left")
          .withColumn("one", lit(1))
          .join(broadcast(vDf), Seq("one"))
          .withColumn("c2n", coalesce(col("c2"), lit(0L)))
          .withColumn("c1n", coalesce(col("c1"), lit(0L)))
          .withColumn("p", (col("c2n") + 1).cast("double") /
            (col("c1n") + col("v")).cast("double"))
        scored.groupBy("doc_id").agg(
            count(lit(1)).as("n_pairs"),
            sum(when(col("c2n") === 0, 1L).otherwise(0L)).as("oov_pairs"),
            (sum(col("p").cast(D9)).cast("double") / count(lit(1))).as("mean_p"),
            min("p").as("min_p"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS tl FROM documents),
      rt AS (SELECT * FROM tok WHERE source IN ('src1','src2','src3','src4','src5')),
      vv AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(tl) AS w FROM rt)),
      rp AS (SELECT tl[p] AS w1, tl[p+1] AS w2 FROM
        (SELECT tl, unnest(range(1, len(tl))) AS p FROM rt)),
      hist AS (SELECT w1, COUNT(*) AS c1 FROM rp GROUP BY 1),
      big AS (SELECT w1, w2, COUNT(*) AS c2 FROM rp GROUP BY 1, 2),
      dp AS (SELECT doc_id, tl[p] AS w1, tl[p+1] AS w2 FROM
        (SELECT doc_id, tl, unnest(range(1, len(tl))) AS p FROM tok)),
      sc AS (SELECT dp.doc_id, COALESCE(b.c2, 0) AS c2n, COALESCE(h.c1, 0) AS c1n,
          CAST(COALESCE(b.c2, 0) + 1 AS DOUBLE) / CAST(COALESCE(h.c1, 0) + vv.v AS DOUBLE) AS p
        FROM dp LEFT JOIN big b USING (w1, w2) LEFT JOIN hist h USING (w1)
        CROSS JOIN vv)
      SELECT doc_id, COUNT(*) AS n_pairs,
        CAST(SUM(CASE WHEN c2n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS oov_pairs,
        CAST(SUM(CAST(p AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mean_p,
        MIN(p) AS min_p
      FROM sc GROUP BY doc_id ORDER BY doc_id""")),

    // ---- weighted sampling without replacement (priority sampling) -----
    // Duffield–Lund–Thorup priority sampling: each item draws a uniform
    // u from a PORTABLE Lehmer hash of its key (deterministic, seedless),
    // gets priority w/u, and the k largest priorities form the sample;
    // tau = the (k+1)-th priority makes max(w, tau) an unbiased
    // subset-sum estimator (the Horvitz–Thompson weight we emit). The
    // data-mixture use case: weighted downsampling of a corpus with
    // exact replayability — no RNG state, any executor recomputes the
    // same sample. All float math is one division per row plus a
    // comparison — IEEE-exact both engines. Scale shape: the global
    // top-(k+1) is TakeOrdered (per-partition heaps + bounded driver
    // merge, no global sort shuffle); the rank window runs over the
    // bounded k+1 set only; tau re-attaches via a 1-row broadcast hash
    // join on a literal key.
    "q261_mix_priority_sample" -> QueryDef(
      (s, dir) => {
        val k = 500
        val p = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_totalprice").as("weight"),
          (col("o_totalprice") /
            ((expr(lehmer("o_orderkey", 48271L)) + 1).cast("double") /
              lit(2147483648.0))).as("priority"))
        val top = p.orderBy(col("priority").desc, col("o_orderkey")).limit(k + 1)
        val ranked = top.withColumn("rn", row_number().over(
            Window.orderBy(col("priority").desc, col("o_orderkey"))))
          .withColumn("one", lit(1))
        val tau = ranked.filter(col("rn") === k + 1)
          .select(col("one"), col("priority").as("tv"))
        ranked.filter(col("rn") <= k)
          .join(broadcast(tau), Seq("one"))
          .select(col("o_orderkey"), col("weight"), col("priority"),
            greatest(col("weight"), col("tv")).as("ht_weight"))
          .orderBy("o_orderkey")
      },
      Some("""WITH p AS (SELECT o_orderkey, o_totalprice AS weight,
          o_totalprice / (CAST((o_orderkey % 2147483647) * 48271 % 2147483647 + 1 AS DOUBLE)
            / 2147483648.0) AS priority
        FROM orders),
      r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, o_orderkey) AS rn FROM p),
      tau AS (SELECT priority AS tv FROM r WHERE rn = 501)
      SELECT o_orderkey, weight, priority,
        GREATEST(weight, (SELECT tv FROM tau)) AS ht_weight
      FROM r WHERE rn <= 500 ORDER BY o_orderkey""")),

    // ---- Bloom-prefiltered anti-join (the blocklist shape) -------------
    // Filter a fact stream against a blocklist too large to ship raw:
    // build an m=4096-bit Bloom filter (two Lehmer hash functions) over
    // the blocked keys as a distinct set-bit TABLE (bounded by m —
    // broadcastable at ANY blocklist size, the point of the pattern),
    // then split the probe: rows missing either bit are definitely
    // clean and pass through WITHOUT touching the blocklist; only the
    // bloom-positive fraction pays the exact anti-join. False positives
    // therefore cannot affect the result — the oracle is the plain
    // NOT IN — the bloom only bounds how much data reaches the exact
    // join. This is the manual form of the runtime-filter pushdown the
    // DSv2 connector scores (q196-family), usable on any DataFrame.
    "q262_join_bloom_prefilter" -> QueryDef(
      (s, dir) => {
        val m = 4096
        def h(mult: Long, key: String): Column =
          expr(s"${lehmer(key, mult)} % $m")
        val bad = t(s, dir, "orders")
          .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
        val bits = bad
          .select(explode(array(h(48271L, "o_orderkey"),
            h(69621L, "o_orderkey"))).as("pos"))
          .distinct().withColumn("hit", lit(1L))
        val probe = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
          .withColumn("p1", h(48271L, "l_orderkey"))
          .withColumn("p2", h(69621L, "l_orderkey"))
          .join(broadcast(bits.select(col("pos").as("p1"), col("hit").as("h1"))),
            Seq("p1"), "left")
          .join(broadcast(bits.select(col("pos").as("p2"), col("hit").as("h2"))),
            Seq("p2"), "left")
        val clean = probe.filter(col("h1").isNull || col("h2").isNull)
        val maybe = probe.filter(col("h1").isNotNull && col("h2").isNotNull)
          .join(bad, col("l_orderkey") === col("o_orderkey"), "left_anti")
        clean.select(col("l_returnflag"), col("l_quantity"))
          .unionByName(maybe.select(col("l_returnflag"), col("l_quantity")))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), Det.dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
        ${Det.dsumSql("l_quantity")} AS sum_qty
      FROM lineitem
      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
      GROUP BY 1 ORDER BY 1""")),

    // ---- data-quality audit (Deequ-style constraint suite) -------------
    // One declarative pass computing a validation report over the fact
    // table: row count, null counts, primary-key uniqueness (the
    // current fixture REALLY violates it — duplicate (l_orderkey,
    // l_linenumber) pairs, see CLAUDE.md — so this check earns its
    // keep), value-range and domain checks, and referential integrity
    // against two dimensions. All single-table metrics fold into ONE
    // aggregation over one scan; the two FK checks are anti-join
    // counts; the long-format report is a map-explode over the joined
    // 1-row metric sets (broadcast hash joins on a literal key — no
    // second scan of the fact table).
    "q263_dq_audit" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val base = li.agg(
            count(lit(1)).as("rows_total"),
            sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"),
            (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber")))
              .as("dup_pk"),
            sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
              .otherwise(0L)).as("range_disc"),
            sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
              .otherwise(0L)).as("domain_flag"))
          .withColumn("one", lit(1))
        val fkOrd = li.join(t(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("fk_orders")).withColumn("one", lit(1))
        val fkPart = li.join(t(s, dir, "part"),
            col("l_partkey") === col("p_partkey"), "left_anti")
          .agg(count(lit(1)).as("fk_part")).withColumn("one", lit(1))
        base.join(broadcast(fkOrd), Seq("one"))
          .join(broadcast(fkPart), Seq("one"))
          .select(explode(map(
            lit("domain_l_returnflag"), col("domain_flag"),
            lit("dup_pk_lineitem"), col("dup_pk"),
            lit("fk_lineitem_orders"), col("fk_orders"),
            lit("fk_lineitem_part"), col("fk_part"),
            lit("null_l_quantity"), col("null_qty"),
            lit("range_l_discount"), col("range_disc"),
            lit("rows_total"), col("rows_total"))))
          .select(col("key").as("check_name"), col("value").as("violations"))
          .orderBy("check_name")
      },
      Some("""SELECT 'domain_l_returnflag' AS check_name,
        CAST(COUNT(*) FILTER (l_returnflag NOT IN ('A','N','R')) AS BIGINT) AS violations FROM lineitem
      UNION ALL SELECT 'dup_pk_lineitem',
        CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) FROM lineitem
      UNION ALL SELECT 'fk_lineitem_orders', CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      UNION ALL SELECT 'fk_lineitem_part', CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
      UNION ALL SELECT 'null_l_quantity',
        CAST(COUNT(*) FILTER (l_quantity IS NULL) AS BIGINT) FROM lineitem
      UNION ALL SELECT 'range_l_discount',
        CAST(COUNT(*) FILTER (l_discount < 0 OR l_discount > 0.1) AS BIGINT) FROM lineitem
      UNION ALL SELECT 'rows_total', CAST(COUNT(*) AS BIGINT) FROM lineitem
      ORDER BY check_name""")),

    // ---- SemDeDup: cluster-bucketed embedding near-dup pruning ---------
    // Semantic dedup at corpus scale (Abbas et al.): assign every
    // vector to its nearest of 32 seed centroids (one Lloyd assignment
    // round on the int64-quantized embedding, the q225 kernel — exact),
    // then compare ONLY within clusters: a vector is pruned when a
    // lower-id cluster-mate is closer than cos >= 0.35 (rounded cosine,
    // q46 recipe), keeping the minimal-id representative. The cluster
    // bucketing is what makes embedding dedup tractable at 100 TB —
    // q63's all-unique-pairs O(N²) becomes sum of per-cluster
    // quadratics, and in production k grows with N (like IVF nlist /
    // q255's nPlanes) so cluster size — and per-vector work — stays
    // bounded. Output: each pruned vector with its keeper and best
    // cosine.
    "q264_llm_semdedup" -> QueryDef(
      (s, dir) => {
        graft.plans.NativeExpressions.register(s)
        val emb = t(s, dir, "embeddings")
        val e = emb.select(col("vec_id"), posexplode(col("embedding")))
          .select(col("vec_id"), (col("pos") + 1).as("i"),
            floor(col("col").cast("double") * lit(1000000L)).as("x"))
          .persist()
        val c0 = e.filter(col("vec_id") < 32)
          .select(col("vec_id").as("cid"), col("i"), col("x").as("c"))
        val d = e.join(broadcast(c0), Seq("i"))
          .groupBy("vec_id", "cid")
          .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("dist"))
        val asg = d.withColumn("rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))))
          .filter(col("rn") === 1).select(col("vec_id"), col("cid"))
        val mem = asg.join(emb, Seq("vec_id"))
          .select(col("cid"), col("vec_id"), col("embedding"))
        val a = mem.select(col("cid"), col("vec_id").as("va"),
          col("embedding").as("ea"))
        val b = mem.select(col("cid"), col("vec_id").as("vb"),
          col("embedding").as("eb"))
        val cos = a.join(b, Seq("cid")).filter(col("va") < col("vb"))
          .select(col("va"), col("vb"),
            Similarity.cos("ea", "eb").as("cos"))
        cos.filter(col("cos") >= 0.35)
          .groupBy(col("vb").as("vec_id"))
          .agg(min("va").as("keeper"), max("cos").as("best_cos"))
          .orderBy("vec_id")
      },
      Some(Round6c.semDedupOracleSql)),

    // ---- streaming near-dup detection (stream-static, q210's twin) -----
    // The PRODUCTION ingest-time shape of q210: new documents arrive as
    // a stream, each micro-batch is shingled ROW-LOCALLY (the trigram
    // xxhash64 array via a transform HOF), joined stream-static against
    // the standing corpus's inverted shingle index, and near-dup alerts
    // (Jaccard >= 0.5, lang-blocked) MERGE idempotently into an alerts
    // table inside foreachBatch — the q223 monotonic-sink pattern.
    // ZERO stateful streaming operators: a probe document's shingles
    // all live in its own micro-batch (the explode is row-local) and
    // pairs are (probe, corpus-doc) with a STATIC corpus side, so
    // per-batch aggregation is already globally complete — the round-6
    // complete-mode pair aggregation carried every pair ever seen as
    // resident state for nothing (the round-6 verdict's one
    // scale-killer; StreamingSpec now pins stateOperators to empty
    // across a multi-batch run). Retried batches recompute the same
    // deterministic scores and the NOT-MATCHED-only MERGE absorbs
    // them. Same split, same semantics, SAME ORACLE as batch q210 —
    // stream and batch must agree. BOTH sides use the identical HOF
    // shingler (the streaming-safe re-expression of Dedup.shingleIndex
    // — note the Generator joins words with '\0', so its hashes are
    // not reproducible from SQL string ops; hashing here only needs to
    // be collision-free and side-consistent, as everywhere in the
    // dedup family).
    "q265_stream_neardup" -> QueryDef(
      (s, dir) => {
        // The standing corpus shingle index is an INDEX-BUILD artifact
        // (built once, served by every batch) — the same contract as
        // q313's standing graph/codes and q297's rep index; only the
        // per-batch probe shingling + scoring stays live per pass.
        // label encodes the corpus holdout (1-in-10, slot != 0) baked
        // into the build — a future filter change is a changed label,
        // hence a rebuild, never a stale serve (round-14 advice item)
        val idx = graft.util.FixtureArtifact.parquet(s, dir,
          "documents.parquet", "neardup_shingle_idx_h10",
          params = Map("holdoutMod" -> 10L))(
          Round6b.shingledDocs(t(s, dir, "documents")
            .filter(Slots.Probe.out(col("doc_id"))),
            "db", "nb"))
        MemCatalog.recreate(s, "neardup_alerts",
          "(da BIGINT, db BIGINT, jaccard DOUBLE)")
        // repartition BEFORE the explode: a micro-batch's map parallelism
        // is otherwise bounded by its input FILE partitions (the 100×
        // probe caught one 50 MB file funneling the whole shingle
        // explode + join map side through a single task). Shuffling the
        // narrow raw-doc rows is cheap; the heavy row-local shingling
        // then spreads across the session's shuffle partitions.
        val probe = Round6b.shingledDocs(
          EventStreams.fixtureStream(s, dir, "documents")
            .filter(Slots.Probe.in(col("doc_id")))
            .repartition(col("doc_id")), "da", "na")
        EventTime.withShufflePartitions(s, 8) {
          EventStreams.drain(probe) { (batch, _) =>
            EventStreams.insertNew(Round6b.scoreNearDupBatch(batch, idx),
              "neardup_alerts", "da", "db")
          }
        }
        s.sql("SELECT da, db, jaccard FROM graftmem.neardup_alerts ORDER BY da, db")
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

    // ---- Holt double-exponential smoothing (level + trend forecast) ----
    // Per-type daily-count smoothing with alpha = beta = 1/2 — chosen
    // so EVERY recurrence step is a halving plus additions, all
    // IEEE-exact, making the sequential fold bit-portable WITHOUT the
    // rounded-output hedge (multiplying by 0.5 is exponent arithmetic).
    // The recurrence folds the day-ordered series with a struct
    // accumulator: Spark aggregate() initialized from element 1 over
    // the slice(2..) ≡ DuckDB list_reduce's first-element init — the
    // q226/list_reduce order-equivalence recipe lifted to struct state.
    // Scale shape: groups are bounded-cardinality (event_type) and the
    // folded list is horizon-bounded (#days), so the per-group collect
    // is a bounded aggregate, not a data-sized one; the daily counts
    // underneath are one hash shuffle.
    "q266_ts_holt_smoothing" -> QueryDef(
      (s, dir) => {
        val lstep = "CAST(0.5 AS DOUBLE) * x.l + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)"
        val daily = graft.sources.Events.load(s, dir)
          .groupBy(col("event_type"), expr("sec DIV 86400").as("dd"))
          .agg(count(lit(1)).cast("double").as("y"))
        daily.groupBy("event_type")
          .agg(sort_array(collect_list(struct(col("dd"), col("y")))).as("ser"),
            count(lit(1)).as("n_days"))
          .withColumn("st", expr(
            "transform(ser, x -> named_struct('l', x.y, 'b', CAST(0.0 AS DOUBLE)))"))
          .withColumn("r", expr(
            s"""aggregate(slice(st, 2, size(st) - 1), element_at(st, 1),
               (acc, x) -> named_struct(
                 'l', $lstep,
                 'b', CAST(0.5 AS DOUBLE) * (($lstep) - acc.l) + CAST(0.5 AS DOUBLE) * acc.b))"""))
          .select(col("event_type"), col("n_days"),
            col("r.l").as("level"), col("r.b").as("trend"),
            (col("r.l") + col("r.b")).as("forecast"))
          .orderBy("event_type")
      },
      // Oracle replays the fold as a RECURSIVE CTE, not list_reduce:
      // DuckDB 1.0 struct_pack lambdas mutate the accumulator field by
      // field, so `acc.l` read inside the `b :=` expression returns the
      // ALREADY-UPDATED l — silently wrong for any coupled recurrence
      // (verified with an echo lambda; scalar folds are unaffected).
      Some(s"""WITH RECURSIVE dly AS (SELECT event_type,
          ${Det.epochSecSql("ts")} // 86400 AS dd,
          CAST(COUNT(*) AS DOUBLE) AS y
        FROM events GROUP BY 1, 2),
      idx AS (SELECT event_type, y,
          row_number() OVER (PARTITION BY event_type ORDER BY dd) AS t
        FROM dly),
      n AS (SELECT event_type, MAX(t) AS tn FROM idx GROUP BY 1),
      rec AS (
        SELECT event_type, 1 AS t, y AS l, CAST(0 AS DOUBLE) AS b
        FROM idx WHERE t = 1
        UNION ALL
        SELECT r.event_type, r.t + 1,
          0.5 * i.y + 0.5 * (r.l + r.b),
          0.5 * ((0.5 * i.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
        FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.t = r.t + 1)
      SELECT r.event_type, CAST(n.tn AS BIGINT) AS n_days,
        r.l AS level, r.b AS trend, r.l + r.b AS forecast
      FROM rec r JOIN n ON r.event_type = n.event_type AND r.t = n.tn
      ORDER BY r.event_type""")),

    // ---- heavy hitters: two-phase sample-and-verify --------------------
    // The scalable frequent-keys shape: a full groupBy carries state for
    // EVERY distinct key (at 100 TB that is the whole key domain); the
    // two-phase pipeline aggregates a deterministic 10% Lehmer-hash row
    // sample first, keeps only keys crossing the sample threshold (a
    // bounded candidate set — broadcastable), then computes EXACT counts
    // for candidates alone, so phase-2 aggregation state is bounded by
    // |candidates|, not |keys|. Sampling is seedless and replayed
    // verbatim by the oracle — the declared semantics include the
    // sample, so the result is exactly scored. (Misra–Gries/SpaceSaving
    // sketches were deliberately NOT used: their merge result depends
    // on partition order, which violates the §2.3 determinism bar.)
    "q267_agg_heavy_hitters" -> QueryDef(
      (s, dir) => {
        val sample = graft.sources.Events.load(s, dir)
          .filter(expr(s"${lehmer("event_id", 48271L)} % 10") === 0)
        val cand = sample.groupBy("user_id").agg(count(lit(1)).as("s_cnt"))
          .filter(col("s_cnt") >= 6).select("user_id")
        graft.sources.Events.load(s, dir)
          .join(broadcast(cand), Seq("user_id"))
          .groupBy("user_id").agg(count(lit(1)).as("n_events"))
          .filter(col("n_events") >= 75)
          .orderBy("user_id")
      },
      Some("""WITH cand AS (SELECT user_id FROM events
        WHERE (event_id % 2147483647) * 48271 % 2147483647 % 10 = 0
        GROUP BY user_id HAVING COUNT(*) >= 6)
      SELECT user_id, COUNT(*) AS n_events FROM events
      WHERE user_id IN (SELECT user_id FROM cand)
      GROUP BY user_id HAVING COUNT(*) >= 75 ORDER BY user_id""")),

    // ---- categorical drift: chi-square contingency test ----------------
    // Monitoring complement to q237's (numeric) KS drift: the per-
    // category chi-square contribution of event_type counts between two
    // fixed 15-day periods. Every term is (o-e)²/e on exact int64
    // counts lifted to double — multiplication and division are IEEE-
    // exact, no ln/sqrt, so identical formula text gives identical bits
    // in both engines (the q226 principle). The contingency table is
    // bounded (|event_type| × 2), so the totals frame is a 1-row
    // broadcast and the whole test costs one scan + one tiny agg.
    "q268_eval_chi2_drift" -> QueryDef(
      (s, dir) => {
        val cells = graft.sources.Events.load(s, dir)
          .groupBy("event_type").agg(
            sum(when(expr("sec DIV 86400") < 19738L, 1L).otherwise(0L)).as("n_p1"),
            sum(when(expr("sec DIV 86400") >= 19738L, 1L).otherwise(0L)).as("n_p2"))
        val tot = cells.agg(sum("n_p1").as("t1"), sum("n_p2").as("t2"))
          .withColumn("one", lit(1))
        cells.withColumn("one", lit(1)).join(broadcast(tot), Seq("one"))
          .withColumn("e1", (col("n_p1") + col("n_p2")).cast("double") *
            col("t1").cast("double") / (col("t1") + col("t2")).cast("double"))
          .withColumn("e2", (col("n_p1") + col("n_p2")).cast("double") *
            col("t2").cast("double") / (col("t1") + col("t2")).cast("double"))
          .select(col("event_type"), col("n_p1"), col("n_p2"),
            (((col("n_p1").cast("double") - col("e1")) *
              (col("n_p1").cast("double") - col("e1")) / col("e1")) +
             ((col("n_p2").cast("double") - col("e2")) *
              (col("n_p2").cast("double") - col("e2")) / col("e2"))).as("chi2_contrib"))
          .orderBy("event_type")
      },
      Some(s"""WITH cells AS (SELECT event_type,
          CAST(COUNT(*) FILTER (${Det.epochSecSql("ts")} // 86400 < 19738) AS BIGINT) AS n_p1,
          CAST(COUNT(*) FILTER (${Det.epochSecSql("ts")} // 86400 >= 19738) AS BIGINT) AS n_p2
        FROM events GROUP BY 1),
      tot AS (SELECT SUM(n_p1) AS t1, SUM(n_p2) AS t2 FROM cells),
      x AS (SELECT event_type, n_p1, n_p2,
          CAST(n_p1 + n_p2 AS DOUBLE) * CAST(t1 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE) AS e1,
          CAST(n_p1 + n_p2 AS DOUBLE) * CAST(t2 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE) AS e2
        FROM cells CROSS JOIN tot)
      SELECT event_type, n_p1, n_p2,
        (CAST(n_p1 AS DOUBLE) - e1) * (CAST(n_p1 AS DOUBLE) - e1) / e1 +
        (CAST(n_p2 AS DOUBLE) - e2) * (CAST(n_p2 AS DOUBLE) - e2) / e2 AS chi2_contrib
      FROM x ORDER BY event_type"""))
  )
}
