package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.{Ranks, Similarity}
import graft.sources.Tables
import graft.util.Det

/** Round-6 queries: the density-capped keyless interval join (VERDICT
  * r5 item 4 — the scale-safe default next to q224's exact twin) and
  * this round's coverage additions. Determinism rules per SURVEY.md
  * §2.3 / CLAUDE.md (int64-backed sums, whole-second event time, total
  * order with unique tie-break).
  */
object Round6 {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  val defs: Map[String, QueryDef] = Map(

    // ---- keyless interval join, density-capped -------------------------
    // q224's binned interval join is EXACT but output-quadratic when
    // bin density explodes (its 100× probe: 40×/decade, honest
    // answer growth). This is the 100 TB-safe default: the same time
    // binning, but (1) each bin admits at most M intervals PER SIDE —
    // deterministic priority: earliest start, then id — so per-bin
    // candidate work is bounded by M² regardless of how hot a time
    // window gets, and (2) each left interval reports only its TOP-K
    // overlaps (largest overlap, then b_id), so output is |A|·K not
    // |A|·|B|. Both caps are part of the declared semantics and are
    // reproduced verbatim in the oracle (two ROW_NUMBER windows), so
    // the query stays exactly scored. A pair is admitted only if both
    // sides survive the cap in their FIRST shared bin (the same
    // appear-once rule q224 uses), which keeps the dedup filter and
    // the cap composable without a post-join distinct.
    "q256_join_interval_capped" -> QueryDef(
      (s, dir) => {
        val W = 3600L; val m = 64; val k = 3
        val iv = graft.sources.Events.load(s, dir)
          .groupBy("user_id").agg(min("sec").as("st"))
          .select(col("user_id"), col("st"), (col("st") + 600L).as("en"))
        val a = iv.filter(pmod(col("user_id"), lit(2)) === 0)
          .select(col("user_id").as("a_id"), col("st").as("a_s"), col("en").as("a_e"))
        val b = iv.filter(pmod(col("user_id"), lit(2)) === 1)
          .select(col("user_id").as("b_id"), col("st").as("b_s"), col("en").as("b_e"))
        val ab = a.select(col("a_id"), col("a_s"), col("a_e"),
          explode(expr(s"sequence(a_s DIV $W, a_e DIV $W)")).as("bin"))
        val bb = b.select(col("b_id"), col("b_s"), col("b_e"),
          explode(expr(s"sequence(b_s DIV $W, b_e DIV $W)")).as("bin"))
        val abk = ab.withColumn("rm", row_number().over(
            Window.partitionBy("bin").orderBy(col("a_s"), col("a_id"))))
          .filter(col("rm") <= m).drop("rm")
        val bbk = bb.withColumn("rm", row_number().over(
            Window.partitionBy("bin").orderBy(col("b_s"), col("b_id"))))
          .filter(col("rm") <= m).drop("rm")
        val pairs = abk.join(bbk, "bin")
          .filter(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
          .filter(col("bin") === greatest(
            expr(s"a_s DIV $W"), expr(s"b_s DIV $W")))
          .select(col("a_id"), col("b_id"),
            (least(col("a_e"), col("b_e")) -
              greatest(col("a_s"), col("b_s"))).as("overlap_sec"))
        pairs.withColumn("rn", row_number().over(
            Window.partitionBy("a_id")
              .orderBy(col("overlap_sec").desc, col("b_id"))).cast("long"))
          .filter(col("rn") <= k)
          .select(col("a_id"), col("b_id"), col("overlap_sec"), col("rn"))
          .orderBy("a_id", "rn")
      },
      Some(s"""WITH iv AS (SELECT user_id, MIN(${Det.epochSecSql("ts")}) AS st,
          MIN(${Det.epochSecSql("ts")}) + 600 AS en FROM events GROUP BY user_id),
      a AS (SELECT user_id AS a_id, st AS a_s, en AS a_e FROM iv WHERE user_id % 2 = 0),
      b AS (SELECT user_id AS b_id, st AS b_s, en AS b_e FROM iv WHERE user_id % 2 = 1),
      ab AS (SELECT a_id, a_s, a_e, unnest(range(a_s // 3600, a_e // 3600 + 1)) AS bin FROM a),
      bb AS (SELECT b_id, b_s, b_e, unnest(range(b_s // 3600, b_e // 3600 + 1)) AS bin FROM b),
      abk AS (SELECT a_id, a_s, a_e, bin FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY bin ORDER BY a_s, a_id) AS rm FROM ab) WHERE rm <= 64),
      bbk AS (SELECT b_id, b_s, b_e, bin FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY bin ORDER BY b_s, b_id) AS rm FROM bb) WHERE rm <= 64),
      p AS (SELECT a_id, b_id, LEAST(a_e, b_e) - GREATEST(a_s, b_s) AS overlap_sec
        FROM abk JOIN bbk USING (bin)
        WHERE a_s <= b_e AND b_s <= a_e
          AND bin = GREATEST(a_s // 3600, b_s // 3600)),
      r AS (SELECT a_id, b_id, overlap_sec, ROW_NUMBER() OVER (
          PARTITION BY a_id ORDER BY overlap_sec DESC, b_id) AS rn FROM p)
      SELECT a_id, b_id, overlap_sec, CAST(rn AS BIGINT) AS rn
      FROM r WHERE rn <= 3 ORDER BY a_id, rn""")),

    // ---- graph-based ANN: beam search over an LSH-seeded kNN graph -----
    // Completes the ANN family (exact q46, LSH q47, IVF q77, PQ q222)
    // with the industry default at extreme scale: a bounded-degree
    // neighbor graph + greedy beam search (HNSW/DiskANN query shape).
    // Graph build = Similarity.lshKnnEdges (per-LSH-bucket top-4
    // neighbors — bucketed pair generation, never all-pairs); search =
    // 2 unrolled beam rounds from a fixed entry point (min corpus id),
    // beam 4, output top-3. Exactly oracled end to end: buckets via the
    // q47 hyperplane-literal recipe, every score a rounded cosine with
    // id tie-breaks, fixed entry — DuckDB replays the identical rounds
    // as CTEs. Edges feed both rounds -> persisted (CLAUDE.md rule).
    "q255_llm_ann_beam" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val corpus = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val qs = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val edges = Similarity.lshKnnEdges(corpus, d = 4, nPlanes = 6,
          dim = 64).persist()
        Similarity.beamTopK(qs, corpus, edges, k = 3, beam = 4, rounds = 2)
          .orderBy("qid", "rnk")
      },
      Some(beamOracle)),

    // ---- dedup-first graph-ANN build (duplication-robust twin) ---------
    // Same output, same oracle as q255 — the EDGE BUILD runs dedup-
    // first (Similarity.lshKnnEdgesDeduped): one dot per unique vector
    // pair per bucket, per-member top-d reconstructed through the
    // duplicate groups via the provably-sufficient top-(d+1)-groups
    // cap. The round-6 probe measured the all-copies build at 454 s /
    // 11.7×/decade on the 100-copies 100× fixture; this is the
    // production shape for duplicated corpora (q159/q188/q257 family).
    "q258_llm_ann_beam_dedup" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val corpus = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val qs = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val edges = Similarity.lshKnnEdgesDeduped(corpus, d = 4, nPlanes = 6,
          dim = 64).persist()
        Similarity.beamTopK(qs, corpus, edges, k = 3, beam = 4, rounds = 2)
          .orderBy("qid", "rnk")
      },
      Some(beamOracle)),

    // ---- skew-robust running sum (two-phase distributed prefix sum) ----
    // q23's running totals computed WITHOUT one sort task per customer:
    // the round-6 skew probe showed windows are the one class AQE
    // cannot rescue under a hot key (1.6× at 100×, indivisible
    // partition). Ranks.runningSumsBinned range-bins each customer's
    // rows by order date, runs the window within (customer, bin), and
    // prefix-sums the ≤64-row per-customer bin spine — a hot customer
    // spreads over 64 tasks. Decimal addition is associative, so the
    // result is bit-identical: SAME oracle as q23.
    "q259_win_running_sum_binned" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice").cast(Det.D6).as("v"), lit(1L).as("one"),
            datediff(col("o_orderdate"), lit("1990-01-01")).as("odnum"))
        Ranks.runningSumsBinned(o, "o_custkey", "odnum",
            Seq("o_orderdate", "o_orderkey"), Seq("v", "one"), bins = 64,
            hotThreshold = 100000L)
          .select(col("o_custkey"), col("o_orderkey"),
            col("run_v").cast("double").as("run_value"),
            col("run_one").cast("long").as("run_n"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS run_value,
        COUNT(*) OVER w AS run_n
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey"""))
  )

  /** Shared by q255/q258 (identical for both queries — the dedup-first
    * build produces the identical edge set by construction): the
    * single-table LSH-kNN edge build, the fixed min-id entry for the
    * 10 queries, their rounded cosines to every other corpus row
    * (`bsc`), both beam rounds through the one walk replay
    * ([[Round11.beamAdcP]]), top-3 of the last round. */
  private lazy val beamOracle: String =
    s"""WITH ${Round8.stitchedEdgesSql(d = 4, nPlanes = 6, nTables = 1)},
      qs AS MATERIALIZED (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 10),
      bsc AS MATERIALIZED (SELECT qs.qid, y.vec_id AS cid, ${Round6c.cosSql("x", "y")} AS cos
        FROM qs JOIN embeddings x ON qs.qid = x.vec_id
        JOIN embeddings y ON y.vec_id <> qs.qid
        CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      ent AS (SELECT MIN(vec_id) AS cid FROM embeddings),
      bent AS (SELECT qs.qid, ent.cid FROM qs CROSS JOIN ent),
      ${Round11.beamAdcP(rounds = 2, beam = 4, p = "b", edge = "e",
        entry = "bent", psc = "bsc")},
      r AS (SELECT qid, cid, cos, row_number() OVER (
          PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM bs2)
      SELECT qid, cid, cos, CAST(rnk AS BIGINT) AS rnk
      FROM r WHERE rnk <= 3 ORDER BY qid, rnk"""
}
