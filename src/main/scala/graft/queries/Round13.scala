package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.{IndexAdvisor, Similarity}
import graft.sources.{MemCatalog, Tables}
import graft.streaming.EventStreams
import graft.util.{Jobs, Slots}

/** Round-13 batch: the advisor/maintenance machinery extended to the
  * two families it never reached — the multi-vector (token-level)
  * index gets corpus-scaled advised dials, a doc-level takedown, and
  * an advised-dial ingest twin (the q343 probe-slope fix); the graph
  * family gets a geometry-drift response (edge-churn trigger →
  * warm NN-Descent repair vs cold rebuild, the q341 loop on the
  * q312 index); the training pipeline gets a streaming ingest stage;
  * and q344's hardcoded vector arm goes through the advisor.
  */
object Round13 {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  // ---- multi-vector advised dials (the q305 recipe on the token
  // index): oracle fragments --------------------------------------------

  /** The q343/q334 doc-level takedown predicate (Lehmer mod-3 on the
    * DOC id — all four token rows of a tombstoned doc go cold). */
  private[queries] val MvTombPred = Slots.Tomb.inSql("(cd)")
  private[queries] val MvSurvPred = Slots.Tomb.outSql("(tid // 4)")

  /** Shared token-level SQ8 code CTE — dial-free, one per oracle
    * (the q334 replay's code table), parameterized by token table and
    * output name so q353's drift worlds instantiate per-world code
    * tables (byte-identical defaults = the q346/q347 chain). */
  private[queries] def mvSq8Sql(tbl: String = "tok",
      out: String = "msq8"): String =
    s"""$out AS MATERIALIZED (SELECT tid,
        list_transform(e, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / am) AS BIGINT)) AS qc,
        CAST(round(am * 1000000000.0 / nn) AS BIGINT) AS rc
      FROM (SELECT tid, e,
          list_max(list_transform(e, y -> abs(CAST(y AS DOUBLE)))) AS am,
          sqrt(list_reduce(list_transform(e, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
            (a, b) -> a + b)) AS nn
        FROM $tbl))"""

  /** The token-level STANDING index at nlist = `nlistE` (prefix `g`):
    * centroids = the nlist lowest-tid tokens, corpus rank-1 cell
    * assignment, query-token probe ranks kept to nlist (serves every
    * nprobe dial — the ivfStandingSql convention lifted to tokens).
    * Requires `tok`/`qtok` in scope. */
  private[queries] def mvStandingSql(nlistE: String, g: String): String =
    s"""${g}cent AS MATERIALIZED (SELECT tid AS centroid_id, e AS centroid
        FROM (SELECT tid, e, row_number() OVER (ORDER BY tid) AS rn
          FROM tok) WHERE rn <= ($nlistE)),
      ${g}ca AS MATERIALIZED (SELECT tid, centroid_id FROM (SELECT tid, centroid_id,
          row_number() OVER (PARTITION BY tid ORDER BY d DESC, centroid_id) AS r
        FROM (SELECT t.tid, c.centroid_id,
            round(SUM(CAST(t.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
          FROM tok t, ${g}cent c, (SELECT unnest(range(1, 65)) AS i) i
          GROUP BY 1, 2)) WHERE r = 1),
      ${g}qa AS MATERIALIZED (SELECT tid, centroid_id, r FROM (SELECT tid, centroid_id,
          row_number() OVER (PARTITION BY tid ORDER BY d DESC, centroid_id) AS r
        FROM (SELECT t.tid, c.centroid_id,
            round(SUM(CAST(t.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
          FROM qtok t, ${g}cent c, (SELECT unnest(range(1, 65)) AS i) i
          GROUP BY 1, 2)) WHERE r <= ($nlistE))"""

  /** One PLAID serve (prefix `p`) over standing prefix `g` at nprobe =
    * `npE`, pool `m`: candidate docs from the co-probed cell join
    * (optionally restricted by `candPred` on the CORPUS token alias
    * `c` — the doc-level takedown lands here, BEFORE any scoring),
    * full-SQ8 integer maxsim ranks candidates, m-bounded pool, exact
    * maxsim rerank via `ms`. Emits `<p>annr` (qd, cd). */
  private[queries] def mvServeAnnrSql(g: String, npE: String, m: Int,
      p: String, candPred: String = ""): String = {
    val extra = if (candPred.isEmpty) "" else s" AND $candPred"
    s"""${p}cd AS MATERIALIZED (SELECT DISTINCT q.doc AS qd, c.tid // 4 AS cd
        FROM ${g}qa JOIN qtok q ON ${g}qa.tid = q.tid
        JOIN ${g}ca ON ${g}qa.centroid_id = ${g}ca.centroid_id
        JOIN tok c ON ${g}ca.tid = c.tid
        WHERE ${g}qa.r <= ($npE) AND q.doc <> c.tid // 4$extra),
      ${p}capx AS MATERIALIZED (SELECT x.qd, x.cd, q.tid AS qt,
          MAX(CAST(list_sum(list_transform(range(1, 65), i -> qs.qc[i] * cs.qc[i])) AS BIGINT)
            * cs.rc) AS amx
        FROM ${p}cd x JOIN qtok q ON q.doc = x.qd JOIN tok c ON c.doc = x.cd
        JOIN msq8 qs ON q.tid = qs.tid JOIN msq8 cs ON c.tid = cs.tid
        GROUP BY 1, 2, 3),
      ${p}mds AS (SELECT qd, cd, CAST(SUM(amx) AS BIGINT) AS ascore
        FROM ${p}capx GROUP BY 1, 2),
      ${p}pool AS (SELECT qd, cd FROM (SELECT qd, cd,
          row_number() OVER (PARTITION BY qd ORDER BY ascore DESC, cd) AS pr
        FROM ${p}mds) WHERE pr <= $m),
      ${p}annr AS (SELECT qd, cd FROM (SELECT pl.qd, pl.cd,
          row_number() OVER (PARTITION BY pl.qd ORDER BY ms.score DESC, pl.cd) AS rnk
        FROM ${p}pool pl JOIN ms ON pl.qd = ms.qd AND pl.cd = ms.cd)
      WHERE rnk <= 5)"""
  }

  /** Per-query-doc recall tail block of `annr` vs truth `exr` (qd/cd
    * columns — the taggedTailSql shape on doc ids). `selE`/`dialE` are
    * SQL EXPRESSIONS (pass quoted literals for constants) so q346 can
    * stamp the SQL-computed dial string into the output. */
  private[queries] def mvTailSql(selE: String, dialE: String, exr: String,
      annr: String): String =
    s"""SELECT $selE AS sel, $dialE AS dial, q.qd,
        CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
        CAST(COALESCE(h.h, 0) AS DOUBLE) / 5.0 AS recall
      FROM (SELECT DISTINCT qd FROM $exr) q LEFT JOIN (
        SELECT $exr.qd, COUNT(*) AS h FROM $exr
        JOIN $annr ON $exr.qd = $annr.qd AND $exr.cd = $annr.cd
        GROUP BY 1) h ON q.qd = h.qd"""

  /** Tagged per-query-doc recall rows of `ann` vs truth `exact` on
    * (qd, cd) — [[Round11]].taggedRecall lifted to doc ids. */
  private[queries] def mvTaggedRecall(sel: String, dial: String, exact: DataFrame,
      ann: DataFrame): DataFrame = {
    val hits = exact.select("qd", "cd")
      .join(ann.select("qd", "cd"), Seq("qd", "cd"))
      .groupBy("qd").agg(count(lit(1)).as("h"))
    exact.select("qd").distinct()
      .join(hits, Seq("qd"), "left")
      .select(lit(sel).as("sel"), lit(dial).as("dial"), col("qd"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        (coalesce(col("h"), lit(0L)).cast("double") / lit(5.0)).as("recall"))
  }

  /** Exact maxsim top-5 per query doc (qd, cd) from the shared
    * maxsim_ex artifact, optionally over surviving candidate docs only
    * (the takedown truth — filter BEFORE the rank). */
  private[queries] def mvExactTop5(s: SparkSession, dir: String,
      keepDocs: Option[DataFrame] = None): DataFrame = {
    val ms0 = Round11b.maxsimExact(s, dir)
    val ms = keepDocs.foldLeft(ms0) { (d, kset) =>
      d.join(kset.select("cd"), Seq("cd"), "left_semi") }
    Similarity.topKByMaxsim(ms, 5).select("qd", "cd")
  }

  // ---- q348: the q343 ingest chain with the token-index dials as SQL
  // expressions (nlist, nprobe) — the advised-dial twin --------------------

  /** The q343 slot-split token CTEs (standing `stok`, probe `ptok`). */
  private[queries] val mvIngestTokSql: String =
    s"""stok AS MATERIALIZED (SELECT vec_id // 4 AS doc, vec_id AS tid, embedding AS e
        FROM embeddings WHERE ${Round12.MvCorpusPred}),
      ptok AS MATERIALIZED (SELECT vec_id // 4 AS doc, vec_id AS tid, embedding AS e
        FROM embeddings WHERE ${Round12.MvProbePred})"""

  /** The q343 standing-index + probe-scoring replay (Round12's
    * mvIngestSql) with the token-cell dials as SQL EXPRESSIONS
    * (`nlistE`/`npE`, scalar subqueries allowed — the q310/ivfPqSqlE
    * recipe), m the pool, minScore the alert gate. Requires
    * [[mvIngestTokSql]] in scope. Emits `al` (da, db, score); the
    * (16, 4) literal point replays q343's chain value-for-value. */
  private[queries] def mvIngestChainSql(nlistE: String, npE: String, m: Int,
      minScore: String): String =
    s"""mvcent AS MATERIALIZED (SELECT tid AS centroid_id, e AS centroid
        FROM (SELECT tid, e, row_number() OVER (ORDER BY tid) AS rn
          FROM stok) WHERE rn <= ($nlistE)),
      mvca AS MATERIALIZED (SELECT tid, centroid_id FROM (SELECT tid, centroid_id,
          row_number() OVER (PARTITION BY tid ORDER BY d DESC, centroid_id) AS r
        FROM (SELECT s.tid, c.centroid_id,
            round(SUM(CAST(s.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
          FROM stok s, mvcent c, (SELECT unnest(range(1, 65)) AS i) i
          GROUP BY 1, 2)) WHERE r = 1),
      mvqa AS MATERIALIZED (SELECT tid, centroid_id FROM (SELECT tid, centroid_id,
          row_number() OVER (PARTITION BY tid ORDER BY d DESC, centroid_id) AS r
        FROM (SELECT p.tid, c.centroid_id,
            round(SUM(CAST(p.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
          FROM ptok p, mvcent c, (SELECT unnest(range(1, 65)) AS i) i
          GROUP BY 1, 2)) WHERE r <= ($npE)),
      mvsq8 AS MATERIALIZED (SELECT tid,
          list_transform(e, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / am) AS BIGINT)) AS qc,
          CAST(round(am * 1000000000.0 / nn) AS BIGINT) AS rc
        FROM (SELECT tid, e,
            list_max(list_transform(e, y -> abs(CAST(y AS DOUBLE)))) AS am,
            sqrt(list_reduce(list_transform(e, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
              (a, b) -> a + b)) AS nn
          FROM stok)),
      mvpsq8 AS MATERIALIZED (SELECT tid,
          list_transform(e, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / am) AS BIGINT)) AS qc
        FROM (SELECT tid, e,
            list_max(list_transform(e, y -> abs(CAST(y AS DOUBLE)))) AS am
          FROM ptok)),
      mvcd AS MATERIALIZED (SELECT DISTINCT p.doc AS qd, s.doc AS cd
        FROM mvqa JOIN ptok p ON mvqa.tid = p.tid
        JOIN mvca ON mvqa.centroid_id = mvca.centroid_id
        JOIN stok s ON mvca.tid = s.tid),
      mvapx AS MATERIALIZED (SELECT x.qd, x.cd, q.tid AS qt,
          MAX(CAST(list_sum(list_transform(range(1, 65), i -> qs.qc[i] * cs.qc[i])) AS BIGINT)
            * cs.rc) AS amx
        FROM mvcd x JOIN ptok q ON q.doc = x.qd JOIN stok c ON c.doc = x.cd
        JOIN mvpsq8 qs ON q.tid = qs.tid JOIN mvsq8 cs ON c.tid = cs.tid
        GROUP BY 1, 2, 3),
      mvpool AS (SELECT qd, cd FROM (SELECT qd, cd,
          row_number() OVER (PARTITION BY qd ORDER BY ascore DESC, cd) AS pr
        FROM (SELECT qd, cd, CAST(SUM(amx) AS BIGINT) AS ascore
          FROM mvapx GROUP BY 1, 2)) WHERE pr <= $m),
      mvex0 AS MATERIALIZED (SELECT pl.qd, pl.cd, q.tid AS qt, c.tid AS ct,
          CAST(round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.e[i.i] AS DOUBLE))
            / (sqrt(ANY_VALUE(list_sum(list_transform(q.e, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
             * sqrt(ANY_VALUE(list_sum(list_transform(c.e, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))))
            * 1000000) AS BIGINT) AS mc
        FROM mvpool pl JOIN ptok q ON q.doc = pl.qd JOIN stok c ON c.doc = pl.cd,
          (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2, 3, 4),
      al AS (SELECT qd AS da, cd AS db, score FROM (
          SELECT qd, cd, CAST(SUM(mx2) AS BIGINT) AS score FROM (
            SELECT qd, cd, qt, MAX(mc) AS mx2 FROM mvex0 GROUP BY 1, 2, 3)
          GROUP BY 1, 2)
        WHERE score >= ($minScore))"""

  /** The advised token-cell dial pair as SQL CTEs `mvnl`/`mvnp` —
    * exact replay of [[IndexAdvisor.adviseTokenIndex]]: nlist = pow2
    * nearest sqrt(distinct standing tokens), nprobe = the measured
    * (np0/nl0 = $measNp/16) ratio rescaled and clamped to nlist. The
    * `src` CTE/table supplies the standing token rows (column tid). */
  private[queries] def mvDialsSql(src: String, measNp: Int): String =
    s"""mvst AS (SELECT COUNT(DISTINCT e) AS nu FROM $src),
      mvp2 AS (SELECT CAST(power(2, x.x) AS BIGINT) AS p
        FROM (SELECT unnest(range(0, 40)) AS x) x),
      mvnl AS (SELECT CASE WHEN l / lower < (lower * 2) / l
                           THEN lower ELSE lower * 2 END AS nlist FROM
        (SELECT GREATEST(1.0, sqrt(CAST(nu AS DOUBLE))) AS l,
           (SELECT MAX(p) FROM mvp2 WHERE p <= CAST(FLOOR(
              GREATEST(1.0, sqrt(CAST(nu AS DOUBLE)))) AS BIGINT)) AS lower
         FROM mvst)),
      mvnp AS (SELECT LEAST((SELECT nlist FROM mvnl), GREATEST(1,
        ($measNp * (SELECT nlist FROM mvnl)) // 16)) AS np)"""

  // ---- q349: graph-family drift response --------------------------------

  /** The two deterministic drift worlds (the q341 'inject' convention
    * on the GRAPH index): `gwi` — every vector coordinate-REVERSED, an
    * ISOMETRY (all pairwise dot products exactly preserved — the
    * model-rotation stand-in, q341's remb); `gwt` — the second half of
    * every vector ZEROED, non-isometric (a model change that collapses
    * half the space; dim stays 64 so every 64-dim generator applies
    * unchanged). */
  private[queries] val graphWorldsSql: String =
    """gwi AS MATERIALIZED (SELECT vec_id, list_reverse(embedding) AS embedding
        FROM embeddings),
      gwt AS MATERIALIZED (SELECT vec_id, list_transform(range(1, 65),
          i -> CASE WHEN i <= 32 THEN embedding[i] ELSE CAST(0.0 AS FLOAT) END)
          AS embedding
        FROM embeddings)"""

  /** Rounded cosine of every standing edge (u, v) against vector table
    * `tbl` — the drift trigger's bounded scan (|edges|·64 work, never
    * corpus²). Emits `out` (u, v, cos). */
  private def edgeCosSql(edges: String, tbl: String, out: String): String =
    s"""$out AS MATERIALIZED (SELECT $edges.u, $edges.v, ${Round6c.cosSql("x", "y")} AS cos
      FROM $edges JOIN $tbl x ON $edges.u = x.vec_id
      JOIN $tbl y ON $edges.v = y.vec_id
      CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2)"""

  /** Brute-force pairs + exact top-5 of a drift world (prefix `w`):
    * `<w>ex0` (qid, cid, cos) and `<w>exr` (top-5). */
  private def worldExactSql(w: String, tbl: String): String =
    s"""${w}ex0 AS MATERIALIZED (SELECT q.vec_id AS qid, c.vec_id AS cid,
        ${Round6c.cosSql("q", "c")} AS cos
      FROM $tbl q, $tbl c, (SELECT unnest(range(1, 65)) AS i) i
      WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id GROUP BY 1, 2),
      ${w}exr AS MATERIALIZED (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM ${w}ex0) WHERE rnk <= 5)"""

  /** Centroid-seeded walk entries in a drift world (the q302/q312
    * convention re-derived from the world's own first-16 vectors).
    * Emits `<w>bent` (qid, cid). */
  private def worldEntrySql(w: String, tbl: String): String =
    s"""${w}cent AS MATERIALIZED (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM $tbl WHERE vec_id < 16),
      ${w}qa0 AS MATERIALIZED (SELECT q.vec_id AS id, c.centroid_id,
          round(SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM $tbl q, ${w}cent c, (SELECT unnest(range(1, 65)) AS i) i
        WHERE q.vec_id < 50 GROUP BY 1, 2),
      ${w}bent AS (SELECT id AS qid, centroid_id AS cid FROM (
          SELECT id, centroid_id,
            row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
          FROM ${w}qa0) WHERE r <= 2)"""

  /** One DiskANN serve in drift world `w` over edge CTE `edge` (prefix
    * `p`): the q312 ADC-ranked walk (beam 24 / rounds 4) + visited-pool
    * exact rerank against the world's own cosines. Emits `<p>annr`. */
  private def worldServeSql(w: String, edge: String, p: String): String =
    s"""${Round11.beamAdcP(rounds = Round9.BeamRounds, beam = Round9.BeamWidth,
        p = p, edge = edge, entry = s"${w}bent", psc = s"${w}psc")},
      ${Round11.poolSql(p, Round9.BeamRounds, s"${p}pool")},
      ${p}annr AS (SELECT qid, cid FROM (SELECT pl.qid, pl.cid,
          row_number() OVER (PARTITION BY pl.qid ORDER BY e.cos DESC, pl.cid) AS rnk
        FROM ${p}pool pl JOIN ${w}ex0 e ON pl.qid = e.qid AND pl.cid = e.cid)
      WHERE rnk <= 5)"""

  /** The standing graph (old world) + both drift worlds + churn stats +
    * all serve chains — shared by the sweep and the q349 oracle. Emits
    * stats CTEs mvi/mvt/nE and annr CTEs ki/ts/tr/tb. */
  private def graphDriftCtes: String =
    s"""${Round8.stitchedEdgesSql(d = 4, nPlanes = 6, nTables = 4, out = "e0")},
      ${Round9.nnDescentSql(rounds = Round9.NnRounds, d = Round9.NnDegree,
        src = "e0", out = "e")},
      $graphWorldsSql,
      ${edgeCosSql("e", "embeddings", "eco")},
      ${edgeCosSql("e", "gwi", "eci")},
      ${edgeCosSql("e", "gwt", "ect")},
      mvi AS (SELECT COUNT(*) AS moved FROM eco JOIN eci
        ON eco.u = eci.u AND eco.v = eci.v AND eco.cos <> eci.cos),
      mvt AS (SELECT COUNT(*) AS moved FROM eco JOIN ect
        ON eco.u = ect.u AND eco.v = ect.v AND eco.cos <> ect.cos),
      ne AS (SELECT COUNT(*) AS ne FROM e),
      ${Round9.pqAdcSql(nSub = 16, nCodes = 16, tbl = "gwi", p = "wi")},
      ${worldExactSql("wi", "gwi")},
      ${worldEntrySql("wi", "gwi")},
      ${worldServeSql("wi", "e", "ki")},
      ${Round9.pqAdcSql(nSub = 16, nCodes = 16, tbl = "gwt", p = "wt")},
      ${worldExactSql("wt", "gwt")},
      ${worldEntrySql("wt", "gwt")},
      ${worldServeSql("wt", "e", "ts")},
      ${Round9.nnDescentSql(rounds = Round9.NnRounds, d = Round9.NnDegree,
        src = "e", out = "er", p = "rp", tbl = "gwt")},
      ${worldServeSql("wt", "er", "tr")},
      ${Round8.stitchedEdgesSql(d = 4, nPlanes = 6, nTables = 4, out = "b0",
        tbl = "gwt", p = "rb")},
      ${Round9.nnDescentSql(rounds = Round9.NnRounds, d = Round9.NnDegree,
        src = "b0", out = "eb", p = "rb", tbl = "gwt")},
      ${worldServeSql("wt", "eb", "tb")}"""

  // ---- q351: the hybrid serve's vector arm through the advisor ----------

  /** Exact top-20 vector ranks (rv) for the 20 hybrid query docs —
    * q344's truth arm. Requires ex0. */
  private[queries] val hybVxSql: String =
    """vx AS MATERIALIZED (SELECT qid, cid, row_number() OVER (
        PARTITION BY qid ORDER BY cos DESC, cid) AS rv
      FROM ex0 WHERE qid < 20)"""

  /** The SQ8 vector arm at (np, m): candidate scan over the standing
    * index (queries = the 20 hybrid docs), m-bounded pool, exact
    * rerank → top-20 ranks. Requires sq8StandingSql("") + ex0. Emits
    * `<p>rv`. */
  private def sq8Rv20Sql(np: String, m: Int, p: String): String =
    s"""${p}cand AS MATERIALIZED (SELECT qa.qid, ca.cid,
        CAST(list_sum(list_transform(range(1, 65), i -> q.qc[i] * c.qc[i])) AS BIGINT)
          * c.rc AS akey
      FROM qa JOIN ca ON qa.centroid_id = ca.centroid_id
        AND qa.qid <> ca.cid
      JOIN sq8 q ON qa.qid = q.id JOIN sq8 c ON ca.cid = c.id
      WHERE qa.r <= ($np) AND qa.qid < 20),
      ${p}pool AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY akey DESC, cid) AS pr
        FROM ${p}cand) WHERE pr <= $m),
      ${p}rv AS MATERIALIZED (SELECT qid, cid, rv FROM (SELECT pl.qid, pl.cid,
          row_number() OVER (PARTITION BY pl.qid ORDER BY e.cos DESC, pl.cid) AS rv
        FROM ${p}pool pl JOIN ex0 e ON pl.qid = e.qid AND pl.cid = e.cid)
      WHERE rv <= 20)"""

  /** The IVFPQ vector arm's top-20 ranks from an ivfPqSqlE `<w>rsc`
    * pool-rerank CTE, hybrid query docs only. Emits `<p>rv`. */
  private def pqRv20Sql(w: String, p: String): String =
    s"""${p}rv AS MATERIALIZED (SELECT qid, cid, rv FROM (SELECT qid, cid,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rv
      FROM ${w}rsc WHERE qid < 20) WHERE rv <= 20)"""

  /** recall@20 of an rv CTE against vx (the arm measurement). */
  private def rec20Sql(rv: String): String =
    s"""SELECT CAST((SELECT COUNT(*) FROM vx JOIN $rv
        ON vx.qid = $rv.qid AND vx.cid = $rv.cid) AS DOUBLE)
      / (20.0 * (SELECT nq FROM nq20)) AS rec"""

  private val HybMcE =
    "GREATEST(100, (SELECT COUNT(*) FROM embeddings) * 3 // 20)"

  /** q351's serving-memory window — q328's 60 kB budget applied to the
    * hybrid node's vector arm: raw vectors excluded at every fixture
    * scale, SQ8 resident at nu=500 (36 kB) and evicted by its own
    * bytes at nu=2000 (144 kB), IVFPQ always resident. */
  private val HybMemBudget = 60000L

  // ---- q350: the training pipeline's INGEST loop -------------------------

  /** q350's arrival split (the repo's Lehmer doc-slot convention):
    * slot ≠ 0 docs are the BASE corpus (the pipeline's standing state
    * is trained and packed on them); slot 0 docs arrive as the
    * stream. */
  private[queries] val PipeBasePred = Slots.Probe.outSql("doc_id")
  private[queries] val PipeStreamPred = Slots.Probe.inSql("doc_id")

  /** Bigram hashed features of a doc frame (doc_id, lang, text) — the
    * q327 feature fn verbatim (same wordHm, same bucket fold), shared
    * by the frozen-model build and the per-batch scorer. */
  private[graft] def pipeFeats(d: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
    val tks = d.select(col("doc_id"), col("lang"),
        posexplode(split(norm, " ")))
      .select(col("doc_id"), col("lang"), col("pos"), col("col").as("w1"))
    val wnd = Window.partitionBy("doc_id").orderBy("pos")
    tks.withColumn("w2", lead("w1", 1).over(wnd))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("lang"),
        (((Round11b.wordHm(col("w1")) % 65521L) * 65521L +
          Round11b.wordHm(col("w2")) % 65521L) % Round11b.DsirBuckets)
          .as("f"))
  }

  /** Per-feature counts of a feature frame — the DSIR model's one
    * corpus aggregate (total + target-language occurrences per hashed
    * bucket), shared by the frozen-model build and q352's retrains. */
  private[queries] def dsirFcnt(feats: DataFrame): DataFrame =
    feats.groupBy("f").agg(
      count(lit(1)).as("rcnt"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"))

  /** Per-feature DSIR weights (f, dlf) from a count frame — the q327
    * fixed-point log-ratio, Laplace +1. */
  private[queries] def dsirWtOf(fcnt: DataFrame): DataFrame =
    graft.operators.FixedPoint.lnFxCols(graft.operators.FixedPoint.lnFxCols(
        fcnt, "tc + 1", "lct"), "rcnt + 1", "lcr")
      .select(col("f"), (col("lct") - col("lcr")).as("dlf"))

  /** The 1-row DSIR corpus constant kk from a count frame. */
  private[queries] def dsirKkOf(fcnt: DataFrame): DataFrame =
    graft.operators.FixedPoint.lnFxCols(graft.operators.FixedPoint.lnFxCols(
        fcnt.agg(sum("tc").as("ntl"), sum("rcnt").as("nrl")),
        s"ntl + ${Round11b.DsirBuckets}", "lt"),
        s"nrl + ${Round11b.DsirBuckets}", "lr")
      .select((col("lt") - col("lr")).as("kk"))

  /** Row-local DSIR scoring of a feature frame against a weight table:
    * (doc_id, w_fx) over docs with >= 1 KNOWN feature — features the
    * model never saw carry no evidence and drop out of the inner join
    * (the q350 documented rule). The weight table is 4096-bounded, so
    * the join broadcasts. */
  private[graft] def dsirScore(feats: DataFrame, wt: DataFrame,
      kk: Long): DataFrame =
    feats.join(broadcast(wt), Seq("f"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_feats"),
        sum("dlf").as("sfx"))
      .select(col("doc_id"),
        (col("sfx") - col("n_feats") * lit(kk)).as("w_fx"))

  /** Top-quarter selection (doc_id, w_fx) of a training-doc frame under
    * a scored frame — q327's rule: unscored docs enter at w_fx = 0,
    * rank (w_fx DESC, doc_id), keep rn <= n/4 (skew-robust binned
    * ranks). */
  private[queries] def dsirTopQuarter(allIds: DataFrame,
      scored: DataFrame): DataFrame = {
    val alld = allIds.select("doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("w_fx"), lit(0L)).as("w_fx"), lit(0).as("g"))
    val nd = broadcast(alld.agg(count(lit(1)).as("nd"))
      .withColumn("one", lit(1)))
    graft.operators.Ranks.rankedBinned(alld, "g", "-w_fx",
        Seq(col("w_fx").desc, col("doc_id")), bins = 32,
        hotThreshold = 1L)
      .withColumn("one", lit(1)).join(nd, Seq("one"))
      .filter(col("rn") <= expr("nd div 4"))
      .select(col("doc_id"), col("w_fx"))
  }

  /** Whitespace token count + guarded Lehmer hash of a doc frame —
    * the q336 accounting columns. */
  private[graft] def pipeTokHsh(d: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
    d.select(col("doc_id"), col("lang"),
      size(split(norm, " ")).cast("long").as("tok"),
      (Slots.hash(Round11b.guardedId(col("doc_id")))
        % lit(1000003L)).as("hsh"))
  }

  /** The q331 mix + q332 pack algebra over a (doc_id, lang, tok, hsh)
    * frame, offsets shifted by `offBase` — q336's layout stage with
    * the append origin as a parameter (offBase = 0 reproduces q336's
    * base form; the appended slice passes the base layout's next
    * sequence boundary). */
  private[graft] def pipeMixPack(td: DataFrame, offBase: Long): DataFrame =
    pipePack(pipeMix(td), offBase)

  /** The q331 half-share mix stage alone (doc_id, lang, tok, hsh). */
  private[graft] def pipeMix(td: DataFrame): DataFrame = {
    val bud = broadcast(td
      .agg(sum("tok").as("tt"), countDistinct("lang").as("dd"))
      .select(expr("tt div (2 * dd)").as("bud"))
      .withColumn("one", lit(1)))
    graft.operators.Ranks.runningSumsBinned(td, "lang",
        "hsh", Seq("hsh", "doc_id"), Seq("tok"), bins = 32,
        hotThreshold = 1L)
      .withColumn("one", lit(1)).join(bud, Seq("one"))
      .filter(col("run_tok") - col("tok") < col("bud"))
      .select(col("doc_id"), col("lang"), col("tok"), col("hsh"))
  }

  /** The q332 pack stage alone: offset assignment in global okey order
    * from `offBase` — re-laying an already-mixed doc set re-runs
    * EXACTLY this (q354's tail compaction). */
  private[graft] def pipePack(mixed: DataFrame, offBase: Long): DataFrame = {
    val keyed = mixed.withColumn("okey",
      col("hsh") * lit(4294967296L) + col("doc_id"))
    graft.operators.Ranks.cumSums(keyed, "okey", Seq("tok"), bins = 64)
      .select(col("doc_id"), col("lang"), col("tok"), col("hsh"),
        (col("cum_tok") - col("tok") + lit(offBase)).as("off"))
      .withColumn("seq_first", expr("off div 2048"))
      .withColumn("seq_last", expr("(off + tok - 1) div 2048"))
      .withColumn("crosses",
        when(col("seq_first") =!= col("seq_last"), 1L).otherwise(0L))
  }

  /** The pipeline's FROZEN standing state (layered fixture artifacts,
    * each built once): the base-corpus DSIR scoring model — per-
    * feature weights `wt` (f, dlf) and the 1-row corpus constant `kk`
    * — the base-selected doc set `sel` (doc_id, w_fx — q327's
    * top-quarter rule over the base docs), and the base PACKED layout
    * `pack` (q336's algebra over the selected base docs). theta (the
    * frozen selection threshold) and seq_base (the next sequence
    * boundary after the base layout) are tiny scans of sel/pack. */
  private[queries] def pipeBaseState(s: SparkSession, dir: String):
      (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val base = docs.filter(
      Slots.Probe.out(col("doc_id")))
    // ONE shared per-feature count artifact feeds both the weight and
    // kk builds — the corpus tokenize + explode + aggregate is paid
    // once per cold fixture, not twice (round-13 verdict hygiene)
    val fcnt = graft.util.FixtureArtifact.parquet(s, dir,
      "documents.parquet", "pipe_base_fcnt")(dsirFcnt(pipeFeats(base)))
    val wt = graft.util.FixtureArtifact.parquet(s, dir,
      "documents.parquet", "pipe_base_wt")(dsirWtOf(fcnt))
    val kkA = graft.util.FixtureArtifact.parquet(s, dir,
      "documents.parquet", "pipe_base_kk")(dsirKkOf(fcnt))
    val sel = graft.util.FixtureArtifact.parquet(s, dir,
      "documents.parquet", "pipe_base_sel") {
      val kk = kkA.head().getLong(0)
      dsirTopQuarter(base, dsirScore(pipeFeats(base), wt, kk))
    }
    val pack = graft.util.FixtureArtifact.parquet(s, dir,
      "documents.parquet", "pipe_base_pack") {
      pipeMixPack(pipeTokHsh(
        base.join(sel.select("doc_id"), Seq("doc_id"), "left_semi")),
        offBase = 0L)
    }
    (wt, kkA, sel, pack)
  }

  /** Shared q346/q347 setup: the token view, the ADVISED token-index
    * dials (nlist = pow2(√nTok) via [[IndexAdvisor.adviseTokenIndex]]
    * from q334's measured (16, 2) point), and the standing cell/code
    * artifacts at the advised nlist (labels carry the dial — at
    * sf0.01 the 16-cell artifacts are byte-shared with q334's). */
  private[queries] def mvAdvisedSetup(s: SparkSession, dir: String):
      (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, Long, Long) = {
    graft.plans.NativeExpressions.register(s)
    val tok = Round11b.mvTok(s, dir)
    val (nlist, np) = IndexAdvisor.adviseTokenIndex(Round11b.mvNTok(s, dir),
      measuredNlist = 16L, measuredNprobe = 2L)
    val (cents, ca, codes, ctok) =
      Round11b.sq8TokenIndex(s, dir, tok, "maxsim", nlist)
    (tok, cents, ca, codes, ctok, nlist, np)
  }

  val defs: Map[String, QueryDef] = Map(

    // ---- multi-vector serving at ADVISED (corpus-scaled) dials ---------
    // The round-12 verdict's top gap: every single-vector family since
    // q294 sizes its cells as nlist = pow2(√nu), but the token-level
    // index (q334/q343) served at a hardcoded nlist=16 — the standing
    // candidate scan per probe token is ~nTok·np/nlist, so the fixed
    // nlist was the 3.61×/decade probe term. This row serves q334's
    // PLAID pipeline at the ADVISED token dials (adviseTokenIndex:
    // nlist = pow2(√nTok), np rescaled from q334's measured (16, 2)
    // point, clamped): nl16/np2 at sf0.01 (== q334's measured config —
    // the artifacts are byte-shared) and nl32/np4 at sf0.1. DuckDB dial
    // sweep (both SFs, BEFORE wiring): nl16np2 0.98/0.98, nl32np4
    // 1.0/0.96 — the advised ratio holds the recall bar while the
    // per-probe cell list HALVES per nlist doubling (the q343 slope
    // cure, measured in PROBES_r13). Dial stamped into the output row
    // (SQL-computed in the oracle — the q305/q310 recipe).
    "q346_llm_maxsim_advised" -> QueryDef(
      (s, dir) => {
        val (tok, cents, ca, codes, ctok, nlist, np) = mvAdvisedSetup(s, dir)
        val qtok = tok.filter(col("doc") < 10)
          .select(col("doc").as("qd"), col("tid").as("qt"), col("e").as("qe"))
        val corpusTok = tok.select(col("doc").as("cd"), col("tid").as("ct"),
          col("e").as("ce"))
        val ann = Similarity.maxsimPlaidTopK(qtok, corpusTok, ca, codes,
          cents, np = np.toInt, m = 10, k = 5, ctokCodes = Some(ctok))
        mvTaggedRecall("mv", s"nl${nlist}np$np", mvExactTop5(s, dir), ann)
          .orderBy("qd")
      },
      Some(s"""WITH ${Round11b.maxsimBaseSql},
      ${mvSq8Sql()},
      ${mvDialsSql("tok", measNp = 2)},
      ${mvStandingSql("(SELECT nlist FROM mvnl)", "g")},
      ${mvServeAnnrSql("g", "(SELECT np FROM mvnp)", m = 10, p = "a")}
      SELECT * FROM (${mvTailSql("'mv'",
        "'nl' || CAST((SELECT nlist FROM mvnl) AS VARCHAR) || " +
          "'np' || CAST((SELECT np FROM mvnp) AS VARCHAR)",
        "exr", "aannr")})
      ORDER BY qd""")),

    // ---- doc-level takedown on the token index --------------------------
    // q340 gave the single-vector scan index its takedown story; the
    // multi-vector index had none. A doc takedown must drop ALL of a
    // doc's token rows: the tombstone lands as ONE semi-join on the
    // candidate DOCS (before any scoring — cells, codes, and the
    // cold-storage tokens are untouched; deleted docs go cold). Takedown
    // set = the Lehmer mod-3 slot on the DOC id (~1/3 of docs); truth =
    // exact maxsim over the survivors (filter before rank, the q318
    // convention). DuckDB sweep (both SFs, BEFORE wiring): the survivor
    // cells thin mildly at this selectivity — naive (advised np) reads
    // 0.96/0.94, the 2×-over-probe recovery dial restores 0.98/0.98 —
    // the same recovery law as q340's, at token level. Both dials
    // served live at the advised nlist (q346's standing artifacts).
    "q347_llm_maxsim_takedown" -> QueryDef(
      (s, dir) => {
        val (tok, cents, ca, codes, ctok, nlist, np) = mvAdvisedSetup(s, dir)
        val qtok = tok.filter(col("doc") < 10)
          .select(col("doc").as("qd"), col("tid").as("qt"), col("e").as("qe"))
        val corpusTok = tok.select(col("doc").as("cd"), col("tid").as("ct"),
          col("e").as("ce"))
        val keepDocs = corpusTok.select("cd").distinct()
          .filter(Slots.Tomb.out(col("cd")))
        val exrt = mvExactTop5(s, dir, keepDocs = Some(keepDocs))
        def serve(npd: Long): DataFrame =
          Similarity.maxsimPlaidTopK(qtok, corpusTok, ca, codes, cents,
            np = npd.toInt, m = 10, k = 5, keepDocs = Some(keepDocs),
            ctokCodes = Some(ctok))
        mvTaggedRecall("mvtd", "naive", exrt, serve(np))
          .unionByName(mvTaggedRecall("mvtd", "probed", exrt,
            serve(math.min(nlist, 2L * np))))
          .orderBy("sel", "dial", "qd")
      },
      Some(s"""WITH ${Round11b.maxsimBaseSql},
      ${mvSq8Sql()},
      ${mvDialsSql("tok", measNp = 2)},
      ${mvStandingSql("(SELECT nlist FROM mvnl)", "g")},
      exrt AS MATERIALIZED (SELECT qd, cd FROM (SELECT qd, cd,
          row_number() OVER (PARTITION BY qd ORDER BY score DESC, cd) AS rnk
        FROM ms WHERE NOT ($MvTombPred)) WHERE rnk <= 5),
      ${mvServeAnnrSql("g", "(SELECT np FROM mvnp)", m = 10, p = "n",
        candPred = MvSurvPred.replace("tid", "c.tid"))},
      ${mvServeAnnrSql("g",
        "LEAST((SELECT nlist FROM mvnl), 2 * (SELECT np FROM mvnp))",
        m = 10, p = "p", candPred = MvSurvPred.replace("tid", "c.tid"))}
      SELECT * FROM (
        ${mvTailSql("'mvtd'", "'naive'", "exrt", "nannr")}
        UNION ALL
        ${mvTailSql("'mvtd'", "'probed'", "exrt", "pannr")})
      ORDER BY sel, dial, qd""")),

    // ---- multi-vector streaming ingest at ADVISED dials ------------------
    // q343's twin with the token-index dials advised instead of
    // hardcoded — the PROBES_r12 3.61×/decade residual was exactly the
    // standing cell-list scan at fixed nlist=16, and this row is the
    // cure measured: nlist = pow2(√ standing tokens), np rescaled from
    // q343's measured (16, 4) point → (16, 4) at sf0.01 (byte-shared
    // standing artifacts with q343, alert set identical) and (32, 8)
    // at sf0.1 (cells double, per-probe scan halves). DuckDB coverage
    // sweep (both SFs, BEFORE wiring): advised dials 1.000/0.980 at
    // the shipped 900000 threshold — the naive ratio np4 at nl32 reads
    // 0.86/0.92, the advised rescale is what holds the bar. Same
    // doc-atomic batch contract, idempotent MERGE, exact int64 scores.
    "q348_stream_maxsim_ingest_advised" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        graft.plans.NativeExpressions.register(s)
        val stok = emb.filter(Slots.Probe.out(expr("vec_id div 4")))
          .select(expr("vec_id div 4").as("cd"), col("vec_id").as("ct"),
            col("embedding").as("ce"))
        val nTok = Round6c.statsArtifact(s, dir, "embeddings.parquet",
          "stats_ntok_sving")(stok.agg(countDistinct(col("ce")))).getLong(0)
        val (nlist, np) = IndexAdvisor.adviseTokenIndex(nTok,
          measuredNlist = 16L, measuredNprobe = 4L)
        // the standing index q343 serves, at the advised nlist
        val (cents, ca, codes, ctokArt) = Round11b.sq8TokenIndex(s, dir,
          stok.select(col("cd").as("doc"), col("ct").as("tid"),
            col("ce").as("e")), "mving", nlist)
        MemCatalog.recreate(s, "maxsim_alerts_mvadv",
          "(da BIGINT, db BIGINT, score BIGINT)")
        val probe = EventStreams.fixtureStream(s, dir, "embeddings")
          .filter(Slots.Probe.in(expr("vec_id div 4")))
          .select(expr("vec_id div 4").as("qd"), col("vec_id").as("qt"),
            col("embedding").as("qe"))
        EventTime.withShufflePartitions(s, 8) {
          EventStreams.drain(probe) { (batch, _) =>
            EventStreams.insertNew(Similarity.maxsimSemDedupBatch(batch, stok,
                ca, codes, cents, np = np.toInt, m = 40, minScore = 900000L,
                ctokCodes = Some(ctokArt)).toDF("da", "db", "score"),
              "maxsim_alerts_mvadv", "da", "db")
          }
        }
        s.sql("""SELECT da, db, score FROM graftmem.maxsim_alerts_mvadv
          ORDER BY da, db""")
      },
      Some(s"""WITH $mvIngestTokSql,
      ${mvDialsSql("stok", measNp = 4)},
      ${mvIngestChainSql("(SELECT nlist FROM mvnl)", "(SELECT np FROM mvnp)",
        m = 40, minScore = "900000")}
      SELECT da, db, score FROM al ORDER BY da, db""")),

    // ---- drift response for the GRAPH family ----------------------------
    // q341 closed the monitoring→maintenance loop on the SCAN index; a
    // re-embedding also invalidates the q312 graph's edges AND its
    // resident PQ codes, and nothing decided repair vs rebuild. Two
    // deterministic drift scenarios through ONE decision rule
    // (IndexAdvisor.adviseGraphDrift), every stat exact BIGINT:
    //   - 'iso' (coordinate reversal — a norm- and DOT-PRODUCT-
    //     preserving isometry, the model-rotation case): the trigger is
    //     EDGE CHURN — standing edges whose rounded cosine changed in
    //     the new geometry, a bounded |E|·dim scan — and it reads
    //     exactly 0: the edges stay valid, the response is KEEP (codes
    //     re-encoded — a pure function of the new vectors — entries
    //     re-seeded, edges untouched). Swept recall of the kept-edge
    //     serve: 0.984/0.880 == q312's standing numbers, the isometry
    //     proof measured (and spec-pinned: warm NN-Descent refinement
    //     over the reversed world ≡ over the original, Round13Spec).
    //   - 'trunc' (second half of every vector zeroed — non-isometric,
    //     the space-collapse case): churn fires at 1.0. The response
    //     decision — warm NN-Descent REPAIR seeded from the stale
    //     edges vs cold REBUILD (LSH re-stitch + same refinement) —
    //     is measured live: swept stale 0.992/0.828 (the cost of not
    //     maintaining), repaired 1.0/0.940, rebuilt 1.0/0.928; repair
    //     matches-or-beats rebuild at both SFs (NN-Descent converges
    //     from any connected init), so the stitch is SKIPPABLE —
    //     adviseGraphDrift picks repair unless rebuild wins by > 0.02
    //     recall (10·(rbHits−rpHits) > nq, exact integers). Output:
    //     per-scenario churn stats, the decide row (1 = repair), and
    //     all four serve row-sets (kept / stale / repaired / rebuilt —
    //     the stale row is the honest contrast). Scale shape: churn is
    //     one |E|-bounded scan; repair skips the stitch; the walks are
    //     q312's corpus-size-independent serves; edges/codes/truths
    //     are fixture artifacts.
    "q349_llm_graph_drift_response" -> QueryDef(
      (s, dir) => Jobs.scope(s) { j =>
        import s.implicits._
        graft.plans.NativeExpressions.register(s)
        val emb = t(s, dir, "embeddings")
        // dedup-first (the graph family's replication rule — q258's
        // lshKnnEdgesDeduped lesson): the standing graph is built over
        // DISTINCT payloads (rep = min id). On the all-distinct test
        // fixtures this is exactly q312's build (same values, same
        // oracle); on a duplicated corpus an ID-level graph degenerates
        // to duplicate cliques whose edges preserve cosine under ANY
        // drift — the x10 probe caught the churn trigger reading 0 of
        // 180k self-dup edges — so the drift statistic is only
        // meaningful over the rep graph
        // One lineage hard-cut for the frames every downstream job
        // re-reads: the rep corpus subtree (a full-embeddings groupBy
        // shuffle) is referenced ~6× per live walk (codebook, per-round
        // norms, final rerank) and 4× by the churn scans — materialize
        // it (and the two derived worlds) ONCE per execution (guide
        // §2.4; the round-9 artifact rule, applied to the per-pass live
        // path).
        val corpus = Jobs.cut(emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
          .groupBy("ce").agg(min("cid").as("cid"))
          .select("cid", "ce"), "q349_corpus")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val e = Round9.refinedGraphArtifact(s, dir, corpus, "_reps",
          Round9.NnDegree)
        val nE = e.count()
        def truncOf(c: String) = expr(
          s"transform(sequence(1, 64), i -> IF(i <= 32, element_at($c, i), CAST(0.0 AS FLOAT)))")
        val iso = Jobs.cut(corpus.select(col("cid"),
          reverse(col("ce")).as("ce")), "q349_wiso")
        val isoQ = qs.select(col("qid"), reverse(col("qe")).as("qe"))
        val trunc = Jobs.cut(corpus.select(col("cid"),
          truncOf("ce").as("ce")), "q349_wtrunc")
        val truncQ = qs.select(col("qid"), truncOf("qe").as("qe"))
        // the drift trigger: rounded edge cosines, old vs new — a
        // bounded |E|·dim scan (never a rebuild)
        def edgeCos(vecs: DataFrame): DataFrame =
          e.join(vecs.select(col("cid").as("u"), col("ce").as("ue")), "u")
            .join(vecs.select(col("cid").as("v"), col("ce").as("ve")), "v")
            .select(col("u"), col("v"), Similarity.cos("ue", "ve").as("cos"))
        // old-edge cosines feed BOTH movedOf counts — cut once
        val oldC = Jobs.cut(edgeCos(corpus), "q349_oldc")
        def movedOf(w: DataFrame): Long = oldC
          .join(edgeCos(w).withColumnRenamed("cos", "ncos"), Seq("u", "v"))
          .filter(col("cos") =!= col("ncos")).count()
        // The two churn counts are independent jobs over tiny frames —
        // parts, so the second backfills the first's straggler tail
        val fMovedIso = j.part("q349_moved_iso")(movedOf(iso))
        val fMovedTrunc = j.part("q349_moved_trunc")(movedOf(trunc))
        // per-world serving state (codes/edges/truths = artifacts)
        def cents16(w: DataFrame) = broadcast(w.orderBy("cid").limit(16)
          .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
        // the two LIVE walks (the iso kept-edge serve and the trunc
        // DECIDED repaired serve) stay priced every bench pass; the
        // stale/rebuilt CONTRAST measurements are fixture artifacts
        // read warm (the q339 measurement-sharing shape)
        def walk(wq: DataFrame, w: DataFrame, edges: DataFrame,
            codes: DataFrame): DataFrame = {
          val entries = Similarity.centroidEntries(wq, cents16(w))
          Similarity.topKByCos(Similarity.beamPqVisited(wq, w, edges, codes,
              entries, beam = Round9.BeamWidth, rounds = Round9.BeamRounds,
              nSub = 16, nCodes = 16, dim = 64), 5)
            .select("qid", "cid")
        }
        val isoCodes = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "pqcodes_s16_c16_gwi_reps")(
          Similarity.pqCodes(iso, nSub = 16, nCodes = 16, dim = 64))
        val truncCodes = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "pqcodes_s16_c16_gwt_reps")(
          Similarity.pqCodes(trunc, nSub = 16, nCodes = 16, dim = 64))
        // iso truth over the rep corpus (identical values to q341's
        // reversed-world artifact on the all-distinct fixtures)
        val exIso = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "exact_top5_gwi_reps")(
          Similarity.cosineTopK(isoQ, iso, k = 5)
            .select(col("qid"), col("cid"), col("rnk")))
          .select("qid", "cid")
        val exTrunc = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "exact_top5_gwt_reps")(
          Similarity.cosineTopK(truncQ, trunc, k = 5)
            .select(col("qid"), col("cid"), col("rnk")))
          .select("qid", "cid")
        val repairedE = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", s"nnd_repair_gwt_d${Round9.NnDegree}_r${Round9.NnRounds}_reps",
          params = Map("d" -> Round9.NnDegree.toLong,
            "rounds" -> Round9.NnRounds.toLong))(
          Similarity.nnDescentEdges(e, trunc, d = Round9.NnDegree,
            rounds = Round9.NnRounds))
        val rebuiltE = Round9.refinedGraphArtifact(s, dir, trunc,
          "_gwt_reps", Round9.NnDegree)
        // the two LIVE walks are independent multi-job loops — parts
        // running concurrently with each other AND with the churn
        // counts: each walk's round tail leaves most cores idle, the
        // other jobs backfill. (Same-window A/B: pins-before-submit
        // serialized the walks behind the churn scans, +0.8 s.)
        val fKept = j.cut("q349_kept")(walk(isoQ, iso, e, isoCodes))
        val fRep = j.cut("q349_rep")(walk(truncQ, trunc, repairedE,
          truncCodes))
        val movedIso = fMovedIso.get
        val movedTrunc = fMovedTrunc.get
        // pin the scenario branches (the q320/q341 convention: a
        // regenerated fixture that flips a branch fails LOUDLY)
        require(2L * movedIso < nE,
          s"the isometric scenario must stay below the churn threshold " +
            s"($movedIso of $nE edges moved)")
        require(2L * movedTrunc >= nE,
          s"the non-isometric scenario must fire the churn threshold " +
            s"($movedTrunc of $nE edges moved)")
        val kept = fKept.get
        val repaired = fRep.get
        def warmWalk(edges: DataFrame, label: String): DataFrame =
          graft.util.FixtureArtifact.parquet(s, dir,
            "embeddings.parquet", s"q349_${label}_rv_b${Round9.BeamWidth}_r${Round9.BeamRounds}",
            params = Map("beam" -> Round9.BeamWidth.toLong,
              "rounds" -> Round9.BeamRounds.toLong, "k" -> 5L))(
            walk(truncQ, trunc, edges, truncCodes))
        val stale = warmWalk(e, "stale")
        val rebuilt = warmWalk(rebuiltE, "reb")
        // the repair-vs-rebuild decision from measured hits (1-row
        // scalars over the materialized serves — plan-choice class)
        val Jobs.Recall(nq, Seq(rpHits, rbHits)) =
          Jobs.recall("q349", exTrunc)(() => repaired, () => rebuilt)
        val decision = IndexAdvisor.adviseGraphDrift(movedTrunc, nE,
          rpHits, rbHits, nq)
        val stats = Seq(
          ("iso", "echurn", -1L, movedIso, movedIso.toDouble / nE),
          ("trunc", "echurn", -1L, movedTrunc, movedTrunc.toDouble / nE),
          ("trunc", "decide", -1L,
            if (decision == "repair") 1L else 2L,
            (rbHits - rpHits).toDouble / (5.0 * nq)))
          .toDF("sel", "dial", "qid", "n_hits", "recall")
        stats
          .unionByName(Round11.taggedRecall("iso", "kept", exIso, kept))
          .unionByName(Round11.taggedRecall("trunc", "stale", exTrunc, stale))
          .unionByName(Round11.taggedRecall("trunc", "repaired", exTrunc,
            repaired))
          .unionByName(Round11.taggedRecall("trunc", "rebuilt", exTrunc,
            rebuilt))
          .orderBy("sel", "dial", "qid")
      },
      Some(s"""WITH $graphDriftCtes,
      qn AS (SELECT COUNT(DISTINCT qid) AS nq FROM wtexr),
      rp AS (SELECT COUNT(*) AS h FROM wtexr JOIN trannr
        ON wtexr.qid = trannr.qid AND wtexr.cid = trannr.cid),
      rb AS (SELECT COUNT(*) AS h FROM wtexr JOIN tbannr
        ON wtexr.qid = tbannr.qid AND wtexr.cid = tbannr.cid)
      SELECT * FROM (
        SELECT 'iso' AS sel, 'echurn' AS dial, CAST(-1 AS BIGINT) AS qid,
          CAST((SELECT moved FROM mvi) AS BIGINT) AS n_hits,
          CAST((SELECT moved FROM mvi) AS DOUBLE) / (SELECT ne FROM ne) AS recall
        UNION ALL
        SELECT 'trunc', 'echurn', -1, (SELECT moved FROM mvt),
          CAST((SELECT moved FROM mvt) AS DOUBLE) / (SELECT ne FROM ne)
        UNION ALL
        SELECT 'trunc', 'decide', -1,
          CASE WHEN 10 * ((SELECT h FROM rb) - (SELECT h FROM rp))
                 <= (SELECT nq FROM qn) THEN 1 ELSE 2 END,
          CAST((SELECT h FROM rb) - (SELECT h FROM rp) AS DOUBLE)
            / (5.0 * (SELECT nq FROM qn))
        UNION ALL
        SELECT * FROM (${Round11.taggedTailSql("iso", "kept", "wiexr",
          "kiannr")})
        WHERE 2 * (SELECT moved FROM mvi) < (SELECT ne FROM ne)
        UNION ALL
        SELECT * FROM (${Round11.taggedTailSql("trunc", "stale", "wtexr",
          "tsannr")})
        WHERE 2 * (SELECT moved FROM mvt) >= (SELECT ne FROM ne)
        UNION ALL
        SELECT * FROM (${Round11.taggedTailSql("trunc", "repaired", "wtexr",
          "trannr")})
        WHERE 2 * (SELECT moved FROM mvt) >= (SELECT ne FROM ne)
        UNION ALL
        SELECT * FROM (${Round11.taggedTailSql("trunc", "rebuilt", "wtexr",
          "tbannr")})
        WHERE 2 * (SELECT moved FROM mvt) >= (SELECT ne FROM ne))
      ORDER BY sel, dial, qid""")),

    // ---- the training pipeline's INGEST loop -----------------------------
    // q336/q345 are batch-static; a real pipeline receives documents
    // continuously. The standing state is FROZEN base-corpus artifacts
    // (the slot≠0 docs): the DSIR scoring model (per-feature weights +
    // the kk constant — a tokenizer-style train-once-apply-many
    // artifact), the selection threshold theta = min w_fx of the base
    // top-quarter, and the base PACKED layout. Each streamed micro-
    // batch of slot-0 docs is scored AGAINST THE FROZEN MODEL (per-doc
    // row-local: bigram features joined to the weight table — features
    // the frozen model never saw carry no evidence and drop out of the
    // inner join, the documented rule), selected at w_fx > theta, and
    // MERGEd idempotently into the standing selection table — so the
    // accumulated selection is batch-split invariant (all scoring is
    // per-doc, the q343 contract). At stream end the increment is
    // mixed (the UNCHANGED q331 half-share algebra over the appended
    // slice — "update mix budgets" = the increment gets its own
    // budget) and packed APPEND-ONLY: offsets start at the base
    // layout's next sequence boundary (seq_base = ceil(baseTok/2048)·
    // 2048), so every existing row is byte-identical to the base
    // artifact — nothing is re-laid. The oracle is the pure BATCH
    // replay of the same semantics on the union fixture (the
    // q284/q223 discipline): the hash compare IS the stream ≡ batch
    // proof. Scale shape: the frozen model is a 4096-bounded
    // broadcast; per batch one feature explode + hash join; the
    // appended mix/pack touches only the increment.
    "q350_stream_pipeline_ingest" -> QueryDef(
      (s, dir) => {
        val (wt, kkA, sel, packBase) = pipeBaseState(s, dir)
        val kk = kkA.head().getLong(0)
        val theta = sel.agg(min("w_fx")).head().getLong(0)
        val baseTot = packBase.agg(coalesce(sum("tok"), lit(0L)))
          .head().getLong(0)
        val seqBase = (baseTot + 2047L) / 2048L * 2048L
        MemCatalog.recreate(s, "pipe_ingest_sel",
          "(doc_id BIGINT, lang STRING, tok BIGINT, hsh BIGINT)")
        val probe = EventStreams.fixtureStream(s, dir, "documents")
          .filter(expr(PipeStreamPred))
        EventTime.withShufflePartitions(s, 8) {
          EventStreams.drain(probe) { (batch, _) =>
            val b = batch.select(col("doc_id"), col("lang"), col("text"))
            val scored = dsirScore(pipeFeats(b), wt, kk)
              .filter(col("w_fx") > lit(theta))
            EventStreams.insertNew(pipeTokHsh(b)
                .join(scored.select("doc_id"), Seq("doc_id"), "left_semi"),
              "pipe_ingest_sel", "doc_id")
          }
        }
        val app = s.sql(
          "SELECT doc_id, lang, tok, hsh FROM graftmem.pipe_ingest_sel")
        require(app.count() > 0,
          "no streamed doc beat the frozen threshold — the appended " +
            "slice is empty on this fixture (q320 convention: fail " +
            "loudly instead of serving a base-only layout)")
        val packApp = pipeMixPack(app, offBase = seqBase)
        packBase.withColumn("part", lit("base"))
          .unionByName(packApp.withColumn("part", lit("appended")))
          .select(col("part"), col("doc_id"), col("lang"), col("tok"),
            col("hsh"), col("off"), col("seq_first"), col("seq_last"),
            col("crosses"))
          .orderBy("off", "doc_id")
      },
      Some(pipeIngestOracle)),

    // ---- the hybrid serve's vector arm through the advisor ---------------
    // q344's vector arm was hardcoded (SQ8 np10/m24); a production
    // hybrid node picks its arm under the SAME budgets as every other
    // serving row. This row routes the arm through
    // adviseCalibratedServing at the q328 operating window (60 kB
    // serving memory — raw vectors excluded at every fixture scale —
    // candidate budget nu·9/10, target 0.8): the two measured rows are
    // the arms' recall@20 vs the exact top-20 (swept + served 1.000 at
    // BOTH SFs for both arms — pool containment is complete at these
    // dials, so the decision rides the budget axes exactly as q328's):
    // at nu=500 both fit and SQ8 wins on candidate cost (250 vs 312);
    // at nu=2000 SQ8 is EVICTED BY ITS OWN BYTES (144 kB > 60 kB) and
    // the arm flips to IVFPQ at RE-DERIVED dials (nlist 32, nprobe 20,
    // corpus pool 300 — swept fused 1.0 BEFORE wiring). The decided
    // arm feeds the UNCHANGED q344 RRF fusion against the exact fused
    // truth; fused recall swept/served 0.94 (sq8 arm, sf0.01) and 1.0
    // (re-derived ivfpq arm, sf0.1). Measured arm rank tables are
    // fixture artifacts (the q339 measurement-sharing shape; q344
    // still prices the live SQ8 serve every pass); the sq8 branch is
    // require-pinned to the measured config (q322), both branches
    // SQL-gated. Decision replay exact BIGINT (q328's oracle shape).
    "q351_llm_hybrid_arm_advised" -> QueryDef(
      (s, dir) => {
        val nQ = 20
        val emb = t(s, dir, "embeddings")
        graft.plans.NativeExpressions.register(s)
        val lrank = Round12.bm25Lrank20(s, dir)
        val qs20 = emb.filter(col("vec_id") < nQ)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val (n, nu) = Round6c.nnuFull(s, dir)
        val dupRate = if (n == 0L) 0.0 else 1.0 - nu.toDouble / n
        require(nu * 256L > HybMemBudget,
          s"raw vectors fit the $HybMemBudget B budget at nu=$nu — " +
            "the full-precision arm would need measuring")
        val vx = Round6c.exactTop20Hyb(s, dir)
        val nq = vx.select("qid").distinct().count()
        def rec20(rv: DataFrame): Double =
          vx.select("qid", "cid").join(rv.select("qid", "cid"),
            Seq("qid", "cid")).count().toDouble / (20.0 * nq)
        // the SQ8 arm at the q328-measured ratio (np8) with the k=20
        // pool — the two-stage serving contract (pool 24, exact rank)
        def sq8Arm(): DataFrame = graft.util.FixtureArtifact.parquet(s,
          dir, "embeddings.parquet", "hyb_sq8rv_np8_m24",
          params = Map("nlist" -> 16L, "nprobe" -> 8L, "m" -> 24L,
            "k" -> 20L)) {
          val pool = Similarity.ivfSq8TopK(qs20, corpus, k = 20,
            nlist = 16, nprobe = 8, m = 24,
            artifact = Some((dir, "embeddings.parquet", "ivfsq8")))
          Similarity.topKByCos(
              Similarity.exactCos(pool.select("qid", "cid"), qs20, corpus),
              20, rankCol = "rv")
            .select("qid", "cid", "rv")
        }
        def pqArm(nlist: Int, nprobe: Int, rerank: Int,
            art: Option[(String, String, String)]): DataFrame =
          Similarity.ivfPqTopK(qs20, corpus, k = 20, nlist = nlist,
              nprobe = nprobe, nSub = 16, nCodes = 16, dim = 64,
              rerank = rerank, artifact = art)
            .select(col("qid"), col("cid"), col("rnk").as("rv"))
        val mc = math.max(100L, 3L * n / 20L).toInt
        val pqMeasured = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "hyb_pqrv_nl16_np10",
          params = Map("nlist" -> 16L, "nprobe" -> 10L, "nSub" -> 16L,
            "nCodes" -> 16L, "rerank" -> mc.toLong, "k" -> 20L))(
          pqArm(16, 10, mc, Some((dir, "embeddings.parquet", "ivfpq"))))
        val msq = rec20(sq8Arm())
        val mpq = rec20(pqMeasured)
        val adv = IndexAdvisor.adviseCalibratedServing(n, dim = 64,
          dupRate, targetRecall = 0.8, candidateBudget = nu * 9L / 10L,
          memoryBudgetBytes = HybMemBudget,
          measured = Seq(
            IndexAdvisor.RecallRow("ivf-sq8",
              Map("nlist" -> 16L, "nprobe" -> 8L, "m" -> 24L,
                "k" -> 20L), msq),
            IndexAdvisor.RecallRow("ivfpq",
              Map("nlist" -> 16L, "nprobe" -> 10L, "nSub" -> 16L,
                "nCodes" -> 16L, "k" -> 20L), mpq)))
        val arm = adv.family match {
          case "ivf-sq8" =>
            require(adv.params("nlist") == 16L &&
              adv.params("nprobe") == 8L && adv.params("m") == 24L,
              s"re-derived sq8 dials ${adv.params} left the measured point")
            sq8Arm()
          case "ivfpq" => pqArm(adv.params("nlist").toInt,
            adv.params("nprobe").toInt, adv.params("rerank").toInt,
            // the ivfPqIndex piece labels encode (nlist, nSub, nCodes),
            // so the re-derived dials key their own standing artifacts
            art = Some((dir, "embeddings.parquet", "ivfpq")))
          case other => sys.error(
            s"hybrid-arm advisor picked unreachable family $other")
        }
        def fuse(v: DataFrame): DataFrame = {
          val l20 = lrank.filter(col("rl") <= 20)
          val v20 = v.filter(col("rv") <= 20)
          val fr = l20.join(v20, Seq("qid", "cid"), "full_outer")
            .select(col("qid"), col("cid"),
              (when(col("rl").isNotNull,
                lit(1.0) / (lit(60.0) + col("rl").cast("double")))
                .otherwise(lit(0.0)) +
               when(col("rv").isNotNull,
                lit(1.0) / (lit(60.0) + col("rv").cast("double")))
                .otherwise(lit(0.0))).as("rrf"))
          val wf = Window.partitionBy("qid")
            .orderBy(col("rrf").desc, col("cid"))
          fr.withColumn("rnk", row_number().over(wf))
            .filter(col("rnk") <= 5).select("qid", "cid")
        }
        Round11.taggedRecall("hyb", adv.family, fuse(vx), fuse(arm))
          .orderBy("qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      $hybVxSql,
      nq20 AS (SELECT COUNT(DISTINCT qid) AS nq FROM vx),
      ${Round11b.sq8StandingSql("")},
      -- measurement 1: the SQ8 arm at nlist16/np8/m24, recall@20
      ${sq8Rv20Sql("8", 24, "s8")},
      msq AS (${rec20Sql("s8rv")}),
      -- measurement 2: the IVFPQ arm at nlist16/np10/corpus pool
      ${Round9.ivfPqSqlE("16", "10", HybMcE, nSub = 16, nCodes = 16,
        prefix = "p1")},
      ${pqRv20Sql("p1", "q1")},
      mpq AS (${rec20Sql("q1rv")}),
      -- the decision: exact BIGINT replay of adviseCalibratedServing
      st AS (SELECT COUNT(*) AS n, COUNT(DISTINCT embedding) AS nu FROM embeddings),
      p2t AS (SELECT CAST(power(2, x.x) AS BIGINT) AS p
        FROM (SELECT unnest(range(0, 40)) AS x) x),
      nl AS (SELECT CASE WHEN l / lower < (lower * 2) / l
                         THEN lower ELSE lower * 2 END AS nlist FROM
        (SELECT GREATEST(1.0, sqrt(CAST(nu AS DOUBLE))) AS l,
           (SELECT MAX(p) FROM p2t WHERE p <= CAST(FLOOR(
              GREATEST(1.0, sqrt(CAST(nu AS DOUBLE)))) AS BIGINT)) AS lower
         FROM st)),
      nps AS (SELECT GREATEST(1, (SELECT nlist FROM nl) // 2) AS nprobe),
      np2 AS (SELECT GREATEST(1, (10 * (SELECT nlist FROM nl)) // 16) AS nprobe),
      bud AS (SELECT ((SELECT nu FROM st) * 9) // 10 AS b),
      rr AS (SELECT LEAST((SELECT b FROM bud),
          GREATEST(100, 3 * (SELECT nu FROM st) // 20)) AS rerank),
      cfg AS (
        SELECT 'ivf-sq8' AS fam,
            ((SELECT nu FROM st) * (SELECT nprobe FROM nps)) // (SELECT nlist FROM nl) AS cand,
            (SELECT nu FROM st) * 72 AS bytes,
            (SELECT rec FROM msq) AS rec
        UNION ALL
        SELECT 'ivfpq' AS fam,
            ((SELECT nu FROM st) * (SELECT nprobe FROM np2)) // (SELECT nlist FROM nl) AS cand,
            (SELECT nu FROM st) * 16 AS bytes,
            (SELECT rec FROM mpq) AS rec),
      adm AS (SELECT * FROM cfg
        WHERE cand <= (SELECT b FROM bud) AND bytes <= $HybMemBudget),
      chosen AS (SELECT COALESCE(
        (SELECT fam FROM adm WHERE rec >= 0.8
         ORDER BY cand, rec DESC, fam LIMIT 1),
        (SELECT fam FROM adm ORDER BY rec DESC, cand, fam LIMIT 1)) AS fam),
      -- arm branch B: IVFPQ at the re-derived dials
      ${Round9.ivfPqSqlE("(SELECT nlist FROM nl)", "(SELECT nprobe FROM np2)",
        "(SELECT rerank FROM rr)", nSub = 16, nCodes = 16, prefix = "p2")},
      ${pqRv20Sql("p2", "q2")},
      varm AS (
        SELECT qid, cid, rv FROM s8rv
          WHERE (SELECT fam FROM chosen) = 'ivf-sq8'
        UNION ALL
        SELECT qid, cid, rv FROM q2rv
          WHERE (SELECT fam FROM chosen) = 'ivfpq'),
      ${Round12.bm25DocSql(20)},
      ${Round12.rrfFuseSql("vx", "t")},
      ${Round12.rrfFuseSql("varm", "s")}
      SELECT 'hyb' AS sel, (SELECT fam FROM chosen) AS dial, q.qid,
        CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
        CAST(COALESCE(h.h, 0) AS DOUBLE) / 5.0 AS recall
      FROM (SELECT DISTINCT qid FROM tfused) q LEFT JOIN (
        SELECT tfused.qid, COUNT(*) AS h FROM tfused
        JOIN sfused ON tfused.qid = sfused.qid AND tfused.cid = sfused.cid
        GROUP BY 1) h ON q.qid = h.qid
      ORDER BY q.qid"""))
  )

  /** q350's oracle — the pure batch replay of the ingest semantics on
    * the union fixture (frozen base model → streamed-doc scoring →
    * frozen-threshold selection → increment mix → append-only pack).
    * The DSIR chain fragments live in [[Round14]] (feature, model,
    * score, selection/theta generators), shared with q352's drift
    * worlds. */
  private lazy val pipeIngestOracle: String = {
    def tdCtes(docs: String, selCte: String, p: String) =
      s"""${p}td AS (SELECT d.doc_id, d.lang,
          CAST(len(${Round14.DsirSplitTl}) AS BIGINT) AS tok,
          CAST(${Slots.sql("d.doc_id", 1000003)} AS BIGINT) AS hsh
        FROM $docs d JOIN $selCte USING (doc_id)),
      ${p}bud AS (SELECT CAST(SUM(tok) AS BIGINT) // (2 * COUNT(DISTINCT lang)) AS bud
        FROM ${p}td),
      ${p}rn AS (SELECT *, CAST(SUM(tok) OVER (PARTITION BY lang
          ORDER BY hsh, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        FROM ${p}td),
      ${p}mixed AS (SELECT doc_id, lang, tok, hsh FROM ${p}rn
        WHERE run - tok < (SELECT bud FROM ${p}bud)),
      ${p}rn2 AS (SELECT *, CAST(SUM(tok) OVER (ORDER BY hsh, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM ${p}mixed)"""
    s"""WITH bdocs AS MATERIALIZED (SELECT doc_id, lang, text
      FROM documents WHERE $PipeBasePred),
      ${Round14.dsirFeatSql("bdocs", "b")},
      ${Round14.dsirModelSql("bfh", "mb")},
      ${Round14.dsirScoreSql("bfh", "mb", "bsc")},
      ${Round14.dsirSelThetaSql("bdocs", "bsc", "bt")},
      bsel AS (SELECT doc_id, w_fx FROM btsel),
      btheta AS (SELECT theta FROM bttheta),
      ${tdCtes("bdocs", "bsel", "b")},
      bpack AS MATERIALIZED (SELECT doc_id, lang, tok, hsh, run - tok AS off,
          (run - tok) // 2048 AS seq_first, (run - 1) // 2048 AS seq_last,
          CAST(CASE WHEN (run - tok) // 2048 <> (run - 1) // 2048
            THEN 1 ELSE 0 END AS BIGINT) AS crosses
        FROM brn2),
      sbase AS (SELECT ((CAST(COALESCE((SELECT SUM(tok) FROM bmixed), 0) AS BIGINT)
          + 2047) // 2048) * 2048 AS sb),
      pdocs AS MATERIALIZED (SELECT doc_id, lang, text
        FROM documents WHERE $PipeStreamPred),
      ${Round14.dsirFeatSql("pdocs", "p")},
      ${Round14.dsirScoreSql("pfh", "mb", "psc")},
      psel AS MATERIALIZED (SELECT doc_id FROM psc
        WHERE w_fx > (SELECT theta FROM btheta)),
      ${tdCtes("pdocs", "psel", "p")},
      ppack AS (SELECT doc_id, lang, tok, hsh,
          run - tok + (SELECT sb FROM sbase) AS off,
          (run - tok + (SELECT sb FROM sbase)) // 2048 AS seq_first,
          (run - 1 + (SELECT sb FROM sbase)) // 2048 AS seq_last,
          CAST(CASE WHEN (run - tok + (SELECT sb FROM sbase)) // 2048
            <> (run - 1 + (SELECT sb FROM sbase)) // 2048
            THEN 1 ELSE 0 END AS BIGINT) AS crosses
        FROM prn2)
      SELECT * FROM (
        SELECT 'base' AS part, doc_id, lang, tok, hsh, off,
          seq_first, seq_last, crosses FROM bpack
        UNION ALL
        SELECT 'appended', doc_id, lang, tok, hsh, off,
          seq_first, seq_last, crosses FROM ppack)
      ORDER BY off, doc_id"""
  }
}
