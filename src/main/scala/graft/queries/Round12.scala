package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.{IndexAdvisor, Similarity, TopK}
import graft.sources.{MemCatalog, Tables}
import graft.streaming.EventStreams
import graft.util.{Jobs, Slots}

/** Round-12 batch: the two round-11 axes composed — attribute-FILTERED
  * serving on the COMPRESSED rungs (SQ8/IVFPQ) with a unified filtered
  * advisor that budgets selectivity × candidates × resident bytes in
  * one decision; takedowns + drift-triggered re-training for the
  * scan-based standing indexes; and the training pipeline's token
  * accounting moved from whitespace words to ENCODED (BPE) tokens.
  */
object Round12 {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  // ---- oracle fragments -----------------------------------------------

  /** One FILTERED SQ8 serve at (nprobe, m) against Round11b's
    * `sp`-prefixed standing CTEs: candidates = probed cells ∩
    * fset_<tag> (the filter lands in the candidate stage, BEFORE the
    * pool — the ivfTopKProbeWhere convention on the compressed rung),
    * all-BIGINT rank (intdot·rc), m-bounded pool, exact rerank from
    * ex0. Emits `<p>annr`. */
  private[queries] def sq8CandWhereSql(tag: String, np: String, p: String,
      sp: String): String =
    s"""${p}sadc AS MATERIALIZED (SELECT ${sp}qa.qid, ${sp}ca.cid,
        CAST(list_sum(list_transform(range(1, 65), i -> q.qc[i] * c.qc[i])) AS BIGINT)
          * c.rc AS akey
      FROM ${sp}qa JOIN ${sp}ca ON ${sp}qa.centroid_id = ${sp}ca.centroid_id
        AND ${sp}qa.qid <> ${sp}ca.cid
      JOIN fset_$tag f ON ${sp}ca.cid = f.cid
      JOIN ${sp}sq8 q ON ${sp}qa.qid = q.id JOIN ${sp}sq8 c ON ${sp}ca.cid = c.id
      WHERE ${sp}qa.r <= ($np))"""

  /** Pool + exact-rerank tail over a `<src>sadc` candidate CTE. */
  private[queries] def sq8PoolAnnrSql(m: String, p: String,
      src: String): String =
    s"""${p}spool AS (SELECT qid, cid FROM (SELECT qid, cid,
        row_number() OVER (PARTITION BY qid ORDER BY akey DESC, cid) AS pr
      FROM ${src}sadc) WHERE pr <= ($m)),
      ${p}annr AS (SELECT qid, cid FROM (SELECT pl.qid, pl.cid,
          row_number() OVER (PARTITION BY pl.qid ORDER BY e.cos DESC, pl.cid) AS rnk
        FROM ${p}spool pl JOIN ex0 e ON pl.qid = e.qid AND pl.cid = e.cid)
      WHERE rnk <= 5)"""

  /** Filtered pool + exact-rerank tail over a Round9 ivfPqSqlE `adc`
    * CTE (prefix `w`): candidates ∩ fset_<tag> ranked (dist ASC, cid),
    * pool `m`, exact rerank via ex0. Emits `<p>annr`. */
  private[queries] def pqFPoolAnnrSql(tag: String, m: String, p: String,
      w: String): String =
    s"""${p}fpool AS (SELECT qid, cid FROM (SELECT a.qid, a.cid,
        row_number() OVER (PARTITION BY a.qid ORDER BY a.dist, a.cid) AS rn
      FROM ${w}adc a JOIN fset_$tag f ON a.cid = f.cid) WHERE rn <= ($m)),
      ${p}annr AS (SELECT qid, cid FROM (SELECT pl.qid, pl.cid,
          row_number() OVER (PARTITION BY pl.qid ORDER BY e.cos DESC, pl.cid) AS rnk
        FROM ${p}fpool pl JOIN ex0 e ON pl.qid = e.qid AND pl.cid = e.cid)
      WHERE rnk <= 5)"""

  // ---- q340/q341: takedowns + drift-retrain on the scan index --------

  /** Cell-occupancy PSI of the survivors vs the full corpus over the
    * STANDING 16-cell assignment (`zca`), fixed-point micro-nats (the
    * q335 recipe: Laplace +1 per cell, common-denominator BIGINT
    * factors). Emits `psi_<tag>` (na, nb, term_sum). Domain: the
    * product term (x−y)·(lnFx x − lnFx y) is bounded by
    * 2n²·ln(n·10⁶)·10⁶ (16-cell histogram, same analysis as q335's),
    * which stays inside int64 only for n ≤ 5·10⁵ vectors — q341
    * raises loudly past that (shard the PSI by stratum beyond; the
    * FixedPoint guard bounds only the ln ARGUMENT, not this product). */
  private def cellPsiSql(tag: String): String =
    s"""h0_$tag AS (SELECT centroid_id AS cell, COUNT(*) + 1 AS aa
        FROM zca GROUP BY 1),
      h1_$tag AS (SELECT zca.centroid_id AS cell, COUNT(*) + 1 AS bb
        FROM zca JOIN fset_$tag f ON zca.cid = f.cid GROUP BY 1),
      hc_$tag AS (SELECT c.cell,
          COALESCE(h0.aa, 1) AS aa, COALESCE(h1.bb, 1) AS bb
        FROM (SELECT centroid_id AS cell FROM zcent) c
        LEFT JOIN h0_$tag h0 ON c.cell = h0.cell
        LEFT JOIN h1_$tag h1 ON c.cell = h1.cell),
      ht_$tag AS (SELECT CAST(SUM(aa) AS BIGINT) AS na,
          CAST(SUM(bb) AS BIGINT) AS nb FROM hc_$tag),
      hxy_$tag AS (SELECT cell, aa, bb,
          aa * (SELECT nb FROM ht_$tag) AS x,
          bb * (SELECT na FROM ht_$tag) AS y FROM hc_$tag),
      hnv_$tag AS (SELECT x AS n FROM hxy_$tag UNION SELECT y FROM hxy_$tag),
      ${graft.operators.FixedPoint.lnFxSql(s"hnv_$tag", s"hln_$tag")},
      psi_$tag AS (SELECT (SELECT na FROM ht_$tag) AS na,
          (SELECT nb FROM ht_$tag) AS nb,
          CAST(SUM((h.x - h.y) * (lx.ln_fx - ly.ln_fx)) AS BIGINT) AS term_sum
        FROM hxy_$tag h JOIN hln_$tag lx ON h.x = lx.n
        JOIN hln_$tag ly ON h.y = ly.n)"""

  /** The RE-EMBEDDED world's CTEs (the q335 'inject' convention
    * applied to the index-maintenance loop: a deterministic
    * model-version change — every vector coordinate-REVERSED, a
    * norm-preserving stand-in for re-embedding): reversed corpus and
    * query views, brute-force exact pairs/top-5 over the new vectors,
    * rounded-dot assignment of the new vectors to the STANDING (old)
    * centroids (what a stale index does to re-embedded data — the PSI
    * input and the stale serve), row-local SQ8 re-encode, quantized
    * coords. Emits rex0/rexr, rca/rqa, rsq8, rcq. */
  private def rembWorldSql: String =
    s"""remb AS MATERIALIZED (SELECT vec_id, list_reverse(embedding) AS e
        FROM embeddings),
      rex0 AS MATERIALIZED (SELECT q.vec_id AS qid, c.vec_id AS cid,
          round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.e[i.i] AS DOUBLE)) /
            (sqrt(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(q.e[i.i] AS DOUBLE))) *
             sqrt(SUM(CAST(c.e[i.i] AS DOUBLE) * CAST(c.e[i.i] AS DOUBLE)))), 6) AS cos
        FROM remb q, remb c, (SELECT unnest(range(1, 65)) AS i) i
        WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id GROUP BY 1, 2),
      rexr AS MATERIALIZED (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM rex0) WHERE rnk <= 5),
      rc0 AS MATERIALIZED (${Round6c.dotScoreSql("r.vec_id AS id", "r.e", "remb r", "zcent")}),
      rca AS MATERIALIZED (${Round6c.dotRankSql("id AS cid, centroid_id", "id", "rc0", "1")}),
      rqa AS MATERIALIZED (${Round6c.dotRankSql("id AS qid, centroid_id, r", "id",
        "rc0 WHERE id < 50", "16")}),
      rsq8 AS MATERIALIZED (SELECT vec_id AS id,
          list_transform(e, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / am) AS BIGINT)) AS qc,
          CAST(round(am * 1000000000.0 / nn) AS BIGINT) AS rc
        FROM (SELECT vec_id, e,
            list_max(list_transform(e, y -> abs(CAST(y AS DOUBLE)))) AS am,
            sqrt(list_reduce(list_transform(e, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
              (a, b) -> a + b)) AS nn
          FROM remb)),
      rcq AS MATERIALIZED (${Round6c.quantSql("vec_id AS cid", "e", "remb")})"""

  /** Cell-occupancy PSI of the re-embedded corpus (assignment `rca`)
    * vs the standing corpus (`zca`) over the standing cells. */
  private def rembPsiSql: String =
    s"""rh1 AS (SELECT centroid_id AS cell, COUNT(*) + 1 AS bb
        FROM rca GROUP BY 1),
      rh0 AS (SELECT centroid_id AS cell, COUNT(*) + 1 AS aa
        FROM zca GROUP BY 1),
      rhc AS (SELECT c.cell, COALESCE(rh0.aa, 1) AS aa, COALESCE(rh1.bb, 1) AS bb
        FROM (SELECT centroid_id AS cell FROM zcent) c
        LEFT JOIN rh0 ON c.cell = rh0.cell
        LEFT JOIN rh1 ON c.cell = rh1.cell),
      rht AS (SELECT CAST(SUM(aa) AS BIGINT) AS na,
          CAST(SUM(bb) AS BIGINT) AS nb FROM rhc),
      rhxy AS (SELECT cell, aa, bb,
          aa * (SELECT nb FROM rht) AS x,
          bb * (SELECT na FROM rht) AS y FROM rhc),
      rhnv AS (SELECT x AS n FROM rhxy UNION SELECT y FROM rhxy),
      ${graft.operators.FixedPoint.lnFxSql("rhnv", "rhln")},
      psi_remb AS (SELECT (SELECT na FROM rht) AS na,
          (SELECT nb FROM rht) AS nb,
          CAST(SUM((h.x - h.y) * (lx.ln_fx - ly.ln_fx)) AS BIGINT) AS term_sum
        FROM rhxy h JOIN rhln lx ON h.x = lx.n
        JOIN rhln ly ON h.y = ly.n)"""

  /** Warm-start Lloyd retrain over the RE-EMBEDDED corpus, seeded from
    * the standing (old-space) centroid coords: one q225 round, then
    * corpus/query re-assignment to the refined centroids. */
  private def rembRetrainSql: String =
    s"""rctq AS (SELECT cid AS ccid, i, x AS c FROM cq WHERE cid < 16),
      rld AS (${Round6c.l2ScoreSql(Seq("rcq.cid", "c.ccid"), "rcq.x", "c.c",
        "rcq JOIN rctq c USING (i)")}),
      rla AS (${Round6c.l2RankSql("cid, ccid", "cid", "ccid", "rld", "1")}),
      rc1 AS (${Round6c.lloydSql("rla.ccid", "rcq.i", "rcq.x",
        "rcq JOIN rla ON rcq.cid = rla.cid")}),
      rrd AS (${Round6c.l2ScoreSql(Seq("rcq.cid", "c.ccid"), "rcq.x", "c.c",
        "rcq JOIN rc1 c USING (i)")}),
      rra1 AS (${Round6c.l2RankSql("cid, ccid", "cid", "ccid", "rrd", "1")}),
      rqd AS (${Round6c.l2ScoreSql(Seq("rcq.cid AS qid", "c.ccid"), "rcq.x", "c.c",
        "rcq JOIN rc1 c USING (i) WHERE rcq.cid < 50")}),
      rqa1 AS (${Round6c.l2RankSql("qid, ccid, rn AS r", "qid", "ccid", "rqd", "16")})"""

  /** One SQ8 serve in the re-embedded world at (np, m): `asgQ`/`asgC`
    * are the (qid, cell, r)/(cid, cell) assignment CTE names (stale =
    * rqa/rca on `centroid_id`; retrained = rqa1/rra1 on `ccid`), codes
    * = the row-local re-encode `rsq8`, exact rerank via rex0 (the new
    * world's cosines). Emits `<p>annr`. */
  private def rembServeSql(asgQ: String, asgC: String, cellCol: String,
      np: String, m: String, p: String): String =
    s"""${p}sadc AS MATERIALIZED (SELECT $asgQ.qid, $asgC.cid,
        CAST(list_sum(list_transform(range(1, 65), i -> q.qc[i] * c.qc[i])) AS BIGINT)
          * c.rc AS akey
      FROM $asgQ JOIN $asgC ON $asgQ.$cellCol = $asgC.$cellCol
        AND $asgQ.qid <> $asgC.cid
      JOIN rsq8 q ON $asgQ.qid = q.id JOIN rsq8 c ON $asgC.cid = c.id
      WHERE $asgQ.r <= ($np)),
      ${p}spool AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY akey DESC, cid) AS pr
        FROM ${p}sadc) WHERE pr <= ($m)),
      ${p}annr AS (SELECT qid, cid FROM (SELECT pl.qid, pl.cid,
          row_number() OVER (PARTITION BY pl.qid ORDER BY e.cos DESC, pl.cid) AS rnk
        FROM ${p}spool pl JOIN rex0 e ON pl.qid = e.qid AND pl.cid = e.cid)
      WHERE rnk <= 5)"""

  // ---- q343: multi-vector (late-interaction) streaming ingest ---------

  /** q343's slot split on the DOC id (doc = vec_id div 4): slot 0
    * docs are the probe stream, the rest the standing corpus. */
  private[queries] val MvProbePred = Slots.Probe.inSql("(vec_id // 4)")
  private[queries] val MvCorpusPred = Slots.Probe.outSql("(vec_id // 4)")

  /** The q343 standing-index + probe-scoring replay: token-level cells
    * and SQ8 codes over the STANDING (slot≠0) tokens, probe-token
    * 2-probe assignment, candidate docs via the cell join, integer
    * SQ8 maxsim over ALL candidate token pairs (the q334 lesson),
    * pool `m` per probe doc, exact micro-cos BIGINT maxsim of the
    * pool, alerts at score >= `minScore`. Emits `al` (da, db, score). */
  private def mvIngestSql(np: Int, m: Int, minScore: String): String =
    s"""stok AS MATERIALIZED (SELECT vec_id // 4 AS doc, vec_id AS tid, embedding AS e
        FROM embeddings WHERE $MvCorpusPred),
      ptok AS MATERIALIZED (SELECT vec_id // 4 AS doc, vec_id AS tid, embedding AS e
        FROM embeddings WHERE $MvProbePred),
      mvcent AS MATERIALIZED (SELECT tid AS centroid_id, e AS centroid
        FROM (SELECT * FROM stok ORDER BY tid LIMIT 16)),
      mvca AS MATERIALIZED (${Round6c.dotRankSql("tid, centroid_id", "tid",
        Round6c.dotScoreSql("s.tid", "s.e", "stok s", "mvcent"), "1")}),
      mvqa AS MATERIALIZED (${Round6c.dotRankSql("tid, centroid_id", "tid",
        Round6c.dotScoreSql("p.tid", "p.e", "ptok p", "mvcent"), np.toString)}),
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

  // ---- q344: hybrid (lexical + vector) retrieval served -----------------

  /** q226's BM25 recipe with the QUERY = each query document's own
    * distinct terms (the more-like-this hybrid-retrieval shape):
    * rational idf, k1=1.2, b=0.75, sorted-term fold, round 6dp,
    * doc_id ties, self excluded. Emits `lrank` (qid, cid, rl). */
  private[queries] def bm25DocSql(nQ: Int): String =
    s"""tok2 AS MATERIALIZED (SELECT doc_id,
        unnest(string_split(text, ' ')) AS term FROM documents),
      tk2 AS MATERIALIZED (SELECT doc_id, term FROM tok2 WHERE length(term) > 0),
      tf2 AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS f FROM tk2 GROUP BY 1, 2),
      dl2 AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM tk2 GROUP BY 1),
      st2 AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS t_tokens FROM dl2),
      qt2 AS MATERIALIZED (SELECT DISTINCT doc_id AS qid, term FROM tk2
        WHERE doc_id < $nQ),
      dfv2 AS (SELECT term, COUNT(*) AS df FROM tf2
        WHERE term IN (SELECT term FROM qt2) GROUP BY 1),
      ts2 AS MATERIALIZED (SELECT qt2.qid, tf2.doc_id AS cid, tf2.term,
          ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
          (CAST(df AS DOUBLE) + 0.5)) * (CAST(f AS DOUBLE) * 2.2) /
          (CAST(f AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) *
          CAST(n_docs AS DOUBLE) / CAST(t_tokens AS DOUBLE))) AS tscore
        FROM tf2 JOIN qt2 ON tf2.term = qt2.term
        JOIN dfv2 ON tf2.term = dfv2.term
        JOIN dl2 ON tf2.doc_id = dl2.doc_id, st2
        WHERE tf2.doc_id <> qt2.qid),
      bm AS MATERIALIZED (SELECT qid, cid,
          round(list_reduce(list(tscore ORDER BY term), (a, x) -> a + x), 6)
            AS score
        FROM ts2 GROUP BY 1, 2),
      lrank AS MATERIALIZED (SELECT qid, cid, row_number() OVER (
          PARTITION BY qid ORDER BY score DESC, cid) AS rl FROM bm)"""

  /** RRF fusion of `lrank` (rl) with a vector ranking CTE `vsrc`
    * (qid, cid, rv): 1/(60+r) over each arm's top-20 (the q230 dials),
    * full-outer on the pair key, top-5 by (rrf DESC, cid). Emits
    * `<p>fused`. */
  private[queries] def rrfFuseSql(vsrc: String, p: String): String =
    s"""${p}fr AS (SELECT COALESCE(l.qid, v.qid) AS qid,
        COALESCE(l.cid, v.cid) AS cid,
        (CASE WHEN l.rl IS NOT NULL THEN 1.0 / (60.0 + CAST(l.rl AS DOUBLE)) ELSE 0.0 END) +
        (CASE WHEN v.rv IS NOT NULL THEN 1.0 / (60.0 + CAST(v.rv AS DOUBLE)) ELSE 0.0 END) AS rrf
      FROM (SELECT qid, cid, rl FROM lrank WHERE rl <= 20) l
      FULL OUTER JOIN (SELECT qid, cid, rv FROM $vsrc WHERE rv <= 20) v
        ON l.qid = v.qid AND l.cid = v.cid),
      ${p}fused AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) AS rnk
        FROM ${p}fr) WHERE rnk <= 5)"""

  /** The corpus-scaled IVFPQ rerank dial (the q308 convention) as a
    * SQL expression. */
  private val McE =
    "GREATEST(100, (SELECT COUNT(*) FROM embeddings) * 3 // 20)"

  private def mfE(tag: String): String =
    s"GREATEST(50, 3 * (SELECT COUNT(*) FROM fset_$tag) // 20)"

  /** SQ8 serve from CALLER-SUPPLIED assignments (the retrained-index
    * serve): `qa` (qid, ccid, r — probe ranks), `ca` (cid, ccid),
    * codes per side, pool `m`, exact rounded-cosine rerank against the
    * supplied raw vectors. The q326 serve with the quantizer swapped. */
  private def sq8ServeFromAssign(qa: DataFrame, ca: DataFrame,
      codes: DataFrame, qs: DataFrame, corpus: DataFrame, np: Int,
      m: Int): DataFrame = {
    graft.plans.NativeExpressions.register(qs.sparkSession)
    val qcodes = broadcast(Similarity.sq8Codes(qs, "qid", "qe")
      .select(col("id").as("qid"), col("qc").as("qq")))
    val cand = qa.filter(col("r") <= np).join(ca, Seq("ccid"))
      .filter(col("qid") =!= col("cid"))
      .join(qcodes, Seq("qid"))
      .join(codes.select(col("id").as("cid"), col("qc"), col("rc")), "cid")
      .select(col("qid"), col("cid"), Similarity.sq8Key("qq", "qc").as("akey"))
    val pool = TopK.perGroup(cand, Seq("qid"), Seq(col("akey").desc, col("cid")),
      m, rankCol = "pr").select("qid", "cid")
    Similarity.topKByCos(Similarity.exactCos(pool, qs, corpus), 5)
      .select("qid", "cid")
  }

  /** Warm-start Lloyd retrain (q341): ONE q225-kernel round over
    * `corpus`, seeded from `seedCoords` (ccid, i, c — the STANDING
    * centroids' quantized coords, so no re-seeding scan), then corpus
    * re-assignment to the refined centroids by exact int64 L2 with
    * (dist, ccid) ties. Returns (c1 refined centroid coords, ra1
    * corpus assignment). A pure integer function of its inputs —
    * spec-tested against an independent driver-side implementation. */
  private[graft] def lloydWarmRetrain(corpus: DataFrame,
      seedCoords: DataFrame): (DataFrame, DataFrame) = {
    val rcq = Similarity.quantCoords(corpus, "cid", "ce")
    def nearest(cents: DataFrame): DataFrame = Similarity.l2Nearest(
      rcq.join(broadcast(cents), Seq("i")), Seq("cid"), "ccid", 1)
      .select(col("cid"), col("ccid"))
    val c1 = Similarity.lloydMean(rcq.join(nearest(seedCoords), Seq("cid")),
      "ccid")
    (c1, nearest(c1))
  }

  /** Quantized seed coords of the standing centroids (the first 16
    * corpus vectors), shared by q341's retrain and its spec. */
  private[graft] def standingSeedCoords(corpus: DataFrame): DataFrame =
    Similarity.quantCoords(corpus.filter(col("cid") < 16), "cid", "ce")
      .select(col("cid").as("ccid"), col("i"), col("x").as("c"))

  /** Fixed-point cell-occupancy PSI (the q335 recipe over the 16
    * standing cells): `ref`/`cur` are (cell) occupancy inputs as
    * (cid, cell) assignment frames; `cells` the 16-row cell spine.
    * Returns a 1-row (term_sum, na, nb) frame. */
  private def cellPsi(ref: DataFrame, cur: DataFrame,
      cells: DataFrame): DataFrame = {
    val h0 = ref.groupBy(col("cell")).agg((count(lit(1)) + 1L).as("aa"))
    val h1 = cur.groupBy(col("cell")).agg((count(lit(1)) + 1L).as("bb"))
    val hc = cells.join(h0, Seq("cell"), "left")
      .join(h1, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("aa"), lit(1L)).as("aa"),
        coalesce(col("bb"), lit(1L)).as("bb"))
    val ht = broadcast(hc.agg(sum("aa").as("na"), sum("bb").as("nb"))
      .withColumn("one", lit(1)))
    val j = graft.operators.FixedPoint.lnFxCols(
      graft.operators.FixedPoint.lnFxCols(
        hc.withColumn("one", lit(1)).join(ht, Seq("one"))
          .withColumn("x", col("aa") * col("nb"))
          .withColumn("y", col("bb") * col("na")),
        "x", "lx"), "y", "ly")
      .withColumn("term_fx", (col("x") - col("y")) * (col("lx") - col("ly")))
    j.groupBy().agg(sum("term_fx").as("term_sum"), max("na").as("na"),
      max("nb").as("nb"))
  }

  /** q342 oracle fragment: the frozen merge table (tb_1..tb_rounds,
    * from Round10.bpeTrainSql) applied in rank order to the DISTINCT
    * words of the WHOLE corpus (q316's encode chain, with the probe
    * slot widened to everything the mixing stage budgets), plus the
    * UNK rule: words outside the 2..30-char training bounds count 1
    * token. Emits `wvoc`, `ev<rounds>`, `wtok` (w, wt). */
  private def bpeTokCountSql(rounds: Int): String = {
    val head =
      s"""dwords AS MATERIALIZED (SELECT doc_id, lang,
        unnest(string_split(${Round10.BpeNormSql}, ' ')) AS w FROM documents),
      wvoc AS MATERIALIZED (SELECT DISTINCT w FROM dwords),
      ev0 AS MATERIALIZED (SELECT w,
          ' ' || array_to_string(string_split_regex(w, ''), ' ') || ' ' AS seq
        FROM wvoc WHERE length(w) BETWEEN 2 AND 30)"""
    val steps = (1 to rounds).map { i =>
      s"""ev$i AS MATERIALIZED (SELECT w, replace(replace(seq,
          COALESCE((SELECT ' ' || a || ' ' || b || ' ' FROM tb$i), chr(1)),
          COALESCE((SELECT ' ' || a || b || ' ' FROM tb$i), chr(1))),
          COALESCE((SELECT ' ' || a || ' ' || b || ' ' FROM tb$i), chr(1)),
          COALESCE((SELECT ' ' || a || b || ' ' FROM tb$i), chr(1))) AS seq
        FROM ev${i - 1})"""
    }
    val tail =
      s"""wtok AS MATERIALIZED (
        SELECT w, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS wt
        FROM ev$rounds
        UNION ALL
        SELECT w, CAST(1 AS BIGINT) FROM wvoc
        WHERE length(w) NOT BETWEEN 2 AND 30)"""
    (head +: steps :+ tail).mkString(",\n      ")
  }

  /** Per-document ENCODED token counts (doc_id, lang, tok, hsh) — the
    * q342/q345 accounting stage: the frozen q316 merge table applied
    * in rank order to the distinct words (the per-word token table is
    * itself a fixture artifact — a pure function of the fixture, read
    * flat by every consumer), the UNK rule (words outside the 2..30
    * training bounds count 1), one vocabulary-bounded hash join + sum
    * per doc, and the guarded Lehmer shuffle hash. The vocabulary join
    * SHUFFLES on w (hinted shuffled-hash, the word-token table the
    * build side): at x100 Catalyst's size estimates inverted the sides
    * and broadcast the exploded 100× WORD STREAM (the probe OOM'd the
    * driver); and a web-scale vocabulary is itself too big to
    * broadcast, so the hint — not a broadcast — is the 100 TB shape. */
  private def encodedDocTok(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
    val words = docs.select(col("doc_id"), col("lang"),
      explode(split(norm, " ")).as("w"))
    val wtok = graft.util.FixtureArtifact.parquet(s, dir,
      "documents.parquet", s"bpe_wtok_r${Round10.BpeRounds}") {
      val merges = Round10.bpeMerges(s, dir)
      val wv = words.select("w").distinct()
      val inb = wv.filter(length(col("w")).between(2, 30))
      val enc = merges.foldLeft(inb.select(col("w"),
          concat(lit(" "),
            array_join(expr("filter(split(w, ''), x -> x != '')"), " "),
            lit(" ")).as("seq"))) {
        case (d, (a, b)) =>
          val pat = s" $a $b "; val rep = s" $a$b "
          d.select(col("w"), expr(
            s"replace(replace(seq, '$pat', '$rep'), '$pat', '$rep')")
            .as("seq"))
      }
      enc.select(col("w"),
          size(split(trim(col("seq")), " ")).cast("long").as("wt"))
        .unionByName(wv.filter(!length(col("w")).between(2, 30))
          .select(col("w"), lit(1L).as("wt")))
    }
    // One hard-cut per invocation: consumers (budget aggregate,
    // runningSumsBinned's hot-key scan + flagged frame, cumSums'
    // range probe) would otherwise re-run the tokenize + vocabulary
    // join + aggregate ~3× inside one action (guide §2.4); the frame
    // is one accounting row per document. Still computed live on
    // every execution — this is within-query de-duplication, not a
    // cross-run cache.
    Jobs.cut(words.join(wtok.hint("shuffle_hash"), Seq("w"))
      .groupBy("doc_id", "lang").agg(sum("wt").as("tok"))
      .select(col("doc_id"), col("lang"), col("tok"),
        (Slots.hash(Round11b.guardedId(col("doc_id")))
          % lit(1000003L)).as("hsh")), "encoded_doctok")
  }

  /** q339's serving-memory budget: the q328 60 kB window applied to
    * the FILTERED ladder — raw vectors excluded at every fixture scale
    * (nu·256 B), SQ8 in the window at nu=500 (36 kB) and evicted by
    * its own bytes at nu=2000 (144 kB), IVFPQ always resident. */
  private val F50MemBudget = 60000L

  /** The f50 probed SQ8 serve (nlist16/np12/m8) as a fixture artifact:
    * q337's probed-f50 dial BUILDS it in-row — the live filtered-SQ8
    * serve stays priced in every bench pass — and q339's measurement 1
    * (the identical call) reads it warm (the r11 ivfF50ProbedServe
    * sharing precedent). */
  private def sq8F50ProbedServe(s: SparkSession, dir: String,
      qs: DataFrame, corpus: DataFrame, keep: DataFrame): DataFrame =
    graft.util.FixtureArtifact.parquet(s, dir, "embeddings.parquet",
      s"sq8_filtered_f50_np${Round11.IvfF50Np}_m8",
      params = Map("nlist" -> 16L, "nprobe" -> Round11.IvfF50Np.toLong,
        "m" -> 8L, "k" -> 5L))(
      Similarity.ivfSq8TopK(qs, corpus, k = 5, nlist = 16,
        nprobe = Round11.IvfF50Np, m = 8,
        artifact = Some((dir, "embeddings.parquet", "ivfsq8")),
        keep = Some(keep)))

  /** The f50 probed IVFPQ serve (nlist16/np14/corpus pool) as a
    * fixture artifact: q338's probed-f50 dial builds it (from its
    * already-shared np14 candidate scan when supplied — the two
    * build paths are the same function composition, ivfPqTopK ≡
    * index + AdcCandidates + FromCandidates since the round-12
    * refactor), q339's measurement 2 reads it warm. */
  private def ivfpqF50ProbedServe(s: SparkSession, dir: String,
      qs: DataFrame, corpus: DataFrame, keep: DataFrame, mc: Int,
      cand14: Option[DataFrame] = None): DataFrame =
    graft.util.FixtureArtifact.parquet(s, dir, "embeddings.parquet",
      "ivfpq_filtered_f50_np14_mc",
      // every build dial in params (the FixtureArtifact rule): the
      // corpus-scaled rerank pool (`mc`, symbolic in the label) and
      // the PQ shape, so a caller with a different pool formula fails
      // the dial guard instead of silently reusing this pool depth
      params = Map("nlist" -> 16L, "nprobe" -> 14L, "k" -> 5L,
        "rerank" -> mc.toLong, "nSub" -> 16L, "nCodes" -> 16L))(
      cand14 match {
        case Some(c14) => Similarity.ivfPqTopKFromCandidates(c14, qs,
          corpus, k = 5, rerank = mc).select("qid", "cid")
        case None => Similarity.ivfPqTopK(qs, corpus, k = 5, nlist = 16,
          nprobe = 14, nSub = 16, nCodes = 16, dim = 64, rerank = mc,
          artifact = Some((dir, "embeddings.parquet", "ivfpq")),
          keep = Some(keep)).select("qid", "cid")
      })

  /** q344/q351's lexical arm: q226's BM25 with the QUERY = each of
    * the 20 query docs' own distinct terms, served as a build-once
    * fixture artifact chain — the (doc, term) tf table and doc lengths
    * ARE the standing inverted index (the x100 probe measured the
    * inline build as the dominant term; a serving node builds this
    * once and every query reads a flat scan), and the top-20 rank
    * table (qid, cid, rl) is itself an artifact (only rl <= 20 rows
    * are ever consumed by either query). */
  /** The standing BM25 inverted-index pieces — the (doc, term) tf
    * table and doc lengths — as build-once fixture artifacts (shared
    * by bm25Lrank20 and q355's impact index). */
  private[queries] def bm25TfDl(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = graft.util.FixtureArtifact.parquet(s, dir,
      "documents.parquet", "bm25_tf")(
      tok.groupBy("doc_id", "term").agg(count(lit(1)).as("f")))
    val dl = graft.util.FixtureArtifact.parquet(s, dir,
      "documents.parquet", "bm25_dl")(
      tok.groupBy("doc_id").agg(count(lit(1)).as("dl")))
    (tf, dl)
  }

  private[queries] def bm25Lrank20(s: SparkSession,
      dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val (tf, dl) = bm25TfDl(s, dir)
    graft.util.FixtureArtifact.parquet(s, dir,
      "documents.parquet", "bm25_lrank20") {
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        sum("dl").as("t_tokens"))
      val qt = tok.filter(col("doc_id") < 20)
        .select(col("doc_id").as("qid"), col("term")).distinct()
      val dfv = tf.join(broadcast(qt.select("term").distinct()),
        Seq("term")).groupBy("term").agg(count(lit(1)).as("df"))
      val ts = tf.join(broadcast(qt), Seq("term"))
        .filter(col("doc_id") =!= col("qid"))
        .join(broadcast(dfv), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("tscore", expr(
          """((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
             (CAST(df AS DOUBLE) + 0.5)) * (CAST(f AS DOUBLE) * 2.2) /
             (CAST(f AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) *
             CAST(n_docs AS DOUBLE) / CAST(t_tokens AS DOUBLE)))"""))
      val bm = ts.groupBy("qid", "doc_id")
        .agg(expr("""round(aggregate(transform(
            array_sort(collect_list(struct(term, tscore))), x -> x.tscore),
            0.0D, (a, x) -> a + x), 6)""").as("score"))
        .withColumnRenamed("doc_id", "cid")
      val wl = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("cid"))
      bm.withColumn("rl", row_number().over(wl))
        .filter(col("rl") <= 20).select("qid", "cid", "rl")
    }
  }

  val defs: Map[String, QueryDef] = Map(

    // ---- attribute-filtered ANN on the SQ8 rung -------------------------
    // Round 11 left the two serving axes uncomposed: q318/q319 filter
    // the RAW-vector families, q326/q309/q330 compress without a
    // filter. This row composes them on the production-default rung:
    // the STANDING IVF-SQ8 index (cells + int8 codes + rescale — the
    // q326 artifacts, byte-identical, never rebuilt per predicate)
    // served under the q318 predicates (f50 = `label < 5`, f05 = the
    // 5% Lehmer slot), with the filter semi-joined into the probed
    // cell lists BEFORE the integer rank. DuckDB dial sweep (both SFs,
    // BEFORE the Spark side): the composition is FREE — filtered-SQ8
    // recall EQUALS the raw filtered-IVF of q318 at every swept
    // (tag, nprobe) point (naive np8: f50 0.804/0.832, f05
    // 0.656/0.780; over-probed: f50 np12 0.924/0.948, f05 np14
    // 0.928/0.968), because SQ8 ranking is near-lossless (q326's law)
    // so pool containment is exactly the probed∩filter ceiling; m=8 ==
    // m=16 at every point (no selectivity correction to the pool dial,
    // unlike IVFPQ's — q338). Output: (sel, dial) filtered recall
    // rows, naive vs probed at both selectivities, 72 B/vec resident.
    // Scale shape: q326's plus one hash semi-join of the cell lists
    // against the predicate ids per serve.
    "q337_llm_ann_filtered_sq8" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val parts = for ((tag, probedNp) <-
            Seq(("f50", Round11.IvfF50Np), ("f05", Round11.IvfF05Np))) yield {
          val keep = Round11.keepOf(emb, tag)
          val exf = Round11.exactTop5Filtered(s, dir, tag, qs, corpus, keep)
            .select("qid", "cid")
          Seq(("naive", Round11.IvfNaiveNp), ("probed", probedNp)).map {
            case (dial, np) =>
              // the probed-f50 serve is the measurement q339 replays
              // verbatim — build it as the shared artifact here (this
              // row prices the live serve; q339 reads it warm)
              val ann =
                if (tag == "f50" && dial == "probed")
                  sq8F50ProbedServe(s, dir, qs, corpus, keep)
                else Similarity.ivfSq8TopK(qs, corpus, k = 5, nlist = 16,
                  nprobe = np, m = 8,
                  artifact = Some((dir, "embeddings.parquet", "ivfsq8")),
                  keep = Some(keep))
              Round11.taggedRecall(tag, dial, exf, ann)
          }
        }
        parts.flatten.reduce(_ unionByName _).orderBy("sel", "dial", "qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      ${Round11.fsetExfSql("f50", Round11.F50Pred)},
      ${Round11.fsetExfSql("f05", Round11.F05Pred)},
      ${Round11b.sq8StandingSql("")},
      ${sq8CandWhereSql("f50", Round11.IvfNaiveNp.toString, "a", "")},
      ${sq8PoolAnnrSql("8", "a", "a")},
      ${sq8CandWhereSql("f50", Round11.IvfF50Np.toString, "b", "")},
      ${sq8PoolAnnrSql("8", "b", "b")},
      ${sq8CandWhereSql("f05", Round11.IvfNaiveNp.toString, "c", "")},
      ${sq8PoolAnnrSql("8", "c", "c")},
      ${sq8CandWhereSql("f05", Round11.IvfF05Np.toString, "d", "")},
      ${sq8PoolAnnrSql("8", "d", "d")}
      SELECT * FROM (
        ${Round11.taggedTailSql("f50", "naive", "exf_f50", "aannr")}
        UNION ALL
        ${Round11.taggedTailSql("f50", "probed", "exf_f50", "bannr")}
        UNION ALL
        ${Round11.taggedTailSql("f05", "naive", "exf_f05", "cannr")}
        UNION ALL
        ${Round11.taggedTailSql("f05", "probed", "exf_f05", "dannr")})
      ORDER BY sel, dial, qid""")),

    // ---- attribute-filtered ANN on the IVFPQ rung -----------------------
    // The ~16 B/vec rung under the same predicates. The filter lands in
    // the ADC candidate stage (probed cells ∩ keep, at MEMBER level —
    // a rep's duplicate copies can sit on both sides of a metadata
    // predicate — BEFORE the pool window). The interaction the round-12
    // sweep measured (both SFs, BEFORE wiring) and this row scores
    // live: over-probe recovers the filtered-cell collapse exactly as
    // on the raw/SQ8 rungs (f05 np10→np14: 0.752→0.928 / 0.872→0.968),
    // but the rerank pool must stay CORPUS-scaled — the q308 dial
    // max(100, 3n/20) — because PQ ranking error does not shrink with
    // the filter, only the candidate count does: the selectivity-scaled
    // pool max(50, 3·fNu/20) measured 0.05–0.09 BELOW at sf0.1 at the
    // same nprobe (f50 np14: 0.860 vs 0.936), the dial grid's honest
    // negative, shipped as the `fpool` rows. Output: (sel, dial)
    // filtered recall rows — naive (np10, corpus pool), probed (np14,
    // corpus pool), fpool (np14, fNu-scaled pool) at both
    // selectivities, one standing index (q328's artifacts).
    "q338_llm_ann_filtered_ivfpq" -> QueryDef(
      (s, dir) => Jobs.scope(s) { j =>
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val fN = j.part("q338_n")(corpus.count())
        val keeps = Seq("f50", "f05")
          .map(tag => tag -> Round11.keepOf(emb, tag)).toMap
        val fKc = keeps.map { case (tag, k) =>
          tag -> j.part(s"q338_${tag}_n")(k.count()) }
        val n = fN.get
        val mc = math.max(100L, 3L * n / 20L).toInt
        // ONE ivfPqIndex (artifact-resident pieces) and ONE ADC
        // candidate scan per (tag, nprobe) — the three pool dials
        // slice pools from the shared candidates instead of re-running
        // the scan per dial (same-window A/B'd; values identical by
        // the ivfPqTopK ≡ cands+pool refactor)
        val idx = Similarity.ivfPqIndex(corpus, nlist = 16, nSub = 16,
          nCodes = 16, dim = 64,
          artifact = Some((dir, "embeddings.parquet", "ivfpq")))
        // The six (tag, dial) recall rows previously sat in ONE final
        // plan (205 kB, 200 Exchange nodes — plans/r15/q338_*_before):
        // planning/AQE-replanning cost scales with that, and the six
        // branches' stages serialize behind one job's tail. Compute
        // each part as its OWN concurrently-submitted job cut to
        // scratch (the q249 plan-size rule); the final plan unions six
        // flat 50-row scans. Values identical — the same part frames,
        // parquet-roundtripped (exact for BIGINT/DOUBLE/VARCHAR).
        val parts = (for (tag <- Seq("f50", "f05")) yield {
          val keep = keeps(tag)
          val mf = math.max(50L, 3L * fKc(tag).get / 20L).toInt
          val exf = Round11.exactTop5Filtered(s, dir, tag, qs, corpus, keep)
            .select("qid", "cid")
          def cand(nprobe: Int): DataFrame =
            Similarity.ivfPqAdcCandidates(qs, idx, nprobe = nprobe,
              keep = Some(keep))
          def serve(nprobe: Int, m: Int): DataFrame =
            Similarity.ivfPqTopKFromCandidates(cand(nprobe), qs, corpus,
              k = 5, rerank = m)
          val probed =
            if (tag == "f50")
              // the shared measurement artifact q339 replays verbatim
              // (built on the main thread, before the part jobs)
              ivfpqF50ProbedServe(s, dir, qs, corpus, keep, mc,
                cand14 = Some(cand(14)))
            else serve(14, mc)
          Seq(
            j.cut(s"q338_${tag}_naive")(
              Round11.taggedRecall(tag, "naive", exf, serve(10, mc))),
            j.cut(s"q338_${tag}_probed")(
              Round11.taggedRecall(tag, "probed", exf, probed)),
            j.cut(s"q338_${tag}_fpool")(
              Round11.taggedRecall(tag, "fpool", exf, serve(14, mf))))
        }).flatten
        parts.map(_.get)
          .reduce(_ unionByName _).orderBy("sel", "dial", "qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      ${Round11.fsetExfSql("f50", Round11.F50Pred)},
      ${Round11.fsetExfSql("f05", Round11.F05Pred)},
      ${Round9.ivfPqSqlE("16", "10", "1", nSub = 16, nCodes = 16,
        prefix = "w10")},
      ${Round9.ivfPqSqlE("16", "14", "1", nSub = 16, nCodes = 16,
        prefix = "w14")},
      ${pqFPoolAnnrSql("f50", McE, "qa1", "w10")},
      ${pqFPoolAnnrSql("f50", McE, "qb1", "w14")},
      ${pqFPoolAnnrSql("f50", mfE("f50"), "qc1", "w14")},
      ${pqFPoolAnnrSql("f05", McE, "qa2", "w10")},
      ${pqFPoolAnnrSql("f05", McE, "qb2", "w14")},
      ${pqFPoolAnnrSql("f05", mfE("f05"), "qc2", "w14")}
      SELECT * FROM (
        ${Round11.taggedTailSql("f50", "naive", "exf_f50", "qa1annr")}
        UNION ALL
        ${Round11.taggedTailSql("f50", "probed", "exf_f50", "qb1annr")}
        UNION ALL
        ${Round11.taggedTailSql("f50", "fpool", "exf_f50", "qc1annr")}
        UNION ALL
        ${Round11.taggedTailSql("f05", "naive", "exf_f05", "qa2annr")}
        UNION ALL
        ${Round11.taggedTailSql("f05", "probed", "exf_f05", "qb2annr")}
        UNION ALL
        ${Round11.taggedTailSql("f05", "fpool", "exf_f05", "qc2annr")})
      ORDER BY sel, dial, qid""")),

    // ---- the unified filtered advisor: selectivity × candidates × bytes -
    // The round-11 verdict's top composition gap: adviseFiltered had no
    // memory axis, adviseCalibratedServing no selectivity axis — a
    // production serving node filters AND holds a compressed index, so
    // the decision is joint. Operating point = the q328 60 kB window
    // UNDER the f50 predicate: raw vectors are excluded by bytes at
    // every fixture scale (nu·256 B = 128/512 kB — the loud require
    // documents why no ivf-filtered row is measured), and crucially the
    // q320-style brute-filtered short-circuit CANNOT fire even though
    // fNu fits the candidate budget at sf0.01 — brute needs the FULL
    // raw corpus resident (the predicate changes per query), which the
    // memory budget forbids: the first decision the round-11 advisors
    // could not express. The two live measurements are the compressed
    // filtered serves at their swept dials (q337's SQ8 probed-f50:
    // nlist16/np12/m8; q338's IVFPQ probed-f50: nlist16/np14/corpus
    // pool — warm artifacts). At nu=500 both fit (36/8 kB) and both
    // meet 0.8 — SQ8 wins on re-derived candidate cost (190 vs 222);
    // at nu=2000 SQ8 is EVICTED BY ITS OWN BYTES (144 kB > 60 kB) and
    // the decision flips to ivfpq-filtered at the re-derived dials
    // (nlist 32, nprobe 28, corpus pool 300 — swept 0.956 BEFORE
    // wiring). Decision replay exact BIGINT; measured-pipeline-is-the-
    // serve on the SQ8 branch (require-pinned, the q322/q328 rule).
    "q339_llm_ann_filtered_advisor" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val (n, nu) = Round6c.nnuFull(s, dir)
        require(nu * 256L > F50MemBudget,
          s"raw vectors fit the $F50MemBudget B budget at nu=$nu — " +
            "the ivf-filtered row would need measuring (q320 scores " +
            "that regime)")
        val keep = Round11.keepOf(emb, "f50")
        // fNu at REP level (distinct vectors among the survivors) —
        // the q328 rule: decision stats must be replication-invariant,
        // or a duplicated corpus breaks fNu <= nu and inflates the
        // candidate arithmetic (caught by the x10 probe). Identical to
        // the id count on the all-distinct test fixtures.
        // artifact builds run on the main thread, between the part
        // submissions
        val (fNu, exf, msq, mpq) = Jobs.scope(s) { j =>
          val fNu = j.part("q339_fnu")(Round6c.statsArtifact(s, dir,
            "embeddings.parquet", "stats_fnu_f50")(
            corpus.join(keep, Seq("cid"), "left_semi")
              .agg(countDistinct(col("ce")))).getLong(0))
          val exf = Round11.exactTop5Filtered(s, dir, "f50", qs, corpus, keep)
            .select("qid", "cid")
          // the two measurements ARE q337's/q338's probed-f50 serves —
          // read from the shared fixture artifacts, never recomputed
          // (the r11 ivfF50ProbedServe sharing precedent); both are
          // read before either hit count is submitted
          lazy val serves = (sq8F50ProbedServe(s, dir, qs, corpus, keep),
            ivfpqF50ProbedServe(s, dir, qs, corpus, keep,
              mc = math.max(100L, 3L * n / 20L).toInt))
          val Seq(msq, mpq) = Jobs.recall("q339", exf)(
            () => serves._1, () => serves._2).rates
          (fNu.get, exf, msq, mpq)
        }
        val adv = IndexAdvisor.adviseFilteredServing(nu, fNu, dim = 64,
          targetRecall = 0.8, candidateBudget = nu * 9L / 10L,
          memoryBudgetBytes = F50MemBudget,
          measured = Seq(
            IndexAdvisor.RecallRow("sq8-filtered",
              Map("nlist" -> 16L, "nprobe" -> Round11.IvfF50Np.toLong,
                "m" -> 8L, "k" -> 5L), msq),
            IndexAdvisor.RecallRow("ivfpq-filtered",
              Map("nlist" -> 16L, "nprobe" -> 14L, "nSub" -> 16L,
                "nCodes" -> 16L, "k" -> 5L), mpq)))
        val ann = adv.family match {
          case "sq8-filtered" =>
            // measured-pipeline-is-the-serve: the re-derived dials
            // must equal the measured config or the claim lies
            require(adv.params("nlist") == 16L &&
              adv.params("nprobe") == Round11.IvfF50Np.toLong &&
              adv.params("m") == 8L,
              s"re-derived sq8 dials ${adv.params} left the measured point")
            sq8F50ProbedServe(s, dir, qs, corpus, keep)
          case "ivfpq-filtered" =>
            Similarity.ivfPqTopK(qs, corpus, k = 5,
              nlist = adv.params("nlist").toInt,
              nprobe = adv.params("nprobe").toInt,
              nSub = adv.params("nSub").toInt,
              nCodes = adv.params("nCodes").toInt, dim = 64,
              rerank = adv.params("rerank").toInt,
              artifact = Some((dir, "embeddings.parquet", "ivfpq")),
              keep = Some(keep))
          case other => sys.error(
            s"filtered-serving advisor picked unreachable family $other")
        }
        Round11.taggedRecall("f50", adv.family, exf, ann).orderBy("qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      ${Round11.fsetExfSql("f50", Round11.F50Pred)},
      nq AS (SELECT COUNT(DISTINCT qid) AS nq FROM exf_f50),
      -- measurement 1: q337's probed-f50 SQ8 serve (nlist16/np12/m8)
      ${Round11b.sq8StandingSql("")},
      ${sq8CandWhereSql("f50", Round11.IvfF50Np.toString, "sm", "")},
      ${sq8PoolAnnrSql("8", "sm", "sm")},
      msq AS (SELECT CAST((SELECT COUNT(*) FROM exf_f50 JOIN smannr
            ON exf_f50.qid = smannr.qid AND exf_f50.cid = smannr.cid) AS DOUBLE)
          / (5.0 * (SELECT nq FROM nq)) AS rec),
      -- measurement 2: q338's probed-f50 IVFPQ serve (nlist16/np14/mc)
      ${Round9.ivfPqSqlE("16", "14", "1", nSub = 16, nCodes = 16,
        prefix = "pm")},
      ${pqFPoolAnnrSql("f50", McE, "pm", "pm")},
      mpq AS (SELECT CAST((SELECT COUNT(*) FROM exf_f50 JOIN pmannr
            ON exf_f50.qid = pmannr.qid AND exf_f50.cid = pmannr.cid) AS DOUBLE)
          / (5.0 * (SELECT nq FROM nq)) AS rec),
      -- the decision: exact BIGINT replay of adviseFilteredServing
      st AS (SELECT COUNT(*) AS n, COUNT(DISTINCT embedding) AS nu FROM embeddings),
      fb AS (SELECT COUNT(DISTINCT e.embedding) AS f FROM embeddings e
        JOIN fset_f50 f2 ON e.vec_id = f2.cid),
      ${Round6c.advisorNlistSql("st")},
      nps AS (SELECT LEAST((SELECT nlist FROM nl), GREATEST(1,
        (${Round11.IvfF50Np} * (SELECT nlist FROM nl)) // 16)) AS np),
      npp AS (SELECT LEAST((SELECT nlist FROM nl), GREATEST(1,
        (14 * (SELECT nlist FROM nl)) // 16)) AS np),
      bud AS (SELECT ((SELECT nu FROM st) * 9) // 10 AS b),
      rr AS (SELECT LEAST((SELECT b FROM bud),
          GREATEST(100, 3 * (SELECT nu FROM st) // 20)) AS rerank),
      cfg AS (
        SELECT 'sq8-filtered' AS fam,
            ((SELECT f FROM fb) * (SELECT np FROM nps)) // (SELECT nlist FROM nl) AS cand,
            -- bytes MUST mirror adviseFilteredServing: nu*(dim+4+4)
            (SELECT nu FROM st) * 72 AS bytes,
            (SELECT rec FROM msq) AS rec
        UNION ALL
        SELECT 'ivfpq-filtered' AS fam,
            ((SELECT f FROM fb) * (SELECT np FROM npp)) // (SELECT nlist FROM nl) AS cand,
            (SELECT nu FROM st) * 16 AS bytes,
            (SELECT rec FROM mpq) AS rec),
      adm AS (SELECT * FROM cfg
        WHERE cand <= (SELECT b FROM bud) AND bytes <= $F50MemBudget),
      chosen AS (SELECT COALESCE(
        (SELECT fam FROM adm WHERE rec >= 0.8
         ORDER BY cand, rec DESC, fam LIMIT 1),
        (SELECT fam FROM adm ORDER BY rec DESC, cand, fam LIMIT 1)) AS fam),
      -- serving branch B: filtered IVFPQ at the re-derived dials
      ${Round9.ivfPqSqlE("(SELECT nlist FROM nl)", "(SELECT np FROM npp)",
        "1", nSub = 16, nCodes = 16, prefix = "v")},
      ${pqFPoolAnnrSql("f50", "(SELECT rerank FROM rr)", "vb", "v")},
      annx AS (
        SELECT qid, cid FROM smannr
          WHERE (SELECT fam FROM chosen) = 'sq8-filtered'
        UNION ALL
        SELECT qid, cid FROM vbannr
          WHERE (SELECT fam FROM chosen) = 'ivfpq-filtered')
      SELECT 'f50' AS sel, (SELECT fam FROM chosen) AS dial, q.qid,
        CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
        CAST(COALESCE(h.h, 0) AS DOUBLE) / 5.0 AS recall
      FROM (SELECT DISTINCT qid FROM exf_f50) q LEFT JOIN (
        SELECT exf_f50.qid, COUNT(*) AS h FROM exf_f50
        JOIN annx ON exf_f50.qid = annx.qid AND exf_f50.cid = annx.cid
        GROUP BY 1) h ON q.qid = h.qid
      ORDER BY q.qid""")),

    // ---- takedowns on the SCAN-BASED standing index ---------------------
    // q321 gave the GRAPH index its delete story; the scan families had
    // none. Here the q321 takedown set (the Lehmer mod-3 slot, ~1/3 of
    // the corpus) is served on the SQ8 standing index as a tombstone
    // SEMI-JOIN AT SERVE TIME: cells, codes, and rescales are UNTOUCHED
    // (deleted codes go cold — a takedown must not force a re-encode or
    // re-assignment), and the filter lands in the candidate stage
    // exactly as q337's metadata predicates do — a takedown IS a
    // standing ~67% filter. DuckDB sweep (both SFs, BEFORE wiring):
    // naive np10 degrades to 0.876/0.908 (the survivor cells thin out),
    // np12 restores 0.928/0.952 — the same over-probe recovery dial as
    // the metadata filters, at a milder selectivity. Exact side = the
    // q321 survivor truth (same fixture artifact). Scale shape: q326's
    // serve plus one broadcastable anti-set semi-join.
    "q340_llm_sq8_takedown_serve" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val keep = emb.filter(
            Slots.Tomb.out)
          .select(col("vec_id").as("cid"))
        val exf = Round11.exactTop5Filtered(s, dir, "surv3", qs, corpus,
          keep).select("qid", "cid")
        Seq(("naive", 10), ("probed", 12)).map { case (dial, np) =>
          Round11.taggedRecall("surv", dial, exf,
            Similarity.ivfSq8TopK(qs, corpus, k = 5, nlist = 16,
              nprobe = np, m = 8,
              artifact = Some((dir, "embeddings.parquet", "ivfsq8")),
              keep = Some(keep)))
        }.reduce(_ unionByName _).orderBy("sel", "dial", "qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      ${Round11.fsetExfSql("surv", Round11.SurvPred)},
      ${Round11b.sq8StandingSql("")},
      ${sq8CandWhereSql("surv", "10", "a", "")},
      ${sq8PoolAnnrSql("8", "a", "a")},
      ${sq8CandWhereSql("surv", "12", "b", "")},
      ${sq8PoolAnnrSql("8", "b", "b")}
      SELECT * FROM (
        ${Round11.taggedTailSql("surv", "naive", "exf_surv", "aannr")}
        UNION ALL
        ${Round11.taggedTailSql("surv", "probed", "exf_surv", "bannr")})
      ORDER BY sel, dial, qid""")),

    // ---- drift-triggered re-training (the monitoring→maintenance loop) --
    // q335 DETECTS drift; nothing consumed the signal. This row closes
    // the loop on the scan index with two scenarios through ONE decision
    // rule, each stat replayed exact-BIGINT:
    //   - 'takedown' (the null case): the corpus shrinks by the Lehmer
    //     mod-3 slot. Vectors are unchanged, so assignment CHURN
    //     (standing cell ≠ current cell, re-checked against the
    //     standing quantizer) is 0 and occupancy-PSI reads the 0.007
    //     null floor — below threshold, NO retrain: serve stale with
    //     the q340 tombstone semi-join.
    //   - 'reembed' (the fired case, the q335 'inject' convention): a
    //     deterministic model-version change — every vector coordinate-
    //     REVERSED (norm-preserving). The sweep's measured lesson: the
    //     occupancy-PSI is BLIND to this isometry on the fixture
    //     (0.0200/0.0304 vs the 0.0068 null — the synthetic coords are
    //     exchangeable, so the histogram stays flat while every
    //     individual assignment scrambles), so the trigger is CHURN —
    //     2·moved ≥ n fires at ~15/16 moved, exactly the statistic a
    //     re-assignment check keeps anyway. Both stats are still
    //     REPORTED per scenario (PSI stays the scorecard metric; the
    //     blindness is recorded, not hidden). The response: warm-start
    //     Lloyd re-train — ONE q225 round over the re-embedded corpus
    //     seeded from the STANDING centroid coords (no re-seeding
    //     scan), survivors and queries re-assigned to the refined
    //     centroids by exact int64 L2, SQ8 codes re-encoded ROW-LOCALLY
    //     (the family's structural ingest advantage: no codebook to
    //     retrain — PQ would re-train codebooks here). Sweep (both
    //     SFs): stale-on-reembedded 0.892/0.920, retrained 0.940/0.948
    //     at np12 — the retrain recovers what the stale quantizer
    //     loses. Output: per-scenario churn + PSI stat rows (exact
    //     integer stats; the doubles are exact divisions) and the
    //     DECIDED serve's recall rows.
    "q341_llm_drift_churn_retrain" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val n = corpus.count()
        // the q335 product-domain bound applied to the cell PSI: both
        // factors of (x−y)·(lnFx x − lnFx y) grow with n (x ≤ (n+16)²
        // over the 16-cell histogram), so past ~5·10⁵ vectors the
        // int64 product can wrap silently in Spark while DuckDB
        // raises — fail loudly here instead (shard the PSI by stratum
        // beyond that), the same bound q335 enforces on documents
        require(n <= 500000L,
          s"cell-occupancy PSI product term exceeds int64 past 5e5 " +
            s"vectors (2n^2*ln(n*1e6)*1e6 vs 9.2e18) at n=$n — shard " +
            "the PSI by stratum")
        // the STANDING cells — the q326/q337/q340 IVF-SQ8 artifact
        val (cents, zca) = Similarity.ivfCells(corpus, 16,
          Some((dir, "embeddings.parquet", "ivfsq8")))
        val cells = cents.select(col("centroid_id").as("cell"))
        val zOld = zca.select(col("cid"), col("centroid_id").as("old"))
        // ---- scenario 1: takedown (null) ----
        val keep = emb.filter(
            Slots.Tomb.out)
          .select(col("vec_id").as("cid"))
        val curT = zca.join(keep, Seq("cid"), "left_semi")
        // ---- scenario 2: re-embed (fires) ----
        val rvecs = corpus.select(col("cid"), reverse(col("ce")).as("ce"))
        val rqs = qs.select(col("qid"), reverse(col("qe")).as("qe"))
        // the scenario statistics run as parts; the fixture-pin
        // requires still run before any result is consumed
        val (nSurv, movedT, psiT, movedR, psiR) = Jobs.scope(s) { j =>
          val nSurv = j.part("q341_nsurv")(keep.count())
          val movedT = j.part("q341_moved_t")(curT.join(zOld, Seq("cid"))
            .filter(col("centroid_id") =!= col("old")).count())
          val psiT = j.part("q341_psi_t")(
            cellPsi(zca.select(col("centroid_id").as("cell")),
              curT.select(col("centroid_id").as("cell")), cells).head())
          val rca = graft.util.FixtureArtifact.parquet(s, dir,
            "embeddings.parquet", "remb_ca_n16",
            params = Map("nlist" -> 16L))(
            Similarity.assignToCentroids(rvecs, "cid", "ce", cents,
              nKeep = 1).select(col("cid"), col("centroid_id")))
          val movedR = j.part("q341_moved_r")(rca.join(zOld, Seq("cid"))
            .filter(col("centroid_id") =!= col("old")).count())
          val psiR = j.part("q341_psi_r")(
            cellPsi(zca.select(col("centroid_id").as("cell")),
              rca.select(col("centroid_id").as("cell")), cells).head())
          (nSurv.get, movedT.get, psiT.get, movedR.get, psiR.get)
        }
        // the decision rule: retrain iff 2·moved >= n (exact BIGINT) —
        // requires pin the expected branches so a fixture change fails
        // loudly instead of silently flipping (the q320 convention)
        require(movedT * 2L < nSurv,
          s"takedown scenario must stay below the churn threshold " +
            s"($movedT moved of $nSurv)")
        require(movedR * 2L >= n,
          s"re-embed scenario must fire the churn threshold " +
            s"($movedR moved of $n)")
        // ---- serves per the decision ----
        val exfT = Round11.exactTop5Filtered(s, dir, "surv3", qs, corpus,
          keep).select("qid", "cid")
        val annT = Similarity.ivfSq8TopK(qs, corpus, k = 5, nlist = 16,
          nprobe = 12, m = 8,
          artifact = Some((dir, "embeddings.parquet", "ivfsq8")),
          keep = Some(keep))
        // warm-start Lloyd-1 over the re-embedded corpus, seeded from
        // the standing centroids' quantized coords (maintenance
        // artifacts — retrained centroids + assignment built once)
        val (c1b, ra1b) = lloydWarmRetrain(rvecs,
          standingSeedCoords(corpus))
        val c1 = broadcast(graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "remb_lloyd_c1_n16_r1",
          params = Map("nlist" -> 16L, "rounds" -> 1L))(c1b))
        val ra1 = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "remb_lloyd_ra1_n16_r1",
          params = Map("nlist" -> 16L, "rounds" -> 1L))(ra1b)
        // probe ranks kept to nlist; the serve slices r <= np
        val qa1 = Similarity.l2Nearest(
            Similarity.quantCoords(rqs, "qid", "qe").join(c1, Seq("i")),
            Seq("qid"), "ccid", 16)
          .select(col("qid"), col("ccid"), col("rn").as("r"))
        val codesR = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "remb_sq8")(
          Similarity.sq8Codes(rvecs, "cid", "ce"))
        val annR = sq8ServeFromAssign(qa1, ra1, codesR, rqs, rvecs,
          np = 12, m = 8)
        val exfR = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "exact_top5_remb")(
          Similarity.cosineTopK(rqs, rvecs, k = 5)
            .select(col("qid"), col("cid"), col("rnk")))
          .select("qid", "cid")
        // ---- stats + recall rows ----
        def psiD(r: org.apache.spark.sql.Row): (Long, Double) = {
          val ts = r.getLong(0); val na = r.getLong(1); val nb = r.getLong(2)
          (ts, ts.toDouble / (na.toDouble * nb * 1000000.0))
        }
        val (tsT, pvT) = psiD(psiT); val (tsR, pvR) = psiD(psiR)
        val stats = Seq(
          ("takedown", "churn", -1L, movedT, movedT.toDouble / nSurv),
          ("takedown", "psi", -1L, tsT, pvT),
          ("reembed", "churn", -1L, movedR, movedR.toDouble / n),
          ("reembed", "psi", -1L, tsR, pvR))
          .toDF("sel", "dial", "qid", "n_hits", "recall")
        stats
          .unionByName(Round11.taggedRecall("takedown", "stale", exfT, annT))
          .unionByName(Round11.taggedRecall("reembed", "retrained", exfR, annR))
          .orderBy("sel", "dial", "qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      ${Round11.fsetExfSql("tk", Round11.SurvPred)},
      ${Round11b.sq8StandingSql("z")},
      cq AS MATERIALIZED (${Round6c.quantSql("vec_id AS cid", "embedding", "embeddings")}),
      -- takedown scenario: current assignment == standing ∩ survivors
      curtk AS (SELECT zca.cid, zca.centroid_id FROM zca
        JOIN fset_tk f ON zca.cid = f.cid),
      mt AS (SELECT COUNT(*) AS moved FROM curtk c
        JOIN zca z ON c.cid = z.cid AND c.centroid_id <> z.centroid_id),
      nsv AS (SELECT COUNT(*) AS nsurv FROM fset_tk),
      ${cellPsiSql("tk")},
      ${sq8CandWhereSql("tk", "12", "st", "z")},
      ${sq8PoolAnnrSql("8", "st", "st")},
      -- re-embed scenario
      $rembWorldSql,
      mr AS (SELECT COUNT(*) AS moved FROM rca r
        JOIN zca z ON r.cid = z.cid AND r.centroid_id <> z.centroid_id),
      nn AS (SELECT COUNT(*) AS n FROM embeddings),
      $rembPsiSql,
      $rembRetrainSql,
      ${rembServeSql("rqa1", "rra1", "ccid", "12", "8", "rr")}
      SELECT * FROM (
        SELECT 'takedown' AS sel, 'churn' AS dial, CAST(-1 AS BIGINT) AS qid,
          CAST((SELECT moved FROM mt) AS BIGINT) AS n_hits,
          CAST((SELECT moved FROM mt) AS DOUBLE) / (SELECT nsurv FROM nsv) AS recall
        UNION ALL
        SELECT 'takedown', 'psi', -1, (SELECT term_sum FROM psi_tk),
          CAST((SELECT term_sum FROM psi_tk) AS DOUBLE) /
            (CAST((SELECT na FROM psi_tk) AS DOUBLE) * (SELECT nb FROM psi_tk) * 1000000.0)
        UNION ALL
        SELECT 'reembed', 'churn', -1, (SELECT moved FROM mr),
          CAST((SELECT moved FROM mr) AS DOUBLE) / (SELECT n FROM nn)
        UNION ALL
        SELECT 'reembed', 'psi', -1, (SELECT term_sum FROM psi_remb),
          CAST((SELECT term_sum FROM psi_remb) AS DOUBLE) /
            (CAST((SELECT na FROM psi_remb) AS DOUBLE) * (SELECT nb FROM psi_remb) * 1000000.0)
        UNION ALL
        SELECT * FROM (${Round11.taggedTailSql("takedown", "stale",
          "exf_tk", "stannr")})
        WHERE 2 * (SELECT moved FROM mt) < (SELECT nsurv FROM nsv)
        UNION ALL
        SELECT * FROM (${Round11.taggedTailSql("reembed", "retrained",
          "rexr", "rrannr")})
        WHERE 2 * (SELECT moved FROM mr) >= (SELECT n FROM nn))
      ORDER BY sel, dial, qid""")),

    // ---- mix + pack on ENCODED tokens (the tokenizer meets the budget) --
    // The round-11 verdict's "two halves never meet": every
    // token-budget stage back to q190 counts whitespace words, while
    // q316 trains and applies a frozen BPE merge table. This row
    // budgets ENCODED tokens: the q316 merge-table artifact (trained
    // once on the slot≠0 documents — a tokenizer is the canonical
    // train-once-apply-many artifact) is applied IN RANK ORDER to the
    // DISTINCT words of the whole corpus (rep-level — one composed
    // 2R-deep replace projection per distinct word, codegen'd,
    // replication-invariant), with the UNK rule for words outside the
    // 2..30-char training bounds (1 token each); per-doc encoded
    // counts are one vocabulary-bounded hash join + sum; then the
    // EXACT q331 mix algebra (equal half-share budgets, seedless-
    // Lehmer greedy fill) and q332 pack algebra (shuffle→concat→chunk
    // at L=2048) run UNCHANGED on the encoded counts — the point of
    // the composition: token accounting is a pluggable column, not a
    // different pipeline. q331/q332 remain the whitespace oracle-
    // anchor twins. Output: the packed layout of the mixed set in
    // encoded tokens. Scale shape: q331/q332's plus one
    // vocabulary-bounded encode + join.
    "q342_llm_encoded_token_pack" -> QueryDef(
      (s, dir) => {
        val td = encodedDocTok(s, dir)
        val bud = broadcast(td
          .agg(sum("tok").as("tt"), countDistinct("lang").as("dd"))
          .select(expr("tt div (2 * dd)").as("bud"))
          .withColumn("one", lit(1)))
        val mixed = graft.operators.Ranks.runningSumsBinned(td, "lang",
            "hsh", Seq("hsh", "doc_id"), Seq("tok"), bins = 32,
            hotThreshold = 1L)
          .withColumn("one", lit(1)).join(bud, Seq("one"))
          .filter(col("run_tok") - col("tok") < col("bud"))
          .select(col("doc_id"), col("lang"), col("tok"), col("hsh"))
        val keyed = mixed.withColumn("okey",
          col("hsh") * lit(4294967296L) + col("doc_id"))
        graft.operators.Ranks.cumSums(keyed, "okey", Seq("tok"), bins = 64)
          .select(col("doc_id"), col("lang"), col("tok"), col("hsh"),
            (col("cum_tok") - col("tok")).as("off"),
            expr("(cum_tok - tok) div 2048").as("seq_first"),
            expr("(cum_tok - 1) div 2048").as("seq_last"),
            when(expr("(cum_tok - tok) div 2048 <> (cum_tok - 1) div 2048"),
              1L).otherwise(0L).as("crosses"))
          .orderBy("hsh", "doc_id")
      },
      Some(s"""WITH ${Round10.bpeTrainSql(Round10.BpeRounds)},
      ${bpeTokCountSql(Round10.BpeRounds)},
      td0 AS (SELECT doc_id, lang, CAST(SUM(wt) AS BIGINT) AS tok
        FROM dwords JOIN wtok USING (w) GROUP BY 1, 2),
      td AS (SELECT doc_id, lang, tok,
          CAST(${Slots.sql("doc_id", 1000003)} AS BIGINT) AS hsh FROM td0),
      bud AS (SELECT CAST(SUM(tok) AS BIGINT) // (2 * COUNT(DISTINCT lang)) AS bud
        FROM td),
      rn AS (SELECT *, CAST(SUM(tok) OVER (PARTITION BY lang
          ORDER BY hsh, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        FROM td),
      mixed AS (SELECT doc_id, lang, tok, hsh FROM rn
        WHERE run - tok < (SELECT bud FROM bud)),
      rn2 AS (SELECT *, CAST(SUM(tok) OVER (ORDER BY hsh, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM mixed)
      SELECT doc_id, lang, tok, hsh, run - tok AS off,
        (run - tok) // 2048 AS seq_first,
        (run - 1) // 2048 AS seq_last,
        CAST(CASE WHEN (run - tok) // 2048 <> (run - 1) // 2048
          THEN 1 ELSE 0 END AS BIGINT) AS crosses
      FROM rn2 ORDER BY hsh, doc_id""")),

    // ---- multi-vector streaming ingest (the q329 loop on q334) ----------
    // q333/q334 serve late-interaction retrieval from static artifacts;
    // this row closes the round-11 verdict's "multi-vector ingest" gap:
    // the standing state is the token-level IVF cells + SQ8 codes over
    // the slot≠0 documents (fixture artifacts — built once, served by
    // every batch), and each streamed micro-batch of probe DOCUMENTS
    // (slot 0 on the doc id; token rows are doc-atomic per batch — the
    // MaxSim aggregate's ingest contract, spec-tested batch-split
    // invariant under doc-atomic splits) is scored by the q334
    // pipeline against the standing index with a ROW-LOCAL SQ8
    // re-encode of the probe tokens. Dials swept in DuckDB BEFORE
    // wiring (both SFs): candidate containment binds — np2 saturates
    // at 0.86-0.93 alert coverage vs the exact brute maxsim alert set
    // REGARDLESS of pool depth (m10 == m40), np4/m40 reaches
    // 1.000/0.986 at the shipped threshold (900000 micro-cos over the
    // 4-token docs ≈ 0.225 avg max-cos/token — 21/357 exact alerts at
    // the two SFs). Alerts MERGE idempotently on (da, db); score is
    // exact int64, so the standing alert table hash-compares.
    "q343_stream_maxsim_ingest" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        graft.plans.NativeExpressions.register(s)
        val stok = emb.filter(Slots.Probe.out(expr("vec_id div 4")))
          .select(expr("vec_id div 4").as("cd"), col("vec_id").as("ct"),
            col("embedding").as("ce"))
        // the standing token index (cells, codes and the flat
        // (cd, ct, cc, rc) table), shared with q348 at nlist 16
        val (cents, ca, codes, ctokArt) = Round11b.sq8TokenIndex(s, dir,
          stok.select(col("cd").as("doc"), col("ct").as("tid"),
            col("ce").as("e")), "mving", nlist = 16L)
        MemCatalog.recreate(s, "maxsim_alerts_mv",
          "(da BIGINT, db BIGINT, score BIGINT)")
        val probe = EventStreams.fixtureStream(s, dir, "embeddings")
          .filter(Slots.Probe.in(expr("vec_id div 4")))
          .select(expr("vec_id div 4").as("qd"), col("vec_id").as("qt"),
            col("embedding").as("qe"))
        EventTime.withShufflePartitions(s, 8) {
          EventStreams.drain(probe) { (batch, _) =>
            EventStreams.insertNew(Similarity.maxsimSemDedupBatch(batch, stok,
                ca, codes, cents, np = 4, m = 40, minScore = 900000L,
                ctokCodes = Some(ctokArt)).toDF("da", "db", "score"),
              "maxsim_alerts_mv", "da", "db")
          }
        }
        s.sql("""SELECT da, db, score FROM graftmem.maxsim_alerts_mv
          ORDER BY da, db""")
      },
      Some(s"""WITH ${mvIngestSql(np = 4, m = 40, minScore = "900000")}
      SELECT da, db, score FROM al ORDER BY da, db""")),

    // ---- hybrid retrieval SERVED through the advised stack --------------
    // The production RAG shape: fuse a lexical (BM25) ranking with a
    // vector ranking by reciprocal-rank fusion. A feasibility sweep
    // measured the fixture's honest negative first: the lexical arm is
    // UNCORRELATED with the embedding truth here (term-overlap top-5
    // hits the cosine top-5 at 1/100 — chance level; the synthetic
    // embeddings are not derived from the text), so "fused beats both
    // single arms" is unscoreable on this fixture. The scoreable
    // production question is SERVING: the hybrid product is DEFINED as
    // exact-BM25 × exact-cosine fused (the q230 RRF, 1/(60+rank) over
    // each arm's top-20, ties on cid); can it be served when the
    // vector arm comes from the approximate standing index instead of
    // the exact scan? This row measures exactly that: truth = the
    // exact fused top-5; serve = the SAME fusion with the vector arm
    // replaced by the q326 SQ8 standing serve (np10, pool 24 → exact-
    // ranked top-20 — the two-stage serving contract); the lexical arm
    // is exact in both (an inverted index serves BM25 exactly at any
    // scale — the approximation burden is all on the vector side).
    // Single-arm rows (lex_only / vec_only vs the fused truth) are
    // scored for contrast — each arm alone misses the fused product by
    // a wide margin while the served fusion recovers it. Scale shape:
    // q226's inverted-index plan + q326's serve + a pair-keyed
    // full-outer join bounded by 20+20 rows/query.
    "q344_llm_hybrid_retrieval_served" -> QueryDef(
      (s, dir) => {
        val nQ = 20
        val emb = t(s, dir, "embeddings")
        graft.plans.NativeExpressions.register(s)
        // lexical arm: q226's BM25 — the standing inverted index and
        // the top-20 rank table are build-once fixture artifacts
        // (bm25Lrank20, shared with q351)
        val lrank = bm25Lrank20(s, dir)
        // vector arms: exact ranks (truth) vs the SQ8 standing serve
        val qs20 = emb.filter(col("vec_id") < nQ)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        // the exact vector-truth ranks are a pure function of the
        // fixture — a build-once artifact (the exact_top5 precedent
        // at k=20 over the 20-doc hybrid query sample)
        val vx = Round6c.exactTop20Hyb(s, dir)
        val pool = Similarity.ivfSq8TopK(qs20, corpus, k = 20, nlist = 16,
          nprobe = 10, m = 24,
          artifact = Some((dir, "embeddings.parquet", "ivfsq8")))
        val pvr = Similarity.topKByCos(Similarity.exactCos(pool, qs20, corpus),
            20, rankCol = "rv")
          .select("qid", "cid", "rv")
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
        val truth = fuse(vx)
        val out = Round11.taggedRecall("hyb", "fused", truth, fuse(pvr))
          .unionByName(Round11.taggedRecall("hyb", "lex_only", truth,
            lrank.filter(col("rl") <= 5).select("qid", "cid")))
          .unionByName(Round11.taggedRecall("hyb", "vec_only", truth,
            pvr.filter(col("rv") <= 5).select("qid", "cid")))
          .orderBy("sel", "dial", "qid")
        out
      },
      Some(s"""${Round6c.exactRecallCte},
      ${bm25DocSql(20)},
      vx AS MATERIALIZED (SELECT qid, cid, row_number() OVER (
          PARTITION BY qid ORDER BY cos DESC, cid) AS rv
        FROM ex0 WHERE qid < 20),
      ${Round11b.sq8StandingSql("")},
      pcand AS MATERIALIZED (SELECT qa.qid, ca.cid,
          CAST(list_sum(list_transform(range(1, 65), i -> q.qc[i] * c.qc[i])) AS BIGINT)
            * c.rc AS akey
        FROM qa JOIN ca ON qa.centroid_id = ca.centroid_id
          AND qa.qid <> ca.cid
        JOIN sq8 q ON qa.qid = q.id JOIN sq8 c ON ca.cid = c.id
        WHERE qa.r <= 10 AND qa.qid < 20),
      ppool AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY akey DESC, cid) AS pr
        FROM pcand) WHERE pr <= 24),
      ptop AS (SELECT qid, cid FROM (SELECT p.qid, p.cid,
          row_number() OVER (PARTITION BY p.qid ORDER BY e.cos DESC, p.cid) AS rnk
        FROM ppool p JOIN ex0 e ON p.qid = e.qid AND p.cid = e.cid)
        WHERE rnk <= 20),
      pvr AS MATERIALIZED (SELECT p.qid, p.cid, row_number() OVER (
          PARTITION BY p.qid ORDER BY e.cos DESC, p.cid) AS rv
        FROM ptop p JOIN ex0 e ON p.qid = e.qid AND p.cid = e.cid),
      ${rrfFuseSql("vx", "t")},
      ${rrfFuseSql("pvr", "s")},
      lex5 AS (SELECT qid, cid FROM lrank WHERE rl <= 5),
      vec5 AS (SELECT qid, cid FROM pvr WHERE rv <= 5)
      SELECT * FROM (
        ${Round11.taggedTailSql("hyb", "fused", "tfused", "sfused")}
        UNION ALL
        ${Round11.taggedTailSql("hyb", "lex_only", "tfused", "lex5")}
        UNION ALL
        ${Round11.taggedTailSql("hyb", "vec_only", "tfused", "vec5")})
      ORDER BY sel, dial, qid""")),

    // ---- the full training pipeline on ENCODED tokens --------------------
    // q336's capstone with the token accounting swapped: the same DSIR
    // selection artifact (content scoring is tokenizer-independent) is
    // mixed and packed on the q342 ENCODED counts — the budgets a real
    // pretraining run actually spends. The composition point stands a
    // second time: the mix/pack algebra is untouched; only the `tok`
    // column's producer changed. q336 remains the whitespace
    // oracle-anchor twin; ONE chained exact oracle (DSIR replay → BPE
    // train → all-words encode → mix → pack).
    "q345_llm_encoded_data_pipeline" -> QueryDef(
      (s, dir) => {
        val sel = Round11b.dsirSelArtifact(s, dir)
        val td = encodedDocTok(s, dir)
          .join(sel.select("doc_id"), Seq("doc_id"), "left_semi")
        val bud = broadcast(td
          .agg(sum("tok").as("tt"), countDistinct("lang").as("dd"))
          .select(expr("tt div (2 * dd)").as("bud"))
          .withColumn("one", lit(1)))
        val mixed = graft.operators.Ranks.runningSumsBinned(td, "lang",
            "hsh", Seq("hsh", "doc_id"), Seq("tok"), bins = 32,
            hotThreshold = 1L)
          .withColumn("one", lit(1)).join(bud, Seq("one"))
          .filter(col("run_tok") - col("tok") < col("bud"))
          .select(col("doc_id"), col("lang"), col("tok"), col("hsh"))
        val keyed = mixed.withColumn("okey",
          col("hsh") * lit(4294967296L) + col("doc_id"))
        graft.operators.Ranks.cumSums(keyed, "okey", Seq("tok"), bins = 64)
          .select(col("doc_id"), col("lang"), col("tok"), col("hsh"),
            (col("cum_tok") - col("tok")).as("off"),
            expr("(cum_tok - tok) div 2048").as("seq_first"),
            expr("(cum_tok - 1) div 2048").as("seq_last"),
            when(expr("(cum_tok - tok) div 2048 <> (cum_tok - 1) div 2048"),
              1L).otherwise(0L).as("crosses"))
          .orderBy("hsh", "doc_id")
      },
      Some(s"""WITH ${Round11b.dsirCtes},
      ${Round10.bpeTrainSql(Round10.BpeRounds)},
      ${bpeTokCountSql(Round10.BpeRounds)},
      etd0 AS (SELECT doc_id, lang, CAST(SUM(wt) AS BIGINT) AS tok
        FROM dwords JOIN wtok USING (w) GROUP BY 1, 2),
      etd AS (SELECT e.doc_id, e.lang, e.tok,
          CAST(${Slots.sql("e.doc_id", 1000003)} AS BIGINT) AS hsh
        FROM etd0 e JOIN (SELECT doc_id FROM dsel WHERE selected = 1) sd
          USING (doc_id)),
      ebud AS (SELECT CAST(SUM(tok) AS BIGINT) // (2 * COUNT(DISTINCT lang)) AS bud
        FROM etd),
      ern AS (SELECT *, CAST(SUM(tok) OVER (PARTITION BY lang
          ORDER BY hsh, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        FROM etd),
      emixed AS (SELECT doc_id, lang, tok, hsh FROM ern
        WHERE run - tok < (SELECT bud FROM ebud)),
      ern2 AS (SELECT *, CAST(SUM(tok) OVER (ORDER BY hsh, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM emixed)
      SELECT doc_id, lang, tok, hsh, run - tok AS off,
        (run - tok) // 2048 AS seq_first,
        (run - 1) // 2048 AS seq_last,
        CAST(CASE WHEN (run - tok) // 2048 <> (run - 1) // 2048
          THEN 1 ELSE 0 END AS BIGINT) AS crosses
      FROM ern2 ORDER BY hsh, doc_id"""))
  )
}
