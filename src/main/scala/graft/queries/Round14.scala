package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.{IndexAdvisor, Similarity, TopK}
import graft.sources.{MemCatalog, Tables}
import graft.streaming.EventStreams
import graft.util.{Jobs, Slots}

/** Round-14 batch: the monitoring→maintenance doctrine closed on the
  * PIPELINE itself and on the arms the machinery still skipped — the
  * ingest pipeline's frozen DSIR model gets a feature-churn trigger and
  * a measured keep/refresh/full-retrain decision (q352); the token
  * index gets its drift response (q353); the append-only packed layout
  * gets waste accounting + tail compaction (q354); the hybrid node's
  * lexical arm gets a budgeted (impact-pruned) rung (q355); and the
  * multi-vector family competes under the unified byte budgets (q356).
  */
object Round14 {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  // ---- shared DSIR oracle generators (the q350 chain, prefix- and
  // source-parameterized so the drift worlds instantiate per-corpus
  // chains — the stitchedEdgesSql convention on the pipeline) ----------

  /** The q350 text normalizer + whitespace split as a SQL list expr. */
  private[queries] val DsirSplitTl: String =
    """string_split(trim(regexp_replace(regexp_replace(
        lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')), ' ')"""

  /** DSIR bigram-feature CTEs of a docs CTE (doc_id, lang, text).
    * Emits `<p>tk`, `<p>dp`, `<p>fh` (doc_id, lang, f). */
  private[queries] def dsirFeatSql(docs: String, p: String): String =
    s"""${p}tk AS (SELECT doc_id, lang, $DsirSplitTl AS tl FROM $docs),
      ${p}dp AS MATERIALIZED (SELECT doc_id, lang, tl[p] AS w1, tl[p+1] AS w2
        FROM (SELECT doc_id, lang, tl, unnest(range(1, len(tl))) AS p FROM ${p}tk)),
      ${p}fh AS MATERIALIZED (SELECT doc_id, lang,
          CAST(((${Round11b.wordHmSql("w1")} % 65521) * 65521
            + ${Round11b.wordHmSql("w2")} % 65521) % ${Round11b.DsirBuckets} AS BIGINT) AS f
        FROM ${p}dp)"""

  /** DSIR model build from a features CTE: per-feature Laplace counts,
    * fixed-point ln table, weights and the corpus constant. Emits
    * `<m>ct`..`<m>nv`, `<m>ln`, `<m>wt` (f, dlf), `<m>kk` (kk). */
  private[queries] def dsirModelSql(srcFh: String, m: String): String =
    s"""${m}ct AS (SELECT f, COUNT(*) AS tc FROM $srcFh WHERE lang = 'en' GROUP BY 1),
      ${m}cr AS (SELECT f, COUNT(*) AS rcnt FROM $srcFh GROUP BY 1),
      ${m}ntr AS (SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ntl,
          COUNT(*) AS nrl FROM $srcFh),
      ${m}cc AS (SELECT ${m}cr.f, CAST(COALESCE(${m}ct.tc, 0) + 1 AS BIGINT) AS ctf,
          CAST(${m}cr.rcnt + 1 AS BIGINT) AS crf
        FROM ${m}cr LEFT JOIN ${m}ct USING (f)),
      ${m}nv AS (SELECT ctf AS n FROM ${m}cc UNION SELECT crf FROM ${m}cc
        UNION SELECT ntl + ${Round11b.DsirBuckets} FROM ${m}ntr
        UNION SELECT nrl + ${Round11b.DsirBuckets} FROM ${m}ntr),
      ${graft.operators.FixedPoint.lnFxSql(s"${m}nv", s"${m}ln")},
      ${m}wt AS MATERIALIZED (SELECT ${m}cc.f, lt.ln_fx - lr.ln_fx AS dlf
        FROM ${m}cc JOIN ${m}ln lt ON ${m}cc.ctf = lt.n
        JOIN ${m}ln lr ON ${m}cc.crf = lr.n),
      ${m}kk AS (SELECT
          (SELECT ln_fx FROM ${m}ln WHERE n = (SELECT ntl + ${Round11b.DsirBuckets} FROM ${m}ntr))
        - (SELECT ln_fx FROM ${m}ln WHERE n = (SELECT nrl + ${Round11b.DsirBuckets} FROM ${m}ntr)) AS kk)"""

  /** Score a features CTE against model `<m>`: emits `<out>` (doc_id,
    * w_fx) — features the model never saw drop out of the inner join
    * (the q350 documented rule). */
  private[queries] def dsirScoreSql(qfh: String, m: String,
      out: String): String =
    s"""$out AS (SELECT $qfh.doc_id,
        CAST(SUM(${m}wt.dlf) - COUNT(*) * (SELECT kk FROM ${m}kk) AS BIGINT) AS w_fx
      FROM $qfh JOIN ${m}wt ON $qfh.f = ${m}wt.f GROUP BY 1)"""

  /** Token + Lehmer-hash accounting rows of the docs in `selCte`
    * (q336's columns — the pack algebra's input). Emits `<out>`. */
  private[queries] def dsirTdSql(docs: String, selCte: String,
      out: String): String =
    s"""$out AS MATERIALIZED (SELECT d.doc_id, d.lang,
        CAST(len($DsirSplitTl) AS BIGINT) AS tok,
        CAST(${Slots.sql("d.doc_id", 1000003)} AS BIGINT) AS hsh
      FROM $docs d JOIN $selCte USING (doc_id))"""

  /** q355's per-query posting budget — the q328 60 kB convention on
    * the CANDIDATE axis: a serving node's fixed per-query I/O budget
    * (postings walked + pool-rerank bound). The sf0.01 full term walk
    * (16503) fits; sf0.1's (117955) does not — the corpus outgrows the
    * SLO and the lexical arm flips exact → pruned by admissibility. */
  private val LexBudget = 90000L

  /** RRF fusion of a LEXICAL rank CTE (qid, cid, rl) with the exact
    * vector ranks `vx` (the q344 dials: 1/(60+r) over each arm's
    * top-20, top-5 by rrf DESC, cid) — Round12.rrfFuseSql with the
    * lexical side parameterized instead of the vector side. Emits
    * `<p>fused`. */
  private def lexFuseSql(lexSrc: String, p: String): String =
    s"""${p}fr AS (SELECT COALESCE(l.qid, v.qid) AS qid,
        COALESCE(l.cid, v.cid) AS cid,
        (CASE WHEN l.rl IS NOT NULL THEN 1.0 / (60.0 + CAST(l.rl AS DOUBLE)) ELSE 0.0 END) +
        (CASE WHEN v.rv IS NOT NULL THEN 1.0 / (60.0 + CAST(v.rv AS DOUBLE)) ELSE 0.0 END) AS rrf
      FROM (SELECT qid, cid, rl FROM $lexSrc WHERE rl <= 20) l
      FULL OUTER JOIN (SELECT qid, cid, rv FROM vx WHERE rv <= 20) v
        ON l.qid = v.qid AND l.cid = v.cid),
      ${p}fused AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) AS rnk
        FROM ${p}fr) WHERE rnk <= 5)"""

  /** q356's serving-memory window — q328's 60 kB budget applied to the
    * maxsim node: the token index (76 B/token) fits at nTok=500
    * (38 kB) and is evicted by its own bytes at nTok=2000 (152 kB);
    * the pooled single-vector layout (72 B/doc) fits at both. */
  private val MvMemBudget = 60000L

  /** Append-only pack of one mixed-cycle slice (the q350 pack algebra
    * over `cmixed WHERE srcPred`, offsets from `offE`). Emits
    * `<out>rn`, `<out>`. Shared by the q354 and q357 oracles. */
  private def packCycleSql(srcPred: String, offE: String,
      out: String): String =
    s"""${out}rn AS (SELECT *, CAST(SUM(tok) OVER (ORDER BY hsh, doc_id
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
      FROM cmixed WHERE $srcPred),
    $out AS (SELECT doc_id, lang, tok, hsh,
        run - tok + ($offE) AS off,
        (run - tok + ($offE)) // 2048 AS seq_first,
        (run - 1 + ($offE)) // 2048 AS seq_last,
        CAST(CASE WHEN (run - tok + ($offE)) // 2048
          <> (run - 1 + ($offE)) // 2048 THEN 1 ELSE 0 END AS BIGINT)
          AS crosses
      FROM ${out}rn)"""

  private def layoutRowSql(part: String, src: String): String =
    s"""SELECT '$part' AS part, doc_id, lang, tok, hsh, off,
      seq_first, seq_last, crosses FROM $src"""

  /** The q354/q357 shared cycle chain: frozen base model/theta + base
    * layout end, streamed-doc selection under the frozen threshold,
    * hsh%3 cycle split, per-cycle half-share mix, running 2048-boundary
    * append offsets (bb1..ee3), per-cycle packs c0p/c1p/c2p, the
    * one-increment compacted re-pack cmp, and the per-cycle pads. */
  private def pipeCycleChainSql: String =
    s"""bdocs AS MATERIALIZED (SELECT doc_id, lang, text
      FROM documents WHERE ${Round13.PipeBasePred}),
    pdocs AS MATERIALIZED (SELECT doc_id, lang, text
      FROM documents WHERE ${Round13.PipeStreamPred}),
    ${dsirFeatSql("bdocs", "b")},
    ${dsirModelSql("bfh", "mb")},
    ${dsirScoreSql("bfh", "mb", "bsc")},
    ${dsirSelThetaSql("bdocs", "bsc", "bt")},
    ${dsirTdSql("bdocs", "btsel", "btd")},
    bbud AS (SELECT CAST(SUM(tok) AS BIGINT) // (2 * COUNT(DISTINCT lang)) AS bud
      FROM btd),
    brn AS (SELECT *, CAST(SUM(tok) OVER (PARTITION BY lang
        ORDER BY hsh, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
      FROM btd),
    bend AS (SELECT CAST(COALESCE(SUM(tok), 0) AS BIGINT) AS e FROM brn
      WHERE run - tok < (SELECT bud FROM bbud)),
    ${dsirFeatSql("pdocs", "p")},
    ${dsirScoreSql("pfh", "mb", "psc")},
    psel AS (SELECT doc_id FROM psc
      WHERE w_fx > (SELECT theta FROM bttheta)),
    ${dsirTdSql("pdocs", "psel", "ptd")},
    cyc AS (SELECT *, hsh % 3 AS c FROM ptd),
    cbud AS (SELECT c, CAST(SUM(tok) AS BIGINT) // (2 * COUNT(DISTINCT lang)) AS bud
      FROM cyc GROUP BY 1),
    crn AS (SELECT *, CAST(SUM(tok) OVER (PARTITION BY c, lang
        ORDER BY hsh, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
      FROM cyc),
    cmixed AS MATERIALIZED (SELECT crn.c, doc_id, lang, tok, hsh
      FROM crn JOIN cbud USING (c) WHERE run - tok < bud),
    ctot AS (SELECT c, CAST(SUM(tok) AS BIGINT) AS t FROM cmixed GROUP BY 1),
    bb1 AS (SELECT ((SELECT e FROM bend) + 2047) // 2048 * 2048 AS b),
    ee1 AS (SELECT (SELECT b FROM bb1)
      + COALESCE((SELECT t FROM ctot WHERE c = 0), 0) AS e),
    bb2 AS (SELECT ((SELECT e FROM ee1) + 2047) // 2048 * 2048 AS b),
    ee2 AS (SELECT (SELECT b FROM bb2)
      + COALESCE((SELECT t FROM ctot WHERE c = 1), 0) AS e),
    bb3 AS (SELECT ((SELECT e FROM ee2) + 2047) // 2048 * 2048 AS b),
    ee3 AS (SELECT (SELECT b FROM bb3)
      + COALESCE((SELECT t FROM ctot WHERE c = 2), 0) AS e),
    ${packCycleSql("c = 0", "(SELECT b FROM bb1)", "c0p")},
    ${packCycleSql("c = 1", "(SELECT b FROM bb2)", "c1p")},
    ${packCycleSql("c = 2", "(SELECT b FROM bb3)", "c2p")},
    ${packCycleSql("TRUE", "(SELECT b FROM bb1)", "cmp")},
    pads AS (SELECT
        (SELECT b FROM bb1) - (SELECT e FROM bend) AS p0,
        (SELECT b FROM bb2) - (SELECT e FROM ee1) AS p1,
        (SELECT b FROM bb3) - (SELECT e FROM ee2) AS p2)"""

  /** One-pass mix+pack of the three ingest cycles — the q354/q357
    * shared post-selection chain. `src` must carry (c, doc_id, lang,
    * tok, hsh). The per-cycle mixes run as ONE windowed pass
    * partitioned by (cycle, lang) and the per-cycle packs as ONE
    * cumSumsBy pass keyed by cycle — bit-identical to per-cycle
    * pipeMix/pipePack (exact integer running sums over the same
    * (hsh, doc_id) total order; the Ranks binned contracts). The
    * sequential offset chain (each cycle's append origin = previous
    * end rounded to the 2048 boundary) needs only the three per-cycle
    * token totals — one 3-row collect — never three materialized
    * layouts (guide §1.2 step 1 / §2.4: fewer passes, fewer actions).
    * Returns (per-cycle (c, pad, prevEnd, origin), finalEnd, packed
    * rows with the cycle column, the materialized mixed doc set). */
  private def cycleMixPackAll(s: SparkSession, src: DataFrame,
      bend: Long, label: String):
      (Seq[(Int, Long, Long, Long)], Long, DataFrame, DataFrame) = {
    // the cycle column must be LongType (the ctot collect reads
    // getLong) and within {0,1,2} (offBase folds over exactly those,
    // with a null default) — normalize and fail loudly on a new
    // caller's out-of-domain cycle instead of silently null offs
    // (round-14 advice item)
    val withC = src.withColumn("c", col("c").cast("long"))
      .withColumn("cl", concat_ws(" ", col("c"), col("lang")))
    val buds = withC.groupBy("c")
      .agg(sum("tok").as("tt"), countDistinct("lang").as("dd"))
      .select(col("c"), expr("tt div (2 * dd)").as("bud"))
    val mixed = Jobs.cut(graft.operators.Ranks.runningSumsBinned(withC,
        "cl", "hsh", Seq("hsh", "doc_id"), Seq("tok"), bins = 32,
        hotThreshold = 1L)
      .join(broadcast(buds), Seq("c"))
      .filter(col("run_tok") - col("tok") < col("bud"))
      .select("c", "doc_id", "lang", "tok", "hsh"), s"${label}_mixed")
    val ctot = mixed.groupBy("c").agg(sum("tok").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(ctot.keySet.subsetOf(Set(0L, 1L, 2L)),
      s"cycleMixPackAll assumes cycles in {0,1,2}; got ${ctot.keySet}")
    var cur = bend
    val cycles = (0 to 2).map { c =>
      val b = (cur + 2047L) / 2048L * 2048L
      val r = (c, b - cur, cur, b)
      cur = b + ctot.getOrElse(c.toLong, 0L)
      r
    }
    val offBase = cycles.foldLeft(lit(null).cast("long")) {
      case (acc, (c, _, _, b)) =>
        when(col("c") === c.toLong, lit(b)).otherwise(acc)
    }
    val packed = graft.operators.Ranks.cumSumsBy(
        mixed.withColumn("okey",
          col("hsh") * lit(4294967296L) + col("doc_id")),
        Seq("c"), "okey", Seq("tok"), bins = 64)
      .select(col("c"), col("doc_id"), col("lang"), col("tok"),
        col("hsh"), (col("cum_tok") - col("tok") + offBase).as("off"))
      .withColumn("seq_first", expr("off div 2048"))
      .withColumn("seq_last", expr("(off + tok - 1) div 2048"))
      .withColumn("crosses",
        when(col("seq_first") =!= col("seq_last"), 1L).otherwise(0L))
    (cycles, cur, packed, mixed)
  }

  /** Top-quarter selection + threshold of a training-doc CTE under a
    * scored CTE (q327's rule, unscored docs at w_fx = 0). Emits
    * `<p>ad`, `<p>sel` (doc_id, w_fx), `<p>theta` (theta). */
  private[queries] def dsirSelThetaSql(docs: String, scored: String,
      p: String): String =
    s"""${p}ad AS (SELECT d.doc_id, CAST(COALESCE(s.w_fx, 0) AS BIGINT) AS w_fx
        FROM $docs d LEFT JOIN $scored s USING (doc_id)),
      ${p}sel AS MATERIALIZED (SELECT doc_id, w_fx FROM (
        SELECT doc_id, w_fx, row_number() OVER (ORDER BY w_fx DESC, doc_id) AS rnk,
          (SELECT COUNT(*) FROM ${p}ad) AS ndd FROM ${p}ad) WHERE rnk <= ndd // 4),
      ${p}theta AS (SELECT MIN(w_fx) AS theta FROM ${p}sel)"""

  // ---- q352: drift-triggered refresh of the pipeline's frozen model ----

  /** The deterministic drift world — a Caesar shift of every lowercase
    * letter (the stand-in for an upstream text-normalizer/tokenizer
    * change, the q341/q349 'inject' convention on TEXT): every bigram
    * of every word changes, tokenization and token counts are
    * untouched (letters map to letters), and the transform replays
    * exactly in both engines (char-map translate). */
  private[graft] val ShiftFrom = "abcdefghijklmnopqrstuvwxyz"
  private[graft] val ShiftTo = "bcdefghijklmnopqrstuvwxyza"
  private[queries] val ShiftSql =
    s"translate(text, '$ShiftFrom', '$ShiftTo')"

  // ---- q353: token-index drift oracle generators (the q349 world
  // convention on the TOKEN index; all parameterized by world table) ----

  private val Dim64 = "(SELECT unnest(range(1, 65)) AS i) i"

  /** Exact maxsim of world `tb` (doc, tid, e): emits `<p>ms` (qd, cd,
    * score — exact BIGINT micro-cos maxsim) and `<p>exr` (top-5). */
  private[queries] def mvWorldMsSql(tb: String, p: String): String =
    s"""${p}mpc AS MATERIALIZED (SELECT q.doc AS qd, c.doc AS cd, q.tid AS qt,
        CAST(round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.e[i.i] AS DOUBLE))
          / (sqrt(ANY_VALUE(list_sum(list_transform(q.e, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
           * sqrt(ANY_VALUE(list_sum(list_transform(c.e, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))))
          * 1000000) AS BIGINT) AS mc
      FROM (SELECT * FROM $tb WHERE doc < 10) q, $tb c, $Dim64
      WHERE c.doc <> q.doc GROUP BY 1, 2, 3, c.tid),
      ${p}ms AS MATERIALIZED (SELECT qd, cd, CAST(SUM(mx) AS BIGINT) AS score FROM (
        SELECT qd, cd, qt, MAX(mc) AS mx FROM ${p}mpc GROUP BY 1, 2, 3) GROUP BY 1, 2),
      ${p}exr AS MATERIALIZED (SELECT qd, cd FROM (SELECT qd, cd,
        row_number() OVER (PARTITION BY qd ORDER BY score DESC, cd) AS rnk
      FROM ${p}ms) WHERE rnk <= 5)"""

  /** World centroid vectors at the STANDING centroid token ids (`cids`
    * CTE, tid column): the centroid SET survives a re-embedding, its
    * vectors are a lookup. Emits `<p>cent`. */
  private def mvCentsSql(tb: String, p: String): String =
    s"""${p}cent AS MATERIALIZED (SELECT c.tid AS centroid_id, t.e AS centroid
      FROM cids c JOIN $tb t ON c.tid = t.tid)"""

  /** Rounded-dot rank assignment of world `tb` tokens to `<centP>cent`
    * (r <= keepE kept; slice r = 1 for cells, r <= np for probes). */
  private def mvAssignSql(tb: String, centP: String, out: String,
      keepE: String): String =
    s"""$out AS MATERIALIZED (SELECT tid, centroid_id, r FROM (SELECT tid, centroid_id,
        row_number() OVER (PARTITION BY tid ORDER BY d DESC, centroid_id) AS r
      FROM (SELECT t.tid, c.centroid_id,
          round(SUM(CAST(t.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM $tb t, ${centP}cent c, $Dim64
        GROUP BY 1, 2)) WHERE r <= ($keepE))"""

  /** One PLAID serve of world `tb` from SUPPLIED assignments: probe
    * ranks `qa` (tid, centroid_id, r) sliced at npE, corpus cells `ca`
    * (tid, centroid_id), world codes `sq8`, exact rerank against the
    * world's `ms`. Emits `<p>annr` (qd, cd top-5). */
  private def mvServeFromSql(tb: String, qa: String, ca: String,
      sq8: String, ms: String, npE: String, m: Int, p: String): String =
    s"""${p}cd AS MATERIALIZED (SELECT DISTINCT q.doc AS qd, c.tid // 4 AS cd
      FROM $qa qa JOIN $tb q ON qa.tid = q.tid AND q.doc < 10
      JOIN $ca ca ON qa.centroid_id = ca.centroid_id
      JOIN $tb c ON ca.tid = c.tid
      WHERE qa.r <= ($npE) AND q.doc <> c.tid // 4),
      ${p}capx AS MATERIALIZED (SELECT x.qd, x.cd, q.tid AS qt,
          MAX(CAST(list_sum(list_transform(range(1, 65), i -> qs.qc[i] * cs.qc[i])) AS BIGINT)
            * cs.rc) AS amx
        FROM ${p}cd x JOIN $tb q ON q.doc = x.qd JOIN $tb c ON c.doc = x.cd
        JOIN $sq8 qs ON q.tid = qs.tid JOIN $sq8 cs ON c.tid = cs.tid
        GROUP BY 1, 2, 3),
      ${p}pool AS (SELECT qd, cd FROM (SELECT qd, cd,
          row_number() OVER (PARTITION BY qd ORDER BY ascore DESC, cd) AS pr
        FROM (SELECT qd, cd, CAST(SUM(amx) AS BIGINT) AS ascore
          FROM ${p}capx GROUP BY 1, 2)) WHERE pr <= $m),
      ${p}annr AS (SELECT qd, cd FROM (SELECT pl.qd, pl.cd,
          row_number() OVER (PARTITION BY pl.qd ORDER BY ms.score DESC, pl.cd) AS rnk
        FROM ${p}pool pl JOIN $ms ms ON pl.qd = ms.qd AND pl.cd = ms.cd)
      WHERE rnk <= 5)"""

  /** ONE warm Lloyd round over world `tb`'s quantized token coords,
    * seeded from the standing centroid tokens' world coords (the q341
    * q225 kernel at token level): emits `<p>ra1` (tid, centroid_id —
    * the recentered cells) and `<p>qa1` (query-token probe ranks by
    * int64 L2, r kept to nlist — sliced per serve). */
  private def mvLloydSql(tb: String, nlistE: String, p: String): String =
    s"""${p}cq AS MATERIALIZED (SELECT tid, i.i AS i,
        CAST(FLOOR(CAST(e[i.i] AS DOUBLE) * 1000000) AS BIGINT) AS x
      FROM $tb, $Dim64),
      ${p}ctq AS (SELECT c.tid AS ccid, q.i, q.x AS c
        FROM cids c JOIN ${p}cq q ON c.tid = q.tid),
      ${p}ld AS (SELECT cq.tid, c.ccid, SUM((cq.x - c.c) * (cq.x - c.c)) AS dist
        FROM ${p}cq cq JOIN ${p}ctq c USING (i) GROUP BY 1, 2),
      ${p}la AS (SELECT tid, ccid FROM (SELECT tid, ccid,
          row_number() OVER (PARTITION BY tid ORDER BY dist, ccid) AS rn
        FROM ${p}ld) WHERE rn = 1),
      ${p}c1 AS MATERIALIZED (SELECT la.ccid, cq.i,
          CAST(FLOOR(CAST(SUM(cq.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM ${p}cq cq JOIN ${p}la la ON cq.tid = la.tid GROUP BY 1, 2),
      ${p}rd AS MATERIALIZED (SELECT cq.tid, c.ccid, SUM((cq.x - c.c) * (cq.x - c.c)) AS dist
        FROM ${p}cq cq JOIN ${p}c1 c USING (i) GROUP BY 1, 2),
      ${p}ra1 AS MATERIALIZED (SELECT tid, ccid AS centroid_id FROM (
        SELECT tid, ccid, row_number() OVER (PARTITION BY tid ORDER BY dist, ccid) AS rn
        FROM ${p}rd) WHERE rn = 1),
      ${p}qa1 AS MATERIALIZED (SELECT tid, centroid_id, r FROM (
        SELECT rd.tid, rd.ccid AS centroid_id,
          row_number() OVER (PARTITION BY rd.tid ORDER BY rd.dist, rd.ccid) AS r
        FROM ${p}rd rd WHERE rd.tid // 4 < 10) WHERE r <= ($nlistE))"""

  val defs: Map[String, QueryDef] = Map(

    // ---- drift-triggered refresh for the ingest pipeline's model --------
    // q350 scores arriving docs against the frozen base DSIR model
    // FOREVER; the repo's doctrine (q341 scan, q349 graph) is
    // monitoring → maintenance, and the pipeline was the one loop
    // without it. The trigger is FEATURE CHURN — the fraction of the
    // arriving slice's feature instances the frozen weight table has
    // never seen, a statistic the q350 scorer's own inner join already
    // computes the complement of (the dropped rows ARE the unseen
    // features) — exact BIGINT, one broadcast-join scan of the slice.
    // DuckDB sweep (both SFs, BEFORE wiring): same-distribution slice
    // reads 0.000/0.000, the drifted slice 0.795/0.801 — the 2·unseen
    // >= total threshold separates with margin. The measured QUALITY
    // axis is RATE CONTROL — the selection stage's acceptance rate is
    // its operational contract (the q331 mix budgets downstream are
    // sized to the top-quarter design rate): under drift the stale
    // theta passes ~everything (unseen features drop out, scores
    // collapse toward 0 > the negative base theta) — swept 1.000/0.912
    // vs the 0.25 design; retraining on base+slice only half-restores
    // (0.440/0.638 — the slice's small-sample weights over-score their
    // own vocabulary); FULL re-observation (re-featurize the base
    // under the new normalizer — available exactly because this drift
    // class is an upstream processing change) restores the design rate
    // EXACTLY (0.240/0.248 = the same-world rate). The decision —
    // advisePipelineDrift — replays in BIGINT: keep on low churn, else
    // full-retrain only when its |rate − design| miss beats refresh's
    // by > 5 rate-points (it does, decisively, at both SFs — the
    // honest negative: slice-refresh CANNOT restore rate control
    // here). Models/thetas are fixture artifacts; live per-pass work
    // is two slice-feature scans + four slice scorings.
    "q352_llm_pipeline_drift_refresh" -> QueryDef(
      (s, dir) => Jobs.scope(s) { j =>
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val base = docs.filter(expr(
          Slots.Probe.outSql("doc_id")))
        val arrSame = docs.filter(expr(
          Slots.Probe.inSql("doc_id")))
        def shifted(d: DataFrame): DataFrame = d.select(col("doc_id"),
          col("lang"), translate(col("text"), ShiftFrom, ShiftTo).as("text"))
        val arrShift = shifted(arrSame)
        // the frozen model: q350's own standing artifacts, byte-shared
        val (wt, kkA, sel, _) = Round13.pipeBaseState(s, dir)
        val kk = kkA.head().getLong(0)
        val theta = sel.agg(min("w_fx")).head().getLong(0)
        val nArr = arrSame.count()
        // Materialize each world's slice features ONCE: the churn scan
        // and every scoring below would otherwise each re-run the
        // slice tokenize + bigram window (6 executions per pass —
        // guide §2.4); the feature frame is (doc_id, lang, f) rows.
        val featsSame = Jobs.cut(Round13.pipeFeats(arrSame), "q352_feats_same")
        val featsShift =
          Jobs.cut(Round13.pipeFeats(arrShift), "q352_feats_shift")
        // the trigger: arriving feature instances unseen by the frozen
        // weight table (exact BIGINT, one slice scan per world)
        def churnOf(feats: DataFrame): (Long, Long) = {
          val r = feats
            .join(broadcast(wt.select(col("f"), lit(1).as("seen"))),
              Seq("f"), "left")
            .agg(sum(when(col("seen").isNull, 1L).otherwise(0L)),
              count(lit(1))).head()
          (r.getLong(0), r.getLong(1))
        }
        val fChS = j.part("q352_churn_same")(churnOf(featsSame))
        val fChH = j.part("q352_churn_shift")(churnOf(featsShift))
        val (unS, totS) = fChS.get
        val (unH, totH) = fChH.get
        // pin the scenario branches (q320/q341 convention)
        require(2L * unS < totS,
          s"the same-distribution slice must stay below the churn " +
            s"threshold ($unS of $totS instances unseen)")
        require(2L * unH >= totH,
          s"the drifted slice must fire the churn threshold " +
            s"($unH of $totH instances unseen)")
        // selection counts per (world, model)
        def nSel(label: String, feats: DataFrame, w: DataFrame, k: Long,
            th: Long): Jobs.Part[Long] = j.part(s"q352_sel_$label")(
          Round13.dsirScore(feats, w, k)
            .filter(col("w_fx") > lit(th)).count())
        val fSameStale = nSel("same_stale", featsSame, wt, kk, theta)
        val fShiftStale = nSel("shift_stale", featsShift, wt, kk, theta)
        // refreshed model: retrained on base(original) + arrived(shift)
        // — the cheap warm option (the pipeline has observed exactly
        // this data); theta re-derived by the same top-quarter rule
        // over its own training corpus
        def trainArt(label: String, trainDocs: => DataFrame):
            (DataFrame, Long, Long) = {
          val fcnt = graft.util.FixtureArtifact.parquet(s, dir,
            "documents.parquet", s"pipe_drift_${label}_fcnt")(
            Round13.dsirFcnt(Round13.pipeFeats(trainDocs)))
          val w = graft.util.FixtureArtifact.parquet(s, dir,
            "documents.parquet", s"pipe_drift_${label}_wt")(
            Round13.dsirWtOf(fcnt))
          val kkL = graft.util.FixtureArtifact.parquet(s, dir,
            "documents.parquet", s"pipe_drift_${label}_kk")(
            Round13.dsirKkOf(fcnt)).head().getLong(0)
          val selA = graft.util.FixtureArtifact.parquet(s, dir,
            "documents.parquet", s"pipe_drift_${label}_sel")(
            Round13.dsirTopQuarter(trainDocs,
              Round13.dsirScore(Round13.pipeFeats(trainDocs), w, kkL)))
          (w, kkL, selA.agg(min("w_fx")).head().getLong(0))
        }
        val (rWt, rKk, rTheta) =
          trainArt("ref", base.unionByName(arrShift))
        val (fWt, fKk, fTheta) =
          trainArt("full", shifted(base).unionByName(arrShift))
        val fShiftRef = nSel("shift_ref", featsShift, rWt, rKk, rTheta)
        val fShiftFull = nSel("shift_full", featsShift, fWt, fKk, fTheta)
        val nSameStale = fSameStale.get
        val nShiftStale = fShiftStale.get
        val nShiftRef = fShiftRef.get
        val nShiftFull = fShiftFull.get
        // rate deviations from the top-quarter design rate, in exact
        // 4·count units (dev/nArr = 4·|rate − 0.25|)
        def dev(n: Long): Long = math.abs(4L * n - nArr)
        val decSame = IndexAdvisor.advisePipelineDrift(unS, totS,
          dev(nShiftRef), dev(nShiftFull), nArr)
        val decShift = IndexAdvisor.advisePipelineDrift(unH, totH,
          dev(nShiftRef), dev(nShiftFull), nArr)
        def code(d: String): Long = d match {
          case "keep" => 0L; case "refresh" => 1L; case _ => 2L }
        import s.implicits._
        Seq(
          ("same", "fchurn", unS, totS,
            unS.toDouble / totS),
          ("shift", "fchurn", unH, totH,
            unH.toDouble / totH),
          ("same", "decide", code(decSame), nArr, 0.0),
          ("shift", "decide", code(decShift), nArr,
            (dev(nShiftRef) - dev(nShiftFull)).toDouble / nArr),
          ("same", "kept", nSameStale, nArr,
            nSameStale.toDouble / nArr),
          ("shift", "stale", nShiftStale, nArr,
            nShiftStale.toDouble / nArr),
          ("shift", "refreshed", nShiftRef, nArr,
            nShiftRef.toDouble / nArr),
          ("shift", "fullretrain", nShiftFull, nArr,
            nShiftFull.toDouble / nArr))
          .toDF("sel", "dial", "n_hits", "n_tot", "frac")
          .orderBy("sel", "dial")
      },
      Some(s"""WITH bdocs AS MATERIALIZED (SELECT doc_id, lang, text
        FROM documents WHERE ${Round13.PipeBasePred}),
      asame AS MATERIALIZED (SELECT doc_id, lang, text
        FROM documents WHERE ${Round13.PipeStreamPred}),
      ashift AS MATERIALIZED (SELECT doc_id, lang, $ShiftSql AS text
        FROM documents WHERE ${Round13.PipeStreamPred}),
      bshift AS MATERIALIZED (SELECT doc_id, lang, $ShiftSql AS text
        FROM documents WHERE ${Round13.PipeBasePred}),
      ${dsirFeatSql("bdocs", "b")},
      ${dsirFeatSql("asame", "s")},
      ${dsirFeatSql("ashift", "h")},
      ${dsirFeatSql("bshift", "w")},
      ${dsirModelSql("bfh", "mb")},
      rfh AS (SELECT * FROM bfh UNION ALL SELECT * FROM hfh),
      ${dsirModelSql("rfh", "mr")},
      ffh AS (SELECT * FROM wfh UNION ALL SELECT * FROM hfh),
      ${dsirModelSql("ffh", "mf")},
      chs AS (SELECT CAST(COUNT(*) AS BIGINT) AS total,
          CAST(SUM(CASE WHEN mbwt.f IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unseen
        FROM sfh LEFT JOIN mbwt ON sfh.f = mbwt.f),
      chh AS (SELECT CAST(COUNT(*) AS BIGINT) AS total,
          CAST(SUM(CASE WHEN mbwt.f IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unseen
        FROM hfh LEFT JOIN mbwt ON hfh.f = mbwt.f),
      ${dsirScoreSql("bfh", "mb", "bsc")},
      ${dsirSelThetaSql("bdocs", "bsc", "tb")},
      ${dsirScoreSql("sfh", "mb", "ssc")},
      ${dsirScoreSql("hfh", "mb", "hsc")},
      nss AS (SELECT COUNT(*) AS n FROM ssc
        WHERE w_fx > (SELECT theta FROM tbtheta)),
      nhs AS (SELECT COUNT(*) AS n FROM hsc
        WHERE w_fx > (SELECT theta FROM tbtheta)),
      rdocs AS (SELECT doc_id FROM bdocs UNION ALL SELECT doc_id FROM ashift),
      ${dsirScoreSql("rfh", "mr", "rsc")},
      ${dsirSelThetaSql("rdocs", "rsc", "tr")},
      ${dsirScoreSql("hfh", "mr", "hr")},
      nhr AS (SELECT COUNT(*) AS n FROM hr
        WHERE w_fx > (SELECT theta FROM trtheta)),
      fdocs AS (SELECT doc_id FROM bshift UNION ALL SELECT doc_id FROM ashift),
      ${dsirScoreSql("ffh", "mf", "fsc")},
      ${dsirSelThetaSql("fdocs", "fsc", "tf")},
      ${dsirScoreSql("hfh", "mf", "hf")},
      nhf AS (SELECT COUNT(*) AS n FROM hf
        WHERE w_fx > (SELECT theta FROM tftheta)),
      na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM asame),
      devs AS (SELECT
          CAST(abs(4 * (SELECT n FROM nhr) - (SELECT n FROM na)) AS BIGINT) AS dref,
          CAST(abs(4 * (SELECT n FROM nhf) - (SELECT n FROM na)) AS BIGINT) AS dfull)
      SELECT * FROM (
        SELECT 'same' AS sel, 'fchurn' AS dial,
          CAST((SELECT unseen FROM chs) AS BIGINT) AS n_hits,
          CAST((SELECT total FROM chs) AS BIGINT) AS n_tot,
          CAST((SELECT unseen FROM chs) AS DOUBLE) / (SELECT total FROM chs) AS frac
        UNION ALL
        SELECT 'shift', 'fchurn', (SELECT unseen FROM chh),
          (SELECT total FROM chh),
          CAST((SELECT unseen FROM chh) AS DOUBLE) / (SELECT total FROM chh)
        UNION ALL
        SELECT 'same', 'decide',
          CAST(CASE WHEN 2 * (SELECT unseen FROM chs) < (SELECT total FROM chs)
            THEN 0 ELSE CASE WHEN 5 * ((SELECT dref FROM devs) - (SELECT dfull FROM devs))
              > (SELECT n FROM na) THEN 2 ELSE 1 END END AS BIGINT),
          (SELECT n FROM na), 0.0
        UNION ALL
        SELECT 'shift', 'decide',
          CAST(CASE WHEN 2 * (SELECT unseen FROM chh) < (SELECT total FROM chh)
            THEN 0 ELSE CASE WHEN 5 * ((SELECT dref FROM devs) - (SELECT dfull FROM devs))
              > (SELECT n FROM na) THEN 2 ELSE 1 END END AS BIGINT),
          (SELECT n FROM na),
          CAST((SELECT dref FROM devs) - (SELECT dfull FROM devs) AS DOUBLE)
            / (SELECT n FROM na)
        UNION ALL
        SELECT 'same', 'kept', (SELECT n FROM nss), (SELECT n FROM na),
          CAST((SELECT n FROM nss) AS DOUBLE) / (SELECT n FROM na)
        UNION ALL
        SELECT 'shift', 'stale', (SELECT n FROM nhs), (SELECT n FROM na),
          CAST((SELECT n FROM nhs) AS DOUBLE) / (SELECT n FROM na)
        UNION ALL
        SELECT 'shift', 'refreshed', (SELECT n FROM nhr), (SELECT n FROM na),
          CAST((SELECT n FROM nhr) AS DOUBLE) / (SELECT n FROM na)
        UNION ALL
        SELECT 'shift', 'fullretrain', (SELECT n FROM nhf), (SELECT n FROM na),
          CAST((SELECT n FROM nhf) AS DOUBLE) / (SELECT n FROM na))
      ORDER BY sel, dial""")),

    // ---- pack-waste accounting + tail compaction -------------------------
    // Every q350 ingest cycle rounds its append origin to the next
    // 2048-token sequence boundary and reports NOTHING — N cycles
    // strand up to N·2047 tokens of padding (the round-13 verdict's
    // missing q193-style waste accounting). This row replays the
    // frozen-model selection as three ingest cycles (the arriving
    // selected docs split by hsh % 3 — deterministic arrival order),
    // each mixed with its OWN half-share budget (the q350 increment
    // contract) and packed append-only from the running boundary;
    // emits the layout WITH waste rows (per-cycle padding, exact token
    // counts — measured 0.96/0.72 of the appended span at the two SFs)
    // and the advisePackCompaction decision (4·pad >= span; padding is
    // bounded by cycles·2047 while data grows, so the decision flips
    // to keep at the 100× probe by integer admissibility). The
    // COMPACTED tail — the union of the cycles' mixed doc sets
    // re-packed as ONE increment from the first post-base boundary,
    // the pack stage alone re-run (pipePack), no re-mixing — is always
    // measured (the q349 contrast convention): its rows ARE the
    // from-scratch pack of the same doc set (the oracle replays
    // exactly that — the hash compare IS the bit-identity proof), base
    // rows untouched, and the waste_after row shows the reclaim (only
    // the single base-edge pad survives). Scale shape: per-cycle mix/
    // pack touch only that cycle's docs; compaction touches only the
    // appended tail; base state is the q350 artifact set, byte-shared.
    "q354_llm_pack_waste_compaction" -> QueryDef(
      (s, dir) => {
        val (wt, kkA, selB, packBase) = Round13.pipeBaseState(s, dir)
        val kk = kkA.head().getLong(0)
        val theta = selB.agg(min("w_fx")).head().getLong(0)
        val bend = packBase.agg(coalesce(sum("tok"), lit(0L)))
          .head().getLong(0)
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val arr = docs.filter(expr(Round13.PipeStreamPred))
        val selArr = Round13.dsirScore(Round13.pipeFeats(arr), wt, kk)
          .filter(col("w_fx") > lit(theta)).select("doc_id")
        // Materialize the selected-slice accounting rows ONCE: the
        // require plus the three cycle filters below would otherwise
        // each re-run the slice tokenize + score + semi-join (4 full
        // passes over the arriving docs per execution — guide §2.4,
        // "remove shuffles outright"; the frame is a few hundred
        // 4-column rows, the lineage hard-cut costs nothing).
        val tdAll = Jobs.cut(Round13.pipeTokHsh(arr)
          .join(selArr, Seq("doc_id"), "left_semi"), "q354_td")
        require(tdAll.limit(1).count() > 0,
          "no streamed doc beat the frozen threshold — the appended " +
            "slice is empty on this fixture (q320 convention)")
        // Three ingest cycles through the shared one-pass chain (see
        // cycleMixPackAll — bit-identical to the per-cycle form).
        val (cycles, cur, packedC, mixed) = cycleMixPackAll(s,
          tdAll.withColumn("c", pmod(col("hsh"), lit(3L))),
          bend, "q354")
        val b1 = cycles.head._4
        val totPad = cycles.map(_._2).sum
        val span = cur - bend
        val decision = IndexAdvisor.advisePackCompaction(totPad, span)
        val packed = packedC
          .withColumn("part", concat(lit("cyc"), col("c")))
          .drop("c")
        val compacted = Round13.pipePack(
          mixed.select("doc_id", "lang", "tok", "hsh"), b1)
        import s.implicits._
        val stats = (cycles.map { case (c, pad, endPrev, _) =>
          ("waste", c.toLong, "pad", pad, -1L, endPrev, -1L, -1L, 0L) } ++
          Seq(
            ("waste_after", -1L, "pad", b1 - bend, -1L, bend, -1L, -1L, 0L),
            ("decide", if (decision == "compact") 1L else 0L, "",
              totPad, span, cur, -1L, -1L, 0L)))
          .toDF("part", "doc_id", "lang", "tok", "hsh", "off",
            "seq_first", "seq_last", "crosses")
        val layout = packed
          .unionByName(compacted.withColumn("part", lit("compacted")))
          .select(col("part"), col("doc_id"), col("lang"), col("tok"),
            col("hsh"), col("off"), col("seq_first"), col("seq_last"),
            col("crosses"))
        stats.unionByName(layout).orderBy("part", "off", "doc_id")
      },
      Some({
        s"""WITH $pipeCycleChainSql
        SELECT * FROM (
          SELECT 'waste' AS part, CAST(0 AS BIGINT) AS doc_id,
            'pad' AS lang, (SELECT p0 FROM pads) AS tok,
            CAST(-1 AS BIGINT) AS hsh, (SELECT e FROM bend) AS off,
            CAST(-1 AS BIGINT) AS seq_first, CAST(-1 AS BIGINT) AS seq_last,
            CAST(0 AS BIGINT) AS crosses
          UNION ALL
          SELECT 'waste', 1, 'pad', (SELECT p1 FROM pads), -1,
            (SELECT e FROM ee1), -1, -1, 0
          UNION ALL
          SELECT 'waste', 2, 'pad', (SELECT p2 FROM pads), -1,
            (SELECT e FROM ee2), -1, -1, 0
          UNION ALL
          SELECT 'waste_after', -1, 'pad',
            (SELECT b FROM bb1) - (SELECT e FROM bend), -1,
            (SELECT e FROM bend), -1, -1, 0
          UNION ALL
          SELECT 'decide',
            CAST(CASE WHEN 4 * ((SELECT p0 FROM pads) + (SELECT p1 FROM pads)
                + (SELECT p2 FROM pads))
              >= (SELECT e FROM ee3) - (SELECT e FROM bend)
              AND (SELECT e FROM ee3) > (SELECT e FROM bend)
              THEN 1 ELSE 0 END AS BIGINT),
            '', (SELECT p0 FROM pads) + (SELECT p1 FROM pads) + (SELECT p2 FROM pads),
            (SELECT e FROM ee3) - (SELECT e FROM bend),
            (SELECT e FROM ee3), -1, -1, 0
          UNION ALL ${layoutRowSql("cyc0", "c0p")}
          UNION ALL ${layoutRowSql("cyc1", "c1p")}
          UNION ALL ${layoutRowSql("cyc2", "c2p")}
          UNION ALL ${layoutRowSql("compacted", "cmp")})
        ORDER BY part, off, doc_id"""
      })),

    // ---- the pipeline's maintenance loops run INLINE (capstone) ----------
    // q350 ingests, q352 decides model refresh, q354 decides
    // compaction — three rows, three separate decisions. A production
    // pipeline runs them as ONE loop: this row streams the arriving
    // docs as three ingest cycles (the q354 hsh%3 split, each cycle
    // its own AvailableNow run — "three ingest days"), and every
    // micro-batch ALSO accumulates the q352 churn statistic (one
    // broadcast-join scan — the trigger is the complement of the
    // scorer's own inner join, so monitoring is nearly free),
    // MERGE-idempotent for both selection and stats. At stream end
    // the two maintenance decisions run on the accumulated integers:
    // advisePipelineDrift reads the same-distribution stream's churn
    // (require-pinned below threshold → keep, the scenario this
    // fixture encodes; the drifted scenario is q352's own row) and
    // advisePackCompaction reads the three cycles' padding (fires at
    // both SFs) — and unlike q354, the compaction decision is
    // APPLIED: the maintained layout's tail IS the compacted re-pack
    // (SQL-gated on the replayed decision, the q306 recipe; the keep
    // branch would carry the per-cycle layouts). The oracle is the
    // pure batch replay of the whole loop on the union fixture — the
    // hash compare is simultaneously the stream ≡ batch proof AND the
    // compaction bit-identity proof; re-entrancy spec-tested (the
    // q350 contract extended to stats accumulation). Scale shape: all
    // q350/q354 terms (scoring linear in arriving docs by necessity,
    // mix/pack per cycle, compaction tail-only) + one broadcast-join
    // churn scan per batch.
    "q357_stream_pipeline_maintained" -> QueryDef(
      (s, dir) => {
        val (wt, kkA, selB, packBase) = Round13.pipeBaseState(s, dir)
        val kk = kkA.head().getLong(0)
        val theta = selB.agg(min("w_fx")).head().getLong(0)
        val bend = packBase.agg(coalesce(sum("tok"), lit(0L)))
          .head().getLong(0)
        MemCatalog.recreate(s, "pipe_maint_sel",
          "(doc_id BIGINT, lang STRING, tok BIGINT, hsh BIGINT, cyc BIGINT)")
        MemCatalog.recreate(s, "pipe_maint_churn",
          "(cyc BIGINT, bid BIGINT, unseen BIGINT, total BIGINT)")
        (0 to 2).foreach { c =>
          val probe = EventStreams.fixtureStream(s, dir, "documents")
            .filter(expr(Round13.PipeStreamPred))
            .filter(pmod(Slots.of(col("doc_id"), 1000003L), lit(3L)) === c)
          EventTime.withShufflePartitions(s, 8) {
            EventStreams.drain(probe) { (batch, bid) =>
              val b = batch.select(col("doc_id"), col("lang"), col("text"))
              val feats = Round13.pipeFeats(b)
              EventStreams.insertNew(feats.join(broadcast(wt.select(col("f"),
                    lit(1).as("seen"))), Seq("f"), "left")
                  .agg(sum(when(col("seen").isNull, 1L).otherwise(0L))
                    .as("unseen"), count(lit(1)).as("total"))
                  .select(lit(c.toLong).as("cyc"), lit(bid).as("bid"),
                    col("unseen"), col("total")),
                "pipe_maint_churn", "cyc", "bid")
              val scored = Round13.dsirScore(feats, wt, kk)
                .filter(col("w_fx") > lit(theta))
              EventStreams.insertNew(Round13.pipeTokHsh(b)
                  .join(scored.select("doc_id"), Seq("doc_id"), "left_semi")
                  .withColumn("cyc", lit(c.toLong)),
                "pipe_maint_sel", "doc_id")
            }
          }
        }
        val selAll = s.sql(
          "SELECT doc_id, lang, tok, hsh, cyc FROM graftmem.pipe_maint_sel")
        require(selAll.limit(1).count() > 0,
          "no streamed doc beat the frozen threshold — the appended " +
            "slice is empty on this fixture (q320 convention)")
        val ch = s.sql("""SELECT CAST(COALESCE(SUM(unseen), 0) AS BIGINT),
            CAST(COALESCE(SUM(total), 0) AS BIGINT)
          FROM graftmem.pipe_maint_churn""").head()
        val (unseen, total) = (ch.getLong(0), ch.getLong(1))
        require(2L * unseen < total,
          s"the same-distribution stream must stay below the churn " +
            s"threshold ($unseen of $total instances unseen — the " +
            "drifted scenario is q352's row)")
        val nArr = t(s, dir, "documents")
          .filter(expr(Round13.PipeStreamPred)).count()
        val decModel = IndexAdvisor.advisePipelineDrift(unseen, total,
          0L, 0L, nArr)
        // the three per-cycle mix/packs through the shared one-pass
        // chain (see cycleMixPackAll — bit-identical to the per-cycle
        // form)
        val (cycles, cur, packedC, mixed) = cycleMixPackAll(s,
          selAll.select(col("cyc").as("c"), col("doc_id"), col("lang"),
            col("tok"), col("hsh")),
          bend, "q357")
        val b1 = (bend + 2047L) / 2048L * 2048L
        val totPad = cycles.map(_._2).sum
        val span = cur - bend
        val decPack = IndexAdvisor.advisePackCompaction(totPad, span)
        // the decision APPLIED: the maintained tail
        val tail =
          if (decPack == "compact")
            Round13.pipePack(
              mixed.select("doc_id", "lang", "tok", "hsh"), b1)
          else packedC.drop("c")
        import s.implicits._
        val stats = (Seq(
          ("stat_churn", 0L, decModel, unseen, total, nArr, -1L, -1L, 0L),
          ("stat_pack", if (decPack == "compact") 1L else 0L, decPack,
            totPad, span, cur, -1L, -1L, 0L)) ++
          cycles.map { case (c, pad, endPrev, _) =>
            ("stat_pad", c.toLong, "pad", pad, -1L, endPrev, -1L, -1L, 0L) })
          .toDF("part", "doc_id", "lang", "tok", "hsh", "off",
            "seq_first", "seq_last", "crosses")
        val layout = packBase.withColumn("part", lit("base"))
          .unionByName(tail.withColumn("part", lit("tail")))
          .select(col("part"), col("doc_id"), col("lang"), col("tok"),
            col("hsh"), col("off"), col("seq_first"), col("seq_last"),
            col("crosses"))
        stats.unionByName(layout).orderBy("part", "off", "doc_id")
      },
      Some(s"""WITH $pipeCycleChainSql,
      bmx AS (SELECT doc_id, lang, tok, hsh FROM brn
        WHERE run - tok < (SELECT bud FROM bbud)),
      brn2 AS (SELECT *, CAST(SUM(tok) OVER (ORDER BY hsh, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run2 FROM bmx),
      bpk AS (SELECT doc_id, lang, tok, hsh, run2 - tok AS off,
          (run2 - tok) // 2048 AS seq_first, (run2 - 1) // 2048 AS seq_last,
          CAST(CASE WHEN (run2 - tok) // 2048 <> (run2 - 1) // 2048
            THEN 1 ELSE 0 END AS BIGINT) AS crosses
        FROM brn2),
      mch AS (SELECT CAST(COUNT(*) AS BIGINT) AS total,
          CAST(SUM(CASE WHEN mbwt.f IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS unseen
        FROM pfh LEFT JOIN mbwt ON pfh.f = mbwt.f),
      mna AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pdocs),
      mdec AS (SELECT CAST(CASE WHEN 4 * ((SELECT p0 FROM pads)
            + (SELECT p1 FROM pads) + (SELECT p2 FROM pads))
          >= (SELECT e FROM ee3) - (SELECT e FROM bend)
          AND (SELECT e FROM ee3) > (SELECT e FROM bend)
          THEN 1 ELSE 0 END AS BIGINT) AS d)
      SELECT * FROM (
        SELECT 'stat_churn' AS part, CAST(0 AS BIGINT) AS doc_id,
          CASE WHEN 2 * (SELECT unseen FROM mch) < (SELECT total FROM mch)
            THEN 'keep' ELSE 'refresh' END AS lang,
          (SELECT unseen FROM mch) AS tok,
          (SELECT total FROM mch) AS hsh,
          (SELECT n FROM mna) AS off,
          CAST(-1 AS BIGINT) AS seq_first, CAST(-1 AS BIGINT) AS seq_last,
          CAST(0 AS BIGINT) AS crosses
        UNION ALL
        SELECT 'stat_pack', (SELECT d FROM mdec),
          CASE WHEN (SELECT d FROM mdec) = 1 THEN 'compact' ELSE 'keep' END,
          (SELECT p0 FROM pads) + (SELECT p1 FROM pads) + (SELECT p2 FROM pads),
          (SELECT e FROM ee3) - (SELECT e FROM bend),
          (SELECT e FROM ee3), -1, -1, 0
        UNION ALL
        SELECT 'stat_pad', 0, 'pad', (SELECT p0 FROM pads), -1,
          (SELECT e FROM bend), -1, -1, 0
        UNION ALL
        SELECT 'stat_pad', 1, 'pad', (SELECT p1 FROM pads), -1,
          (SELECT e FROM ee1), -1, -1, 0
        UNION ALL
        SELECT 'stat_pad', 2, 'pad', (SELECT p2 FROM pads), -1,
          (SELECT e FROM ee2), -1, -1, 0
        UNION ALL ${layoutRowSql("base", "bpk")}
        UNION ALL SELECT 'tail', doc_id, lang, tok, hsh, off, seq_first,
          seq_last, crosses FROM cmp WHERE (SELECT d FROM mdec) = 1
        UNION ALL SELECT 'tail', doc_id, lang, tok, hsh, off, seq_first,
          seq_last, crosses FROM c0p WHERE (SELECT d FROM mdec) = 0
        UNION ALL SELECT 'tail', doc_id, lang, tok, hsh, off, seq_first,
          seq_last, crosses FROM c1p WHERE (SELECT d FROM mdec) = 0
        UNION ALL SELECT 'tail', doc_id, lang, tok, hsh, off, seq_first,
          seq_last, crosses FROM c2p WHERE (SELECT d FROM mdec) = 0)
      ORDER BY part, off, doc_id""")),

    // ---- budgeted lexical rung for the hybrid node -----------------------
    // Every vector family has a measured compressed/pruned rung; the
    // hybrid node's lexical arm served exact BM25 from full posting
    // lists (q344/q351's bm25Lrank20) — a candidate budget could never
    // bind on half the node (the round-13 verdict's #4). The rung:
    // walk each query's terms in GLOBAL RARITY order (df ASC, term
    // ASC — the MaxScore/WAND processing order; on any corpus the
    // rarest term is both the cheapest posting list and the highest-
    // impact one), rank a 200-doc pool by the partial score over the
    // walked prefix, exact-rerank the pool. tStar = the largest
    // budget-admissible prefix from the worst-query cost table
    // (walked postings + pool-rerank bound, exact BIGINT from the
    // standing df table — adviseLexicalPrefix); when tStar covers
    // every query's whole term list the pool is ranked by the FULL
    // score and the serve IS exact BM25 — ONE code path, the flip is
    // which prefix the budget admits. Swept BEFORE wiring (both SFs):
    // posting-level static pruning is hopeless on this fixture (the
    // vocabulary is 31 near-uniform-df terms — champion lists read
    // 0.217 recall at P=128 because per-term impact favors SHORT docs
    // while the top-20 are long many-term matches), but the prefix
    // rung holds: at the 90000-posting SLO sf0.01 admits the full
    // walk (16503 → decide=exact, arm 1.000, fused 1.000) while
    // sf0.1's full walk costs 117955 → tStar=21 of 29 (cost 86725),
    // arm recall@20 0.940 and FUSED recall@5 0.980 — RRF fusion
    // absorbs most of the pruned arm's loss (T=12's 0.552 arm still
    // fuses to 0.850). At the 10×/100× probes the walk outgrows any
    // prefix (even T=1) — the floor serve runs and the decision
    // honestly reads pruned-at-floor (the q323 rule: report, never
    // inflate). Standing artifacts: bm25_tf/dl (shared with q344/
    // q351), the impact index bm25_imp, exact_top20_hyb (byte-shared).
    "q355_llm_hybrid_lexical_budgeted" -> QueryDef(
      (s, dir) => {
        val nQ = 20
        val poolM = 200
        graft.plans.NativeExpressions.register(s)
        val vx = Round6c.exactTop20Hyb(s, dir)
        val lrank = Round12.bm25Lrank20(s, dir)
        // the standing impact index: per-posting BM25 contribution —
        // query-independent (df, dl and the corpus stats are global),
        // so the pruning order is a property of the index, not the
        // query stream (static index pruning, the WAND family)
        val (tf, dl) = Round12.bm25TfDl(s, dir)
        val imp = graft.util.FixtureArtifact.parquet(s, dir,
          "documents.parquet", "bm25_imp") {
          val stats = dl.agg(count(lit(1)).as("n_docs"),
            sum("dl").as("t_tokens"))
          val dfv = tf.groupBy("term").agg(count(lit(1)).as("df"))
          tf.join(broadcast(dfv), Seq("term"))
            .join(dl, Seq("doc_id"))
            .crossJoin(broadcast(stats))
            .withColumn("tscore", expr(
              """((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
                 (CAST(df AS DOUBLE) + 0.5)) * (CAST(f AS DOUBLE) * 2.2) /
                 (CAST(f AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) *
                 CAST(n_docs AS DOUBLE) / CAST(t_tokens AS DOUBLE)))"""))
            .select(col("doc_id"), col("term"), col("tscore"), col("df"))
        }
        // per-query walk order + the decision's cost table (bounded:
        // nQ queries × a doc's distinct terms — per-query SLO stats,
        // the plan-choice class)
        val wq = Window.partitionBy("qid").orderBy(col("df"), col("term"))
        val qord = imp.filter(col("doc_id") < nQ)
          .select(col("doc_id").as("qid"), col("term"), col("df"))
          .withColumn("tr", row_number().over(wq))
        val qo = qord.select("qid", "df", "tr").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        val walks = qo.groupBy(_._1).values.map { rows =>
          rows.sortBy(_._3).map(_._2).scanLeft(0L)(_ + _).drop(1)
        }.toSeq
        val maxNqt = walks.map(_.length).max
        val costs = (1 to maxNqt).map { tt =>
          walks.map(w =>
            w(math.min(tt, w.length) - 1) + poolM.toLong * w.length).max
        }
        val (tStar, dec) = IndexAdvisor.adviseLexicalPrefix(costs, maxNqt,
          LexBudget)
        // the serve — one code path for both decisions
        val qt = qord.select("qid", "term", "tr")
        val foldScore = expr(
          """round(aggregate(transform(
             array_sort(collect_list(struct(term, tscore))), x -> x.tscore),
             0.0D, (a, x) -> a + x), 6)""")
        // the walked-terms side (≤ nQ × tStar rows) and the pool
        // (≤ nQ × poolM rows) are corpus-size-INDEPENDENT by
        // construction — broadcast them so the impact index is never
        // shuffled (guide §2.3/§3.1: without stats these joins planned
        // sort-merge, re-shuffling ~0.77·nd postings at the 100× probe
        // regardless of tStar — the PROBES_r14 4.9×/decade term)
        val pool = TopK.perGroup(imp
            .join(broadcast(qt.filter(col("tr") <= tStar)
              .select("qid", "term")), Seq("term"))
            .filter(col("doc_id") =!= col("qid"))
            .groupBy("qid", "doc_id").agg(foldScore.as("ps"))
            .withColumnRenamed("doc_id", "cid"),
          Seq("qid"), Seq(col("ps").desc, col("cid")), poolM, rankCol = "pr")
          .select("qid", "cid")
        val wr = Window.partitionBy("qid")
          .orderBy(col("score").desc, col("cid"))
        val srv0 = broadcast(pool)
          .join(imp.select(col("doc_id").as("cid"), col("term"),
            col("tscore")), Seq("cid"))
          .join(broadcast(qt.select("qid", "term")), Seq("qid", "term"))
          .groupBy("qid", "cid").agg(foldScore.as("score"))
          .withColumn("rl", row_number().over(wr))
          .filter(col("rl") <= 20).select("qid", "cid", "rl")
        val srv = Jobs.cut(srv0, "q355_srv")
        def fuse(l: DataFrame): DataFrame = {
          val l20 = l.filter(col("rl") <= 20)
          val v20 = vx.filter(col("rv") <= 20)
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
        val armHits = lrank.select("qid", "cid")
          .join(srv.select("qid", "cid"), Seq("qid", "cid"))
          .groupBy("qid").agg(count(lit(1)).as("h"))
        val armRows = lrank.select("qid").distinct()
          .join(armHits, Seq("qid"), "left")
          .select(lit("lex").as("sel"), lit("arm").as("dial"), col("qid"),
            coalesce(col("h"), lit(0L)).as("n_hits"),
            (coalesce(col("h"), lit(0L)).cast("double") / lit(20.0))
              .as("recall"))
        val fusedRows = Round11.taggedRecall("hyb", "fused",
          fuse(lrank), fuse(srv))
        import s.implicits._
        val decideRow = Seq(("lex", s"decide_$dec", -1L, tStar.toLong,
          costs(tStar - 1).toDouble / LexBudget))
          .toDF("sel", "dial", "qid", "n_hits", "recall")
        decideRow.unionByName(armRows).unionByName(fusedRows)
          .orderBy("sel", "dial", "qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      ${Round12.bm25DocSql(20)},
      ${Round13.hybVxSql},
      imp AS MATERIALIZED (SELECT tf2.doc_id, tf2.term, dfv2.df,
          ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
          (CAST(df AS DOUBLE) + 0.5)) * (CAST(f AS DOUBLE) * 2.2) /
          (CAST(f AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) *
          CAST(n_docs AS DOUBLE) / CAST(t_tokens AS DOUBLE))) AS tscore
        FROM tf2 JOIN dfv2 USING (term)
        JOIN dl2 ON tf2.doc_id = dl2.doc_id, st2),
      qord AS MATERIALIZED (SELECT qid, term, df,
          row_number() OVER (PARTITION BY qid ORDER BY df, term) AS tr
        FROM qt2 JOIN dfv2 USING (term)),
      lwk AS (SELECT qid, tr, CAST(SUM(df) OVER (PARTITION BY qid
          ORDER BY tr) AS BIGINT) AS walk FROM qord),
      lnq AS (SELECT qid, COUNT(*) AS nt FROM qord GROUP BY 1),
      mxq AS (SELECT MAX(nt) AS m FROM lnq),
      ctt AS (SELECT g.t, MAX(w.walk + 200 * n.nt) AS cost
        FROM (SELECT unnest(range(1, (SELECT m FROM mxq) + 1)) AS t) g
        JOIN lnq n ON TRUE
        JOIN lwk w ON w.qid = n.qid AND w.tr = LEAST(g.t, n.nt)
        GROUP BY 1),
      tsr AS (SELECT COALESCE(MAX(t), 1) AS tstar FROM ctt
        WHERE cost <= $LexBudget),
      decs AS (SELECT CASE WHEN (SELECT tstar FROM tsr) >= (SELECT m FROM mxq)
        THEN 'exact' ELSE 'pruned' END AS d),
      lpool AS MATERIALIZED (SELECT qid, cid FROM (
          SELECT qid, cid, row_number() OVER (PARTITION BY qid
            ORDER BY ps DESC, cid) AS pr
          FROM (SELECT q.qid, imp.doc_id AS cid,
              round(list_reduce(list(tscore ORDER BY imp.term),
                (a, x) -> a + x), 6) AS ps
            FROM imp JOIN qord q ON imp.term = q.term
            WHERE imp.doc_id <> q.qid AND q.tr <= (SELECT tstar FROM tsr)
            GROUP BY 1, 2)) WHERE pr <= 200),
      srv AS MATERIALIZED (SELECT qid, cid, rl FROM (
          SELECT qid, cid, row_number() OVER (PARTITION BY qid
            ORDER BY score DESC, cid) AS rl
          FROM (SELECT p.qid, p.cid,
              round(list_reduce(list(tscore ORDER BY imp.term),
                (a, x) -> a + x), 6) AS score
            FROM lpool p JOIN imp ON imp.doc_id = p.cid
            JOIN qt2 ON qt2.qid = p.qid AND qt2.term = imp.term
            GROUP BY 1, 2)) WHERE rl <= 20),
      lr20 AS (SELECT qid, cid, rl FROM lrank WHERE rl <= 20),
      ${lexFuseSql("lr20", "t")},
      ${lexFuseSql("srv", "s")}
      SELECT * FROM (
        SELECT 'lex' AS sel, 'decide_' || (SELECT d FROM decs) AS dial,
          CAST(-1 AS BIGINT) AS qid,
          CAST((SELECT tstar FROM tsr) AS BIGINT) AS n_hits,
          CAST((SELECT cost FROM ctt WHERE t = (SELECT tstar FROM tsr))
            AS DOUBLE) / $LexBudget AS recall
        UNION ALL
        SELECT 'lex', 'arm', q.qid, CAST(COALESCE(h.h, 0) AS BIGINT),
          CAST(COALESCE(h.h, 0) AS DOUBLE) / 20.0
        FROM (SELECT DISTINCT qid FROM lr20) q LEFT JOIN (
          SELECT lr20.qid, COUNT(*) AS h FROM lr20
          JOIN srv ON lr20.qid = srv.qid AND lr20.cid = srv.cid
          GROUP BY 1) h ON q.qid = h.qid
        UNION ALL
        ${Round11.taggedTailSql("hyb", "fused", "tfused", "sfused")})
      ORDER BY sel, dial, qid""")),

    // ---- the multi-vector family under the UNIFIED budgets ---------------
    // adviseTokenIndex sizes the token index's dials (q346) but the
    // family never competed under the joint candidate/byte budgets
    // against single-vector serving of the same corpus (the round-13
    // verdict's #5). Two measured families for the SAME maxsim
    // workload: the token-PLAID serve at advised dials (resident ≈
    // 76 B/token) vs POOLED single-vector serving — each doc's tokens
    // mean-pooled in EXACT int64 coords (replays bit-identically in
    // SQL), brute pooled-cosine rank, corpus-scaled pool, bounded
    // exact-maxsim rerank (resident ≈ 72 B/doc, a tokPerDoc× shrink;
    // full-precision token vectors touched only by the rerank join).
    // DuckDB sweep (both SFs, BEFORE wiring): pooling is cheap to hold
    // but expensive to TRUST — a fixed m=40 pool reads 0.940/0.580
    // while the corpus-scaled m = max(20, 2·nDoc/5) holds 0.960/0.980;
    // that pool is exactly what makes the pooled arm LOSE the
    // candidate tier at sf0.01 (925 vs the token index's 408). The
    // decision (adviseMaxsimServing, exact BIGINT, both branches
    // SQL-gated): sf0.01 → both fit the 60 kB window, token wins on
    // candidates; sf0.1 → the token index is EVICTED BY ITS OWN BYTES
    // (152 kB > 60 kB) and the workload flips to pooled (36 kB,
    // 0.98) — each scale evicts a different family on a different
    // axis, the q328 flip delivered on the multi-vector node. Measured
    // rank tables are fixture artifacts (q346 still prices the live
    // PLAID serve); the DECIDED family serves live every pass.
    // Decision inputs are REP-based (the q339 rule, enforced by the
    // x10 probe): distinct token vectors, distinct POOLED vectors
    // (duplicate docs pool identically), tokens/doc from the id-level
    // ratio — an id-level doc count made tokens/doc round to ZERO on
    // the replicated fixture and emptied the admissible set.
    "q356_llm_maxsim_unified_advisor" -> QueryDef(
      (s, dir) => {
        import graft.util.FixtureArtifact
        val (tok, cents, ca, codes, ctok, nlist, np) =
          Round13.mvAdvisedSetup(s, dir)
        val qtok = tok.filter(col("doc") < 10)
          .select(col("doc").as("qd"), col("tid").as("qt"), col("e").as("qe"))
        val corpusTok = tok.select(col("doc").as("cd"), col("tid").as("ct"),
          col("e").as("ce"))
        val exr = Round13.mvExactTop5(s, dir)
        // REP-based decision inputs (the q339 replication-invariance
        // rule — the x10 probe caught the id-level doc count breaking
        // admissibility): distinct token vectors, distinct POOLED
        // vectors (duplicate docs pool identically), and tokens/doc
        // from the id-level ratio (4 at every replication factor)
        val (nTok, cnt) = Jobs.scope(s) { j =>
          val nTok = j.part("q356_ntok")(Round11b.mvNTok(s, dir))
          val cnt = j.part("q356_cnt")(Round6c.statsArtifact(s, dir,
            "embeddings.parquet", "stats_ct_docs_mv")(
            tok.agg(count(lit(1)), countDistinct(col("doc")))))
          (nTok.get, cnt.get)
        }
        val tpd = cnt.getLong(0) / cnt.getLong(1)
        val pv = FixtureArtifact.parquet(s, dir, "embeddings.parquet",
          "mv_pooled_int64")(
          tok.select(col("doc"), posexplode(col("e")))
            .select(col("doc"), (col("pos") + 1).as("i"),
              floor(col("col").cast("double") * lit(1000000L))
                .cast("long").as("x"))
            .groupBy("doc", "i").agg(sum("x").as("x")))
        val nDocU = Round6c.statsArtifact(s, dir, "embeddings.parquet",
          "stats_ndocu_mv")(pv.groupBy("doc")
            .agg(sort_array(collect_list(struct(col("i"), col("x"))))
              .as("v"))
            .agg(countDistinct(col("v")))).getLong(0)
        val mPool = math.max(20L, 2L * nDocU / 5L)
        def pooledServe(): DataFrame = {
          val n2 = pv.groupBy("doc").agg(sum(col("x") * col("x")).as("n2"))
          val dots = pv.filter(col("doc") < 10)
            .select(col("doc").as("qd"), col("i"), col("x").as("qx"))
            .join(pv.select(col("doc").as("cd"), col("i"),
              col("x").as("cx")), Seq("i"))
            .filter(col("cd") =!= col("qd"))
            .groupBy("qd", "cd").agg(sum(col("qx") * col("cx")).as("dot"))
          val pcos = dots
            .join(broadcast(n2.select(col("doc").as("qd"),
              col("n2").as("qn2"))), Seq("qd"))
            .join(n2.select(col("doc").as("cd"), col("n2").as("cn2")),
              Seq("cd"))
            .select(col("qd"), col("cd"),
              round(col("dot").cast("double") /
                (sqrt(col("qn2").cast("double"))
                  * sqrt(col("cn2").cast("double"))), 6).as("pcos"))
          val pool = TopK.perGroup(pcos, Seq("qd"),
            Seq(col("pcos").desc, col("cd")), mPool.toInt, rankCol = "pr")
            .select("qd", "cd")
          // bounded exact-maxsim rerank of the pool — the only place
          // full-precision token vectors are touched (the maxsimExact
          // recipe restricted to pool pairs)
          val q = qtok.withColumn("qn", Similarity.norm("qe"))
          val c = corpusTok.withColumn("cn", Similarity.norm("ce"))
          Similarity.topKByMaxsim(Similarity.maxsim(
              pool.join(broadcast(q), Seq("qd")).join(c, Seq("cd"))), 5)
            .select("qd", "cd")
        }
        // measured serves as fixture artifacts (the q315/q328 rule)
        val tokenArt = FixtureArtifact.parquet(s, dir, "embeddings.parquet",
          s"mvserve_top5_nl${nlist}np$np",
          params = Map("nlist" -> nlist, "np" -> np, "m" -> 10L,
            "k" -> 5L))(
          Similarity.maxsimPlaidTopK(qtok, corpusTok, ca, codes, cents,
            np = np.toInt, m = 10, k = 5, ctokCodes = Some(ctok)))
        val pooledArt = FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", s"mvpooled_top5_m$mPool",
          params = Map("m" -> mPool, "k" -> 5L))(pooledServe())
        val Seq(recT, recP) = Jobs.recall("q356", exr, Seq("qd", "cd"))(
          () => tokenArt, () => pooledArt).rates
        val candT = tpd * np * (nTok / nlist) + tpd * tpd * 10L
        val candP = nDocU + tpd * tpd * mPool
        val adv = IndexAdvisor.adviseMaxsimServing(Seq(
            IndexAdvisor.RecallRow("mv-token",
              Map("bytes" -> 76L * nTok, "cand" -> candT,
                "nlist" -> nlist, "np" -> np, "m" -> 10L),
              recT),
            IndexAdvisor.RecallRow("mv-pooled",
              Map("bytes" -> 72L * nDocU, "cand" -> candP, "m" -> mPool),
              recP)),
          targetRecall = 0.8, candidateBudget = 2L * nTok,
          memoryBudgetBytes = MvMemBudget)
        // the decided family serves LIVE (the q351 contract: measured
        // tables are artifacts, the decided serve is priced per pass)
        val served = adv.family match {
          case "mv-token" => Similarity.maxsimPlaidTopK(qtok, corpusTok,
            ca, codes, cents, np = np.toInt, m = 10, k = 5,
            ctokCodes = Some(ctok))
          case "mv-pooled" => pooledServe()
          case other => sys.error(
            s"maxsim advisor picked unreachable family $other")
        }
        import s.implicits._
        val decideRow = Seq(("mv", s"decide_${adv.family}", -1L,
          adv.params("bytes"), adv.params("cand").toDouble / (2L * nTok)))
          .toDF("sel", "dial", "qd", "n_hits", "recall")
        decideRow
          .unionByName(Round13.mvTaggedRecall("mv", "token", exr, tokenArt))
          .unionByName(Round13.mvTaggedRecall("mv", "pooled", exr,
            pooledArt))
          .unionByName(Round13.mvTaggedRecall("mv", "served", exr, served))
          .orderBy("sel", "dial", "qd")
      },
      Some(s"""WITH ${Round11b.maxsimBaseSql},
      ${Round13.mvSq8Sql()},
      ${Round13.mvDialsSql("tok", measNp = 2)},
      ${Round13.mvStandingSql("(SELECT nlist FROM mvnl)", "g")},
      ${Round13.mvServeAnnrSql("g", "(SELECT np FROM mvnp)", m = 10,
        p = "a")},
      pvq AS MATERIALIZED (SELECT doc, i.i AS i,
          CAST(SUM(CAST(FLOOR(CAST(e[i.i] AS DOUBLE) * 1000000) AS BIGINT))
            AS BIGINT) AS x
        FROM tok, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      mvdoc AS (SELECT COUNT(DISTINCT l) AS nd FROM (
        SELECT doc, list(x ORDER BY i) AS l FROM pvq GROUP BY doc)),
      tpd AS (SELECT (SELECT COUNT(*) FROM tok)
        // (SELECT COUNT(DISTINCT doc) FROM tok) AS t),
      mpool AS (SELECT GREATEST(20, 2 * (SELECT nd FROM mvdoc) // 5) AS m),
      pn2 AS (SELECT doc, CAST(SUM(x * x) AS BIGINT) AS n2 FROM pvq
        GROUP BY 1),
      pdot AS MATERIALIZED (SELECT q.doc AS qd, c.doc AS cd,
          CAST(SUM(q.x * c.x) AS BIGINT) AS dot
        FROM pvq q JOIN pvq c USING (i)
        WHERE q.doc < 10 AND c.doc <> q.doc GROUP BY 1, 2),
      ppr AS MATERIALIZED (SELECT qd, cd, row_number() OVER (
          PARTITION BY qd ORDER BY pcos DESC, cd) AS pr
        FROM (SELECT qd, cd, round(CAST(dot AS DOUBLE)
            / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))),
            6) AS pcos
          FROM pdot JOIN pn2 qn ON qn.doc = pdot.qd
          JOIN pn2 cn ON cn.doc = pdot.cd)),
      ppool AS (SELECT qd, cd FROM ppr WHERE pr <= (SELECT m FROM mpool)),
      pannr AS MATERIALIZED (SELECT qd, cd FROM (SELECT pl.qd, pl.cd,
          row_number() OVER (PARTITION BY pl.qd
            ORDER BY ms.score DESC, pl.cd) AS rnk
        FROM ppool pl JOIN ms ON pl.qd = ms.qd AND pl.cd = ms.cd)
        WHERE rnk <= 5),
      mnq AS (SELECT COUNT(DISTINCT qd) AS nq FROM exr),
      mrt AS (SELECT CAST((SELECT COUNT(*) FROM exr JOIN aannr
          USING (qd, cd)) AS DOUBLE) / (5.0 * (SELECT nq FROM mnq)) AS rec),
      mrp AS (SELECT CAST((SELECT COUNT(*) FROM exr JOIN pannr
          USING (qd, cd)) AS DOUBLE) / (5.0 * (SELECT nq FROM mnq)) AS rec),
      mccfg AS (
        SELECT 'mv-token' AS fam,
          (SELECT t FROM tpd) * (SELECT np FROM mvnp)
              * ((SELECT nu FROM mvst) // (SELECT nlist FROM mvnl))
            + (SELECT t FROM tpd) * (SELECT t FROM tpd) * 10 AS cand,
          (SELECT nu FROM mvst) * 76 AS bytes,
          (SELECT rec FROM mrt) AS rec
        UNION ALL
        SELECT 'mv-pooled',
          (SELECT nd FROM mvdoc)
            + (SELECT t FROM tpd) * (SELECT t FROM tpd) * (SELECT m FROM mpool),
          (SELECT nd FROM mvdoc) * 72,
          (SELECT rec FROM mrp)),
      mcadm AS (SELECT * FROM mccfg
        WHERE cand <= 2 * (SELECT nu FROM mvst) AND bytes <= $MvMemBudget),
      mchosen AS (SELECT COALESCE(
        (SELECT fam FROM mcadm WHERE rec >= 0.8
         ORDER BY cand, rec DESC, fam LIMIT 1),
        (SELECT fam FROM mcadm ORDER BY rec DESC, cand, fam LIMIT 1)) AS fam),
      mserved AS (
        SELECT qd, cd FROM aannr
          WHERE (SELECT fam FROM mchosen) = 'mv-token'
        UNION ALL
        SELECT qd, cd FROM pannr
          WHERE (SELECT fam FROM mchosen) = 'mv-pooled')
      SELECT * FROM (
        SELECT 'mv' AS sel, 'decide_' || (SELECT fam FROM mchosen) AS dial,
          CAST(-1 AS BIGINT) AS qd,
          CAST((SELECT bytes FROM mccfg
            WHERE fam = (SELECT fam FROM mchosen)) AS BIGINT) AS n_hits,
          CAST((SELECT cand FROM mccfg
            WHERE fam = (SELECT fam FROM mchosen)) AS DOUBLE)
            / (2 * (SELECT nu FROM mvst)) AS recall
        UNION ALL
        SELECT * FROM (${Round13.mvTailSql("'mv'", "'token'", "exr",
          "aannr")})
        UNION ALL
        SELECT * FROM (${Round13.mvTailSql("'mv'", "'pooled'", "exr",
          "pannr")})
        UNION ALL
        SELECT * FROM (${Round13.mvTailSql("'mv'", "'served'", "exr",
          "mserved")}))
      ORDER BY sel, dial, qd""")),

    // ---- drift response for the TOKEN index ------------------------------
    // q349 closed the drift loop on the graph family; a re-embedding
    // also invalidates the multi-vector family's token cells (q346/
    // q348's standing artifacts). Trigger: ASSIGNMENT churn — tokens
    // whose rank-1 cell changed between the standing cells and the
    // new world's (one bounded nTok·nlist scan, exact BIGINT); the
    // SQ8 codes re-encode row-locally under EVERY response (no
    // codebook — the family's structural advantage, q341's lesson).
    // Same two worlds as q349 (reversal isometry / half-zero
    // collapse), same advised dials as q346. DuckDB sweep (both SFs,
    // BEFORE wiring): iso churn 0 and the kept-cells serve reads
    // exactly q346's standing recall (0.98/0.96 — the isometry proof
    // measured); trunc churn fires at 0.62/0.65 — yet at the ADVISED
    // np the stale cells serve 0.96/0.92 ≥ recentered 0.96/0.90: the
    // PLAID serve is drift-ROBUST (candidate generation is a UNION
    // over query tokens × probed cells; the m-pool exact rerank
    // absorbs cell noise) — the measured decision is KEEP, the honest
    // negative mirroring q349 where the same drift forces graph
    // repair. The cells DO bind at the np=1 screening rung: stale
    // 0.78 vs recentered 0.84 at sf0.1 — there adviseTokenDrift flips
    // to RECENTER (one warm Lloyd round, the q341 kernel at token
    // level) while sf0.01's 0.86/0.84 keeps — the decision flips by
    // integer admissibility across rung AND scale. Rebuild (fresh
    // dot-assignment) never beats recenter (0.84/0.84) — the
    // re-stitch-is-skippable law again. Live serves: the iso kept
    // serve and the decided trunc serve (stale cells at advised np);
    // contrast serves, assignments, codes, truths, Lloyd layout are
    // fixture artifacts.
    "q353_llm_maxsim_drift_response" -> QueryDef(
      (s, dir) => Jobs.scope(s) { j =>
        graft.plans.NativeExpressions.register(s)
        import graft.util.FixtureArtifact
        val (tok, cents, ca, _, _, nlist, np) = Round13.mvAdvisedSetup(s, dir)
        def truncOf(c: String) = expr(s"transform(sequence(1, 64), " +
          s"i -> IF(i <= 32, element_at($c, i), CAST(0.0 AS FLOAT)))")
        val toki = tok.select(col("doc"), col("tid"),
          reverse(col("e")).as("e"))
        val tokt = tok.select(col("doc"), col("tid"),
          truncOf("e").as("e"))
        val nTok = tok.count()
        val cidSet = cents.select(col("centroid_id").as("tid"))
        def centsOf(w: DataFrame) = broadcast(
          w.join(cidSet, Seq("tid"))
            .select(col("tid").as("centroid_id"), col("e").as("centroid")))
        val centsI = centsOf(toki); val centsT = centsOf(tokt)
        def assignArt(w: DataFrame, cs: DataFrame, label: String) =
          FixtureArtifact.parquet(s, dir, "embeddings.parquet",
            s"mvdrift_ca_${label}_n$nlist", params = Map("nlist" -> nlist))(
            Similarity.assignToCentroids(w.select("tid", "e"), "tid", "e",
              cs, nKeep = 1).select(col("tid"), col("centroid_id")))
        val caI = assignArt(toki, centsI, "gwi")
        val caT = assignArt(tokt, centsT, "gwt")
        def movedOf(caW: DataFrame): Long =
          ca.withColumnRenamed("centroid_id", "c0").join(caW, Seq("tid"))
            .filter(col("c0") =!= col("centroid_id")).count()
        // the two churn counts and the two LIVE serves are parts; the
        // scenario requires are still checked before any result is
        // consumed
        val fMovedIso = j.part("q353_moved_iso")(movedOf(caI))
        val fMovedTr = j.part("q353_moved_trunc")(movedOf(caT))
        def codesArt(w: DataFrame, label: String) =
          FixtureArtifact.parquet(s, dir, "embeddings.parquet",
            s"mvdrift_sq8_$label")(
            Similarity.sq8Codes(w.select("tid", "e"), "tid", "e"))
        val codesI = codesArt(toki, "gwi")
        val codesT = codesArt(tokt, "gwt")
        def qtokOf(w: DataFrame) = w.filter(col("doc") < 10)
          .select(col("doc").as("qd"), col("tid").as("qt"), col("e").as("qe"))
        def ctokOf(w: DataFrame) = w
          .select(col("doc").as("cd"), col("tid").as("ct"), col("e").as("ce"))
        // world exact maxsim truths (artifacts)
        def exactArt(w: DataFrame, label: String): DataFrame =
          FixtureArtifact.parquet(s, dir, "embeddings.parquet",
            s"mvdrift_ex5_$label") {
            val q = qtokOf(w).withColumn("qn", Similarity.norm("qe"))
            val c = w.select(col("doc").as("cd"), col("e").as("ce"))
              .withColumn("cn", Similarity.norm("ce"))
            Similarity.topKByMaxsim(Similarity.maxsim(
                c.join(broadcast(q), col("cd") =!= col("qd"))), 5)
              .select("qd", "cd")
          }
        val exIso = exactArt(toki, "gwi")
        val exTr = exactArt(tokt, "gwt")
        // serves: cells × world; live = the iso kept serve and the
        // decided trunc serve (stale cells, advised np); the rest warm
        def run(w: DataFrame, caX: DataFrame, codesX: DataFrame,
            csX: DataFrame, npd: Int): DataFrame =
          Similarity.maxsimPlaidTopK(qtokOf(w), ctokOf(w), caX, codesX,
            csX, np = npd, m = 10, k = 5)
        def warmServe(w: DataFrame, caX: DataFrame, codesX: DataFrame,
            csX: DataFrame, npd: Int, label: String): DataFrame =
          FixtureArtifact.parquet(s, dir, "embeddings.parquet",
            s"mvdrift_${label}_np$npd",
            params = Map("np" -> npd.toLong, "m" -> 10L, "k" -> 5L))(
            run(w, caX, codesX, csX, npd))
        // submitted before the pins for the measured overlap (the
        // A/B'd variant)
        val fKept = j.cut("q353_kept")(run(toki, ca, codesI, centsI,
          np.toInt))
        val fStale = j.cut("q353_stale")(run(tokt, ca, codesT, centsT,
          np.toInt))
        val movedIso = fMovedIso.get
        val movedTr = fMovedTr.get
        require(2L * movedIso < nTok,
          s"the isometric world must stay below the assignment-churn " +
            s"threshold ($movedIso of $nTok tokens moved)")
        require(2L * movedTr >= nTok,
          s"the non-isometric world must fire the assignment-churn " +
            s"threshold ($movedTr of $nTok tokens moved)")
        val keptNp1 = warmServe(toki, ca, codesI, centsI, 1, "kept")
        val staleNp1 = warmServe(tokt, ca, codesT, centsT, 1, "stale")
        val rebuilt = warmServe(tokt, caT, codesT, centsT, np.toInt, "reb")
        val rebuiltNp1 = warmServe(tokt, caT, codesT, centsT, 1, "reb")
        // recentered: one warm Lloyd round (the q341 kernel) over the
        // new-world token coords, seeded from the standing centroid
        // tokens' new coords; serves from the recentered assignments
        val ra1 = FixtureArtifact.parquet(s, dir, "embeddings.parquet",
          s"mvdrift_lloyd_ra1_gwt_n$nlist",
          params = Map("nlist" -> nlist)) {
          val corpusW = tokt.select(col("tid").as("cid"), col("e").as("ce"))
          val seed = Round12.quantC(
              tokt.join(cidSet, Seq("tid")).select(col("tid").as("cid"),
                col("e").as("ce")), "cid", "ce")
            .select(col("cid").as("ccid"), col("i"), col("x").as("c"))
          Round12.lloydWarmRetrain(corpusW, seed)._2
            .select(col("cid").as("tid"), col("ccid").as("centroid_id"))
        }
        val c1 = FixtureArtifact.parquet(s, dir, "embeddings.parquet",
          s"mvdrift_lloyd_c1_gwt_n$nlist",
          params = Map("nlist" -> nlist)) {
          val corpusW = tokt.select(col("tid").as("cid"), col("e").as("ce"))
          val seed = Round12.quantC(
              tokt.join(cidSet, Seq("tid")).select(col("tid").as("cid"),
                col("e").as("ce")), "cid", "ce")
            .select(col("cid").as("ccid"), col("i"), col("x").as("c"))
          Round12.lloydWarmRetrain(corpusW, seed)._1
        }
        def recServe(npd: Int): DataFrame =
          FixtureArtifact.parquet(s, dir, "embeddings.parquet",
            s"mvdrift_rec_np$npd",
            params = Map("np" -> npd.toLong, "m" -> 10L, "k" -> 5L)) {
            val qcq = Round12.quantC(tokt.filter(col("doc") < 10)
              .select(col("tid").as("cid"), col("e").as("ce")), "cid", "ce")
            val wq = org.apache.spark.sql.expressions.Window
              .partitionBy("cid").orderBy(col("dist"), col("ccid"))
            val qa = qcq.join(broadcast(c1), Seq("i"))
              .groupBy("cid", "ccid")
              .agg(sum((col("x") - col("c")) * (col("x") - col("c")))
                .as("dist"))
              .withColumn("r", row_number().over(wq))
              .filter(col("r") <= npd)
              .select(col("cid").as("qt"), col("ccid").as("centroid_id"))
            Similarity.maxsimPlaidTopKFrom(qtokOf(tokt), ctokOf(tokt),
              qa, ra1, codesT, m = 10, k = 5)
          }
        val rec = recServe(np.toInt)
        val recNp1 = recServe(1)
        val kept = fKept.get
        val stale = fStale.get
        // the decision at both rungs from measured hits (1-row scalars
        // over materialized serves — plan-choice class)
        val Jobs.Recall(nq, Seq(stH, rcH, rbH, stH1, rcH1, rbH1)) =
          Jobs.recall("q353", exTr, Seq("qd", "cd"))(() => stale, () => rec,
            () => rebuilt, () => staleNp1, () => recNp1, () => rebuiltNp1)
        def code(d: String): Long = d match {
          case "keep" => 0L; case "recenter" => 1L; case _ => 2L }
        val decAdv = IndexAdvisor.adviseTokenDrift(movedTr, nTok,
          stH, rcH, rbH, nq)
        val decNp1 = IndexAdvisor.adviseTokenDrift(movedTr, nTok,
          stH1, rcH1, rbH1, nq)
        import s.implicits._
        val stats = Seq(
          ("iso", "tchurn", -1L, movedIso, movedIso.toDouble / nTok),
          ("trunc", "tchurn", -1L, movedTr, movedTr.toDouble / nTok),
          ("trunc", "decide_adv", -1L, code(decAdv),
            (rcH - stH).toDouble / (5.0 * nq)),
          ("trunc", "decide_np1", -1L, code(decNp1),
            (rcH1 - stH1).toDouble / (5.0 * nq)))
          .toDF("sel", "dial", "qd", "n_hits", "recall")
        stats
          .unionByName(Round13.mvTaggedRecall("iso", "kept", exIso, kept))
          .unionByName(Round13.mvTaggedRecall("iso", "kept_np1", exIso,
            keptNp1))
          .unionByName(Round13.mvTaggedRecall("trunc", "stale", exTr, stale))
          .unionByName(Round13.mvTaggedRecall("trunc", "stale_np1", exTr,
            staleNp1))
          .unionByName(Round13.mvTaggedRecall("trunc", "recentered", exTr,
            rec))
          .unionByName(Round13.mvTaggedRecall("trunc", "recentered_np1",
            exTr, recNp1))
          .unionByName(Round13.mvTaggedRecall("trunc", "rebuilt", exTr,
            rebuilt))
          .unionByName(Round13.mvTaggedRecall("trunc", "rebuilt_np1", exTr,
            rebuiltNp1))
          .orderBy("sel", "dial", "qd")
      },
      Some(s"""WITH tok AS MATERIALIZED (SELECT vec_id // 4 AS doc,
        vec_id AS tid, embedding AS e FROM embeddings),
      toki AS MATERIALIZED (SELECT doc, tid, list_reverse(e) AS e FROM tok),
      tokt AS MATERIALIZED (SELECT doc, tid, list_transform(range(1, 65),
          i -> CASE WHEN i <= 32 THEN e[i] ELSE CAST(0.0 AS FLOAT) END) AS e
        FROM tok),
      ${Round13.mvDialsSql("tok", measNp = 2)},
      cids AS MATERIALIZED (SELECT tid FROM (SELECT tid,
          row_number() OVER (ORDER BY tid) AS rn FROM tok)
        WHERE rn <= (SELECT nlist FROM mvnl)),
      ${mvCentsSql("tok", "b")},
      ${mvAssignSql("tok", "b", "bca0", "1")},
      bca AS (SELECT tid, centroid_id FROM bca0),
      ${mvCentsSql("toki", "wi")},
      ${mvCentsSql("tokt", "wt")},
      ${mvAssignSql("toki", "wi", "ica0", "1")},
      ${mvAssignSql("tokt", "wt", "tca0", "1")},
      mvi AS (SELECT COUNT(*) AS moved FROM bca JOIN ica0
        ON bca.tid = ica0.tid AND bca.centroid_id <> ica0.centroid_id),
      mvt AS (SELECT COUNT(*) AS moved FROM bca JOIN tca0
        ON bca.tid = tca0.tid AND bca.centroid_id <> tca0.centroid_id),
      nt AS (SELECT COUNT(*) AS n FROM tok),
      ${mvWorldMsSql("toki", "i")},
      ${Round13.mvSq8Sql("toki", "isq8")},
      ${mvWorldMsSql("tokt", "t")},
      ${Round13.mvSq8Sql("tokt", "tsq8")},
      ${mvAssignSql("toki", "wi", "iqa", "(SELECT nlist FROM mvnl)")},
      ${mvAssignSql("tokt", "wt", "tqa", "(SELECT nlist FROM mvnl)")},
      tca AS (SELECT tid, centroid_id FROM tca0),
      ${mvServeFromSql("toki", "iqa", "bca", "isq8", "ims",
        "(SELECT np FROM mvnp)", 10, "ki")},
      ${mvServeFromSql("toki", "iqa", "bca", "isq8", "ims", "1", 10, "k1")},
      ${mvServeFromSql("tokt", "tqa", "bca", "tsq8", "tms",
        "(SELECT np FROM mvnp)", 10, "st")},
      ${mvServeFromSql("tokt", "tqa", "bca", "tsq8", "tms", "1", 10, "s1")},
      ${mvServeFromSql("tokt", "tqa", "tca", "tsq8", "tms",
        "(SELECT np FROM mvnp)", 10, "rb")},
      ${mvServeFromSql("tokt", "tqa", "tca", "tsq8", "tms", "1", 10, "r1")},
      ${mvLloydSql("tokt", "(SELECT nlist FROM mvnl)", "ll")},
      ${mvServeFromSql("tokt", "llqa1", "llra1", "tsq8", "tms",
        "(SELECT np FROM mvnp)", 10, "rc")},
      ${mvServeFromSql("tokt", "llqa1", "llra1", "tsq8", "tms", "1",
        10, "c1")},
      qn AS (SELECT COUNT(DISTINCT qd) AS nq FROM texr),
      hs AS (SELECT
        (SELECT COUNT(*) FROM texr JOIN stannr USING (qd, cd)) AS st,
        (SELECT COUNT(*) FROM texr JOIN rcannr USING (qd, cd)) AS rc,
        (SELECT COUNT(*) FROM texr JOIN rbannr USING (qd, cd)) AS rb,
        (SELECT COUNT(*) FROM texr JOIN s1annr USING (qd, cd)) AS st1,
        (SELECT COUNT(*) FROM texr JOIN c1annr USING (qd, cd)) AS rc1,
        (SELECT COUNT(*) FROM texr JOIN r1annr USING (qd, cd)) AS rb1)
      SELECT * FROM (
        SELECT 'iso' AS sel, 'tchurn' AS dial, CAST(-1 AS BIGINT) AS qd,
          CAST((SELECT moved FROM mvi) AS BIGINT) AS n_hits,
          CAST((SELECT moved FROM mvi) AS DOUBLE) / (SELECT n FROM nt) AS recall
        UNION ALL
        SELECT 'trunc', 'tchurn', -1, (SELECT moved FROM mvt),
          CAST((SELECT moved FROM mvt) AS DOUBLE) / (SELECT n FROM nt)
        UNION ALL
        SELECT 'trunc', 'decide_adv', -1,
          CAST(CASE WHEN 2 * (SELECT moved FROM mvt) < (SELECT n FROM nt) THEN 0
            WHEN 10 * ((SELECT rc FROM hs) - (SELECT st FROM hs)) <= (SELECT nq FROM qn) THEN 0
            WHEN 10 * ((SELECT rb FROM hs) - (SELECT rc FROM hs)) <= (SELECT nq FROM qn) THEN 1
            ELSE 2 END AS BIGINT),
          CAST((SELECT rc FROM hs) - (SELECT st FROM hs) AS DOUBLE)
            / (5.0 * (SELECT nq FROM qn))
        UNION ALL
        SELECT 'trunc', 'decide_np1', -1,
          CAST(CASE WHEN 2 * (SELECT moved FROM mvt) < (SELECT n FROM nt) THEN 0
            WHEN 10 * ((SELECT rc1 FROM hs) - (SELECT st1 FROM hs)) <= (SELECT nq FROM qn) THEN 0
            WHEN 10 * ((SELECT rb1 FROM hs) - (SELECT rc1 FROM hs)) <= (SELECT nq FROM qn) THEN 1
            ELSE 2 END AS BIGINT),
          CAST((SELECT rc1 FROM hs) - (SELECT st1 FROM hs) AS DOUBLE)
            / (5.0 * (SELECT nq FROM qn))
        UNION ALL
        SELECT * FROM (${Round13.mvTailSql("'iso'", "'kept'", "iexr",
          "kiannr")})
        UNION ALL
        SELECT * FROM (${Round13.mvTailSql("'iso'", "'kept_np1'", "iexr",
          "k1annr")})
        UNION ALL
        SELECT * FROM (${Round13.mvTailSql("'trunc'", "'stale'", "texr",
          "stannr")})
        UNION ALL
        SELECT * FROM (${Round13.mvTailSql("'trunc'", "'stale_np1'", "texr",
          "s1annr")})
        UNION ALL
        SELECT * FROM (${Round13.mvTailSql("'trunc'", "'recentered'",
          "texr", "rcannr")})
        UNION ALL
        SELECT * FROM (${Round13.mvTailSql("'trunc'", "'recentered_np1'",
          "texr", "c1annr")})
        UNION ALL
        SELECT * FROM (${Round13.mvTailSql("'trunc'", "'rebuilt'", "texr",
          "rbannr")})
        UNION ALL
        SELECT * FROM (${Round13.mvTailSql("'trunc'", "'rebuilt_np1'",
          "texr", "r1annr")}))
      ORDER BY sel, dial, qd"""))
  )
}
