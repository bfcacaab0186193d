package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.{FixedPoint, IndexAdvisor, Ranks, Similarity, TopK}
import graft.sources.{MemCatalog, Tables}
import graft.streaming.EventStreams
import graft.util.{Jobs, Slots}

/** Round-11 second batch: the SQ8 compression point on the ANN
  * memory/recall curve (q326 — FAISS's production-default `IVF,SQ8`
  * layout) and DSIR-style target-domain data selection (q327 — the
  * importance-resampling step of a training-data pipeline, scored in
  * the fixed-point log space q324 introduced).
  */
object Round11b {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  // ---- q327 helpers (declared BEFORE defs — object-init order) -------

  /** Hashed-feature domain for the DSIR bigram features. 4096 buckets:
    * small enough that the per-feature count tables broadcast (the
    * counts side is B-bounded regardless of corpus size), large enough
    * that the fixture's ~40k distinct bigrams spread ~10 deep. */
  private[queries] val DsirBuckets = 4096L

  /** The q172 portable word hash (8-char base-31 polynomial, Lehmer-
    * mixed mod a prime < 2^60) — exact int64 in both engines. */
  private val HashPows = Seq(27512614111L, 887503681L, 28629151L,
    923521L, 29791L, 961L, 31L, 1L)

  private[queries] def wordHm(c: Column): Column = {
    val poly = HashPows.zipWithIndex.map { case (p, j) =>
      ascii(substring(c, j + 1, 1)).cast("long") * lit(p)
    }.reduce(_ + _)
    poly * lit(48271L) % lit(1152921504606846883L)
  }

  /** DuckDB replay of [[wordHm]] over a word column expression. */
  private[queries] def wordHmSql(w: String): String =
    s"""((list_sum(list_transform(range(1, 9), j ->
       CASE WHEN j <= length($w) THEN ascii($w[j:j]) ELSE 0 END
       * [27512614111,887503681,28629151,923521,29791,961,31,1][j]))
     * 48271) % 1152921504606846883)"""

  // ---- the Lehmer doc-id hash domain (shared by q331/q332/q335/q336) --

  /** `id` verified into [0, Slots.MaxKey] as a row-local projection — the
    * loud guard for the hash's callers that have no aggregate at hand
    * (q331's fill, q335's split). raise_error keeps both engines on
    * the same side of the domain edge. */
  private[queries] def guardedId(id: Column): Column =
    when(id.between(0L, Slots.MaxKey), id).otherwise(expr(
      s"CAST(raise_error('doc_id exceeds the Lehmer-hash int64 domain " +
        s"[0, ${Slots.MaxKey}]') AS BIGINT)"))

  // ---- q326/q328 oracle fragments (the SQ8 standing index) ------------

  /** Standing SQ8 index CTEs over [[Round6c.exactRecallCte]]'s q2/c2:
    * `cent` (16 lowest-id centroids), `ca` (rank-1 cell assignment),
    * `qa` (query probe ranks, all 16 kept — sliced per serve), `sq8`
    * (int8 codes + the fixed-point rescale rc; list_reduce matches
    * vec_dot's sequential fold, round ties away from zero in both
    * engines — the q96 rule). */
  private[queries] def sq8StandingSql(sp: String): String =
    s"""${sp}cent AS MATERIALIZED (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM embeddings WHERE vec_id < 16),
      ${sp}ca AS MATERIALIZED (${Round6c.dotRankSql("id AS cid, centroid_id", "id",
        Round6c.dotScoreSql("s.id", "s.e", "c2 s", s"${sp}cent"), "1")}),
      ${sp}qa AS MATERIALIZED (${Round6c.dotRankSql("id AS qid, centroid_id, r", "id",
        Round6c.dotScoreSql("q.id", "q.e", "q2 q", s"${sp}cent"), "16")}),
      ${sp}sq8 AS MATERIALIZED (SELECT id,
          list_transform(e, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / am) AS BIGINT)) AS qc,
          CAST(round(am * 1000000000.0 / nn) AS BIGINT) AS rc
        FROM (SELECT id, e,
            list_max(list_transform(e, y -> abs(CAST(y AS DOUBLE)))) AS am,
            sqrt(list_reduce(list_transform(e, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
              (a, b) -> a + b)) AS nn
          FROM c2))"""

  /** One SQ8 serve at (nprobe, m) against the `sp`-prefixed standing
    * CTEs: all-BIGINT candidate ranking (intdot·rc), exact rerank of
    * the m-bounded pool from ex0's cosines. Emits `<p>annr`. */
  private[queries] def sq8AnnrSql(np: Int, m: Int, p: String, sp: String,
      k: Int = 5): String =
    s"""${p}sadc AS MATERIALIZED (SELECT ${sp}qa.qid, ${sp}ca.cid,
        CAST(list_sum(list_transform(range(1, 65), i -> q.qc[i] * c.qc[i])) AS BIGINT)
          * c.rc AS akey
      FROM ${sp}qa JOIN ${sp}ca ON ${sp}qa.centroid_id = ${sp}ca.centroid_id
        AND ${sp}qa.qid <> ${sp}ca.cid
      JOIN ${sp}sq8 q ON ${sp}qa.qid = q.id JOIN ${sp}sq8 c ON ${sp}ca.cid = c.id
      WHERE ${sp}qa.r <= $np),
      ${p}spool AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY akey DESC, cid) AS pr
        FROM ${p}sadc) WHERE pr <= $m),
      ${p}annr AS (SELECT qid, cid FROM (SELECT p.qid, p.cid,
          row_number() OVER (PARTITION BY p.qid ORDER BY e.cos DESC, p.cid) AS rnk
        FROM ${p}spool p JOIN ex0 e ON p.qid = e.qid AND p.cid = e.cid) WHERE rnk <= $k)"""

  // ---- q333/q334 helpers (late-interaction MaxSim) ---------------------

  /** Multi-vector view of the embeddings fixture: doc = vec_id div 4,
    * four token vectors per document (the ColBERT layout at fixture
    * scale; production token counts just widen the per-doc group). */
  private[queries] def mvTok(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      expr("vec_id div 4").as("doc"), col("vec_id").as("tid"),
      col("embedding").as("e"))

  /** Distinct token vectors of the [[mvTok]] view — the token-index
    * advisor's corpus statistic (q346/q347/q356) — as the one
    * `stats_ntok_mv` artifact. */
  private[queries] def mvNTok(s: SparkSession, dir: String): Long =
    Round6c.statsArtifact(s, dir, "embeddings.parquet", "stats_ntok_mv")(
      mvTok(s, dir).agg(countDistinct(col("e")))).getLong(0)

  /** The standing SQ8 token index over a (doc, tid, e) token view:
    * the first `nlist` tokens by tid as centroids (broadcast), and as
    * fixture artifacts each token's nearest cell `<prefix>_ca_n<nlist>`
    * (tid, centroid_id), the token SQ8 codes `<prefix>_sq8` (id, qc,
    * rc) and the standing (cd, ct, cc, rc) token→doc + code table
    * `<prefix>_ctok_sq8` that every serve scans flat (guide §2.4).
    * `prefix` names the view: "maxsim" is [[mvTok]] (q334, q346, q347,
    * q356), "mving" its slot ≠ 0 standing documents (q343, q348). */
  private[queries] def sq8TokenIndex(s: SparkSession, dir: String,
      tok: DataFrame, prefix: String, nlist: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cents = broadcast(tok.orderBy("tid").limit(nlist.toInt)
      .select(col("tid").as("centroid_id"), col("e").as("centroid")))
    val ca = graft.util.FixtureArtifact.parquet(s, dir,
      "embeddings.parquet", s"${prefix}_ca_n$nlist",
      params = Map("nlist" -> nlist))(
      Similarity.assignToCentroids(tok.select(col("tid"), col("e")),
          "tid", "e", cents, nKeep = 1)
        .select(col("tid"), col("centroid_id")))
    val codes = graft.util.FixtureArtifact.parquet(s, dir,
      "embeddings.parquet", s"${prefix}_sq8")(
      Similarity.sq8Codes(tok.select(col("tid"), col("e")), "tid", "e"))
    val ctok = graft.util.FixtureArtifact.parquet(s, dir,
      "embeddings.parquet", s"${prefix}_ctok_sq8")(
      tok.select(col("doc").as("cd"), col("tid").as("ct"))
        .join(codes.select(col("id").as("ct"), col("qc").as("cc"),
          col("rc")), Seq("ct")))
    (cents, ca, codes, ctok)
  }

  /** Exact MaxSim score table over all (query doc, corpus doc) pairs,
    * micro-cos BIGINT: mc = round(cos·10⁶) per token pair (round ties
    * away from zero in both engines — the q96 rule; 6dp granularity is
    * the q46 cross-engine rank recipe), max over the candidate doc's
    * tokens per query token, summed — so `score` is exact int64 and
    * hash-compares. Build-once fixture artifact (the exact side of the
    * q334 serve AND q333's own output). */
  private[queries] def maxsimExact(s: SparkSession, dir: String): DataFrame =
    graft.util.FixtureArtifact.parquet(s, dir, "embeddings.parquet",
      "maxsim_ex") {
      graft.plans.NativeExpressions.register(s)
      val tok = mvTok(s, dir)
      val q = tok.filter(col("doc") < 10)
        .select(col("doc").as("qd"), col("tid").as("qt"), col("e").as("qe"))
        .withColumn("qn", Similarity.norm("qe"))
      val c = tok
        .select(col("doc").as("cd"), col("e").as("ce"))
        .withColumn("cn", Similarity.norm("ce"))
      Similarity.maxsim(c.join(broadcast(q), col("cd") =!= col("qd")))
    }

  /** Oracle twin of [[maxsimExact]]: CTEs tok/qtok/ms (exact BIGINT
    * maxsim scores) + exr (exact top-5 per query doc). */
  private[queries] val maxsimBaseSql: String =
    """tok AS MATERIALIZED (SELECT vec_id // 4 AS doc, vec_id AS tid, embedding AS e
        FROM embeddings),
      qtok AS MATERIALIZED (SELECT * FROM tok WHERE doc < 10),
      mpc AS MATERIALIZED (SELECT q.doc AS qd, c.doc AS cd, q.tid AS qt,
          CAST(round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.e[i.i] AS DOUBLE))
            / (sqrt(ANY_VALUE(list_sum(list_transform(q.e, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
             * sqrt(ANY_VALUE(list_sum(list_transform(c.e, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))))
            * 1000000) AS BIGINT) AS mc
        FROM qtok q, tok c, (SELECT unnest(range(1, 65)) AS i) i
        WHERE c.doc <> q.doc GROUP BY 1, 2, 3, c.tid),
      ms AS MATERIALIZED (SELECT qd, cd, CAST(SUM(mx) AS BIGINT) AS score FROM (
          SELECT qd, cd, qt, MAX(mc) AS mx FROM mpc GROUP BY 1, 2, 3) GROUP BY 1, 2),
      exr AS MATERIALIZED (SELECT qd, cd FROM (SELECT qd, cd,
          row_number() OVER (PARTITION BY qd ORDER BY score DESC, cd) AS rnk
        FROM ms) WHERE rnk <= 5)"""

  /** q328's serving-memory budget: chosen so the SQ8 family sits in
    * the window at nu=500 (36 kB ≤ 60 kB; raw floats 128 kB do not
    * fit) and is evicted by its own bytes at nu=2000 (144 kB) — the
    * q315 flip-across-SFs convention on the sq8 ladder rung. */
  private val Sq8MemBudget = 60000L

  /** q328's SQ8 measured serve as a fixture artifact (the round-12
    * serve-sharing shape; the SQ8 family's live serve stays priced by
    * q326's row at np10). */
  private def calSq8MeasuredServe(s: SparkSession, dir: String,
      qs: DataFrame, corpus: DataFrame): DataFrame =
    graft.util.FixtureArtifact.parquet(s, dir, "embeddings.parquet",
      "cal_sq8rv_n16_np8_m8_k5",
      params = Map("nlist" -> 16L, "nprobe" -> 8L, "m" -> 8L,
        "k" -> 5L))(
      Similarity.ivfSq8TopK(qs, corpus, k = 5, nlist = 16, nprobe = 8,
          m = 8, artifact = Some((dir, "embeddings.parquet", "ivfsq8")))
        .select(col("qid"), col("cid")))

  val defs: Map[String, QueryDef] = Map(

    // ---- IVF-SQ8: the scalar-quantization point on the ANN
    // memory/recall curve ------------------------------------------------
    // The compression axis so far spans raw floats (256 B/vec — q294's
    // IVF at 0.844) and product quantization (~13-16 B — q307's raw-ADC
    // honest negative 0.236, q308/q309 recovering through hundreds-deep
    // rerank pools). Production systems default to the point BETWEEN:
    // FAISS `IVF,SQ8` — int8 scalar quantization, 72 B/vec resident
    // (64 codes + a 4-byte rescale + cell id). The round-11 DuckDB
    // sweep (both SFs, BEFORE the Spark side) measured why: SQ8
    // ranking is NEAR-LOSSLESS at dim 64 — pool containment == the
    // probed-cell ceiling at every swept (nprobe, m), a pool of m=8
    // saturates where PQ needs m=100-300, and even the no-rerank m=5
    // serve loses exactly one hit per 250. Shipped dials nlist=16 /
    // nprobe=10 / m=8 → recall@5 0.896/0.904 — beating q309's IVFADC
    // at the SAME nprobe (0.820/0.816) with a 37× smaller rerank pool,
    // at 4.5× its bytes. The candidate rank key is PURE BIGINT
    // (intdot · rc, the q309 quantized-domain exactness rule with
    // dequantization + cosine normalization folded into one stored
    // fixed-point rescale), so the oracle replays the pool selection
    // exactly, not just the final answer. Scale shape: codes + cell
    // assignment are build-once fixture artifacts; per query, nprobe
    // cell joins over the 72 B/vec resident codes + an 8-bounded
    // cold-storage rerank join.
    "q326_llm_ann_ivf_sq8" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) =>
        Similarity.ivfSq8TopK(qs, corpus, k = 5, nlist = 16, nprobe = 10,
          m = 8, artifact = Some((dir, "embeddings.parquet", "ivfsq8")))),
      Some(s"""${Round6c.exactRecallCte},
      ${sq8StandingSql("")},
      ${sq8AnnrSql(np = 10, m = 8, p = "", sp = "")},
      ${Round6c.recallTailSql}""")),

    // ---- the unified advisor learns the SQ8 rung ------------------------
    // q315 measured IVF and IVFPQ live and decided under both budgets;
    // this row adds the q326 family to that loop at the budget window
    // where SQ8 is the HONEST answer: a 60 kB serving budget excludes
    // raw vectors at EVERY fixture scale (nu·256 B = 128/512 kB — a
    // loud require documents why the ivf row isn't measured), so the
    // live measurements are the two compressed families: the q326
    // pipeline at nlist=16/nprobe=8/m=8 (swept 0.816/0.844) and the
    // q309 IVFPQ row (16/10). At nu=500 both fit (36/8 kB) and both
    // meet the 0.8 target — SQ8 wins on re-derived candidate cost
    // (250 vs 312) with the higher measured recall; at nu=2000 SQ8 is
    // evicted by ITS OWN bytes (144 kB > 60 kB) and the decision
    // flips to IVFPQ at the re-derived q310 dials (served 0.920).
    // The measured SQ8 pipeline IS the serve when chosen (re-derived
    // nlist(500)=16 == the measured config — pinned by a require, the
    // q322 rule). Decision replay is exact BIGINT: bytes nu·72/nu·16
    // mirror IndexAdvisor.residentBytes (the round-10 ADVICE class),
    // costs in //, family tie-break ASC ('ivf-sq8' < 'ivfpq').
    "q328_llm_ann_calibrated_sq8" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) => {
        val (n, nu) = Round6c.nnuFull(s, dir)
        val dupRate = if (n == 0L) 0.0 else 1.0 - nu.toDouble / n
        require(nu * 256L > Sq8MemBudget,
          s"raw vectors fit the $Sq8MemBudget B budget at nu=$nu — " +
            "the ivf row would need measuring (q315 scores that regime)")
        val exact = Round6c.exactTop5(s, dir).select(col("qid"), col("cid"))
        // measured serves as fixture artifacts (the round-12 sharing
        // shape); the ivfpq one is byte-shared with q315's measurement
        val Seq(ms, mp) = Jobs.recall("q328", exact)(
          () => calSq8MeasuredServe(s, dir, qs, corpus),
          () => Round10.calPqMeasuredServe(s, dir, qs, corpus, n)).rates
        val adv = IndexAdvisor.adviseCalibratedServing(n, dim = 64,
          dupRate, targetRecall = 0.8,
          candidateBudget = nu * 9L / 10L,
          memoryBudgetBytes = Sq8MemBudget,
          measured = Seq(
            IndexAdvisor.RecallRow("ivf-sq8",
              Map("nlist" -> 16L, "nprobe" -> 8L, "m" -> 8L, "k" -> 5L), ms),
            IndexAdvisor.RecallRow("ivfpq",
              Map("nlist" -> 16L, "nprobe" -> 10L, "nSub" -> 16L,
                "nCodes" -> 16L, "k" -> 5L), mp)))
        adv.family match {
          case "ivf-sq8" =>
            // measured-pipeline-is-the-serve (q322): the re-derived
            // dials must equal the measured config or the claim lies
            require(adv.params("nlist") == 16L &&
              adv.params("nprobe") == 8L && adv.params("m") == 8L,
              s"re-derived sq8 dials ${adv.params} left the measured point")
            calSq8MeasuredServe(s, dir, qs, corpus)
          case "ivfpq" => Similarity.ivfPqTopK(qs, corpus, k = 5,
            nlist = adv.params("nlist").toInt,
            nprobe = adv.params("nprobe").toInt,
            nSub = adv.params("nSub").toInt,
            nCodes = adv.params("nCodes").toInt, dim = 64,
            rerank = adv.params("rerank").toInt,
            artifact = Some((dir, "embeddings.parquet", "ivfpq")))
          case other => sys.error(
            s"sq8-window advisor picked unreachable family $other")
        }
      }),
      Some(s"""${Round6c.exactRecallCte},
      nq AS (SELECT COUNT(DISTINCT qid) AS nq FROM exr),
      -- measurement 1: the q326 SQ8 pipeline at nlist=16/nprobe=8/m=8
      ${sq8StandingSql("z")},
      ${sq8AnnrSql(np = 8, m = 8, p = "s", sp = "z")},
      ms AS (SELECT CAST((SELECT COUNT(*) FROM exr JOIN sannr
            ON exr.qid = sannr.qid AND exr.cid = sannr.cid) AS DOUBLE)
          / (5.0 * (SELECT nq FROM nq)) AS rec),
      -- measurement 2: the q309 IVFPQ row (16/10, 16x16, q308 rerank dial)
      ${Round9.ivfPqSqlE("16", "10",
        "GREATEST(100, (SELECT COUNT(*) FROM embeddings) * 3 // 20)",
        nSub = 16, nCodes = 16, prefix = "p")},
      mpannr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM prsc) WHERE rnk <= 5),
      mp AS (SELECT CAST((SELECT COUNT(*) FROM exr JOIN mpannr
            ON exr.qid = mpannr.qid AND exr.cid = mpannr.cid) AS DOUBLE)
          / (5.0 * (SELECT nq FROM nq)) AS rec),
      -- the decision: exact BIGINT replay of adviseCalibratedServing
      st AS (SELECT COUNT(*) AS n, COUNT(DISTINCT embedding) AS nu FROM embeddings),
      ${Round6c.advisorNlistSql("st")},
      nps AS (SELECT GREATEST(1, (SELECT nlist FROM nl) // 2) AS nprobe),
      np2 AS (SELECT GREATEST(1, (10 * (SELECT nlist FROM nl)) // 16) AS nprobe),
      bud AS (SELECT ((SELECT nu FROM st) * 9) // 10 AS b),
      rr AS (SELECT LEAST((SELECT b FROM bud),
          GREATEST(100, 3 * (SELECT nu FROM st) // 20)) AS rerank),
      cfg AS (
        SELECT 'ivf-sq8' AS fam,
            ((SELECT nu FROM st) * (SELECT nprobe FROM nps)) // (SELECT nlist FROM nl) AS cand,
            -- residentBytes("ivf-sq8") = nu*(dim + 4 rescale + 4 cell)
            -- = nu*72 at dim 64 — MUST mirror IndexAdvisor.residentBytes
            (SELECT nu FROM st) * 72 AS bytes,
            (SELECT rec FROM ms) AS rec
        UNION ALL
        SELECT 'ivfpq' AS fam,
            ((SELECT nu FROM st) * (SELECT nprobe FROM np2)) // (SELECT nlist FROM nl) AS cand,
            (SELECT nu FROM st) * 16 AS bytes,
            (SELECT rec FROM mp) AS rec),
      adm AS (SELECT * FROM cfg
        WHERE cand <= (SELECT b FROM bud) AND bytes <= $Sq8MemBudget),
      chosen AS (SELECT COALESCE(
        (SELECT fam FROM adm WHERE rec >= 0.8
         ORDER BY cand, rec DESC, fam LIMIT 1),
        (SELECT fam FROM adm ORDER BY rec DESC, cand, fam LIMIT 1)) AS fam),
      -- serving branch B: IVFPQ at the re-derived dials (q310's chain)
      ${Round9.ivfPqSqlE("(SELECT nlist FROM nl)", "(SELECT nprobe FROM np2)",
        "(SELECT rerank FROM rr)", nSub = 16, nCodes = 16)},
      annr AS (
        SELECT qid, cid FROM sannr
          WHERE (SELECT fam FROM chosen) = 'ivf-sq8'
        UNION ALL
        SELECT qid, cid FROM (SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
          FROM rsc) WHERE rnk <= 5 AND (SELECT fam FROM chosen) = 'ivfpq'),
      ${Round6c.recallTailSql}""")),

    // ---- IVF-BQ: the 1-bit end of the compression ladder ---------------
    // The axis is now measured at four points: raw floats (256 B/vec,
    // q294 0.844), SQ8 (72 B, q326 0.896/0.904), IVFPQ (~16 B, q309
    // 0.820/0.816 with 100-300-deep rerank), and this row — 1-bit sign
    // codes, 12 B/vec resident (8 B packed bits + 4 B cell). The
    // round-11 sweep (both SFs, BEFORE the Spark side) measured the
    // three rank variants: symmetric hamming is the honest negative
    // (0.33/0.21 at m=8 — ranking error paid in pool depth, needs
    // m≈200+); float asymmetric cuts the pool ~3x; INTEGER asymmetric
    // — SQ8-quantized query against the ±1 signs, rank key
    // Σ qc_i·(2·bit_i − 1) — matches float asymmetric recall at EVERY
    // swept point (the q326 near-lossless law applied to the query
    // side) while staying pure BIGINT, so the oracle replays the pool
    // selection exactly. Shipped np=12 + the q308 corpus-scaled pool
    // m = max(100, 3n/20): recall@5 0.928/0.940 (m=100/300). Codes +
    // cells are fixture artifacts; packing is plain addition of
    // disjoint powers of two in two 32-bit halves (no int64 sign-bit
    // semantics in play in either engine).
    "q330_llm_ann_ivf_bq" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) => {
        val n = corpus.count()
        Similarity.ivfBqTopK(qs, corpus, k = 5, nlist = 16, nprobe = 12,
          m = math.max(100L, n * 3L / 20L).toInt,
          artifact = Some((dir, "embeddings.parquet", "ivfbq")))
      }),
      Some(s"""${Round6c.exactRecallCte},
      ${sq8StandingSql("")},
      bqc AS MATERIALIZED (SELECT id,
          CAST(list_sum(list_transform(range(1, 33), i ->
            CASE WHEN e[i] >= 0 THEN 1::BIGINT << (i - 1) ELSE 0 END)) AS BIGINT) AS h1,
          CAST(list_sum(list_transform(range(33, 65), i ->
            CASE WHEN e[i] >= 0 THEN 1::BIGINT << (i - 33) ELSE 0 END)) AS BIGINT) AS h2
        FROM c2),
      bcand AS MATERIALIZED (SELECT qa.qid, ca.cid,
          CAST(list_sum(list_transform(range(1, 33), i ->
            q.qc[i] * (2 * ((c.h1 >> (i - 1)) & 1) - 1))) AS BIGINT)
        + CAST(list_sum(list_transform(range(33, 65), i ->
            q.qc[i] * (2 * ((c.h2 >> (i - 33)) & 1) - 1))) AS BIGINT) AS adot
        FROM qa JOIN ca ON qa.centroid_id = ca.centroid_id
          AND qa.qid <> ca.cid
        JOIN sq8 q ON qa.qid = q.id JOIN bqc c ON ca.cid = c.id
        WHERE qa.r <= 12),
      bpool AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY adot DESC, cid) AS pr
        FROM bcand) WHERE pr <= GREATEST(100,
          (SELECT COUNT(*) FROM embeddings) * 3 // 20)),
      annr AS (SELECT qid, cid FROM (SELECT p.qid, p.cid,
          row_number() OVER (PARTITION BY p.qid ORDER BY e.cos DESC, p.cid) AS rnk
        FROM bpool p JOIN ex0 e ON p.qid = e.qid AND p.cid = e.cid)
        WHERE rnk <= 5),
      ${Round6c.recallTailSql}""")),

    // ---- DSIR-style target-domain data selection -----------------------
    // The data-SELECTION step of a training pipeline (Xie et al.,
    // "Data Selection for Language Models via Importance Resampling",
    // NeurIPS 2023): score every raw document by the log importance
    // weight of its hashed bigram features under target-vs-raw unigram
    // feature models, then keep the top quarter. Target domain = the
    // `lang = 'en'` slice; features = the q172 portable word hashes
    // combined pairwise and bucketed mod 4096; both feature models are
    // Laplace-smoothed; EVERY ln is graft.operators.FixedPoint's
    // defined micro-nat integer recipe, so the weight column is BIGINT
    // and hash-compares exactly (the q324 rule — a CCNet/DSIR port
    // expects log space, and this is the deterministic way to ship
    // it). w(doc) = Σ_f [ln_fx(ct_f+1) − ln_fx(cr_f+1)] − n_feats ·
    // [ln_fx(NT+B) − ln_fx(NR+B)]. Pre-wiring DuckDB run (both SFs):
    // the selection enriches the target domain 65.6% vs 43.6% base
    // rate at sf0.01, 55.2% vs 41.2% at sf0.1, deterministic under
    // rerun. Scale shape: tokenize+hash is row-local; the feature
    // count tables are B-bounded (4096 rows) broadcasts; ln runs over
    // DISTINCT counts only (Zipf-bounded) and joins back; the per-doc
    // aggregation is the one data-sized shuffle; the global selection
    // rank is Ranks.rankedBinned over a constant key (the q283
    // binned-path rule — no task sorts more than one range bin).
    // ---- SQ8 standing-index streaming ingest ----------------------------
    // q311 closed the memory-bounded ingest loop for the PQ index;
    // this row scores the SAME bounded-state shape on the SQ8 rung,
    // where the family's ingest advantage is structural: ENCODING A
    // NEW BATCH IS ROW-LOCAL (round(x·127/absmax) per vector — no
    // frozen codebook, no residual LUT, no training dependency; PQ
    // ingest re-encodes against codebooks that must have been trained
    // on yesterday's distribution). Standing resident state per rep:
    // cell id + 64 int8 codes + the rescale + the member map (~72 B).
    // Per micro-batch: payload grouping (rep level), rank-1 cell
    // assignment (the q298/q305 ingest convention), row-local SQ8
    // encode, pure-BIGINT rank of the cell's standing codes
    // (intdot·rc), top-8 pool, exact re-rank (cold fetch), ≥0.35
    // alerts, idempotent MERGE. The m dial swept in DuckDB first
    // (both SFs): SQ8's near-lossless ordering gives 100% alert
    // coverage vs the exact cell scan already at m=4 (fixture max 4
    // alerts/probe, avg 1.5) — where q311's PQ ADC needed m=32 for
    // 98% on the same fixture shape: the pool-depth cost of ranking
    // error, measured across the two compression rungs. m=8 ships
    // (2× the observed max, the q326 pool convention).
    "q329_stream_semdedup_sq8" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        graft.plans.NativeExpressions.register(s)
        val corpus0 = emb.filter(Slots.Probe.out)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val cents = broadcast(corpus0.orderBy("cid").limit(16)
          .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
        val grp = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "sq8ing_grp")(
          corpus0.groupBy("ce")
            .agg(min("cid").as("rep"), collect_list("cid").as("ids")))
        val ra = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "sq8ing_ra_n16",
          params = Map("nlist" -> 16L))(
          Similarity.assignToCentroids(
              grp.select(col("rep"), col("ce")), "rep", "ce", cents,
              nKeep = 1)
            .select(col("rep"), col("centroid_id").as("cl")))
        val codes = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "sq8ing_codes")(
          Similarity.sq8Codes(grp.select(col("rep"), col("ce")),
            "rep", "ce"))
        MemCatalog.recreate(s, "semdedup_alerts_sq8",
          "(da BIGINT, db BIGINT, cos DOUBLE)")
        val probe = EventStreams.fixtureStream(s, dir, "embeddings")
          .filter(Slots.Probe.in)
          .select(col("vec_id").as("da"), col("embedding").as("ea"))
        EventTime.withShufflePartitions(s, 8) {
          EventStreams.drain(probe) { (batch, _) =>
            EventStreams.insertNew(Similarity.sq8SemDedupBatch(batch, grp, ra,
                codes, cents, m = 8, threshold = 0.35),
              "semdedup_alerts_sq8", "da", "db")
          }
        }
        s.sql("""SELECT da, db, cos FROM graftmem.semdedup_alerts_sq8
          ORDER BY da, db""")
      },
      Some(s"""WITH corp AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
        WHERE ${Slots.Probe.outSql}),
      pb0 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
        WHERE ${Slots.Probe.inSql}),
      grp AS MATERIALIZED (SELECT embedding, MIN(vec_id) AS rep FROM corp GROUP BY 1),
      pg AS MATERIALIZED (SELECT embedding, MIN(vec_id) AS pa FROM pb0 GROUP BY 1),
      cents AS MATERIALIZED (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM (SELECT * FROM corp ORDER BY vec_id LIMIT 16)),
      ra AS MATERIALIZED (${Round6c.dotRankSql("rep, centroid_id AS cl", "rep",
        Round6c.dotScoreSql("g.rep", "g.embedding", "grp g", "cents"), "1")}),
      paa AS MATERIALIZED (${Round6c.dotRankSql("pa, centroid_id AS cl", "pa",
        Round6c.dotScoreSql("p.pa", "p.embedding", "pg p", "cents"), "1")}),
      sqc AS MATERIALIZED (SELECT rep AS id,
          list_transform(e, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / am) AS BIGINT)) AS qc,
          CAST(round(am * 1000000000.0 / nn) AS BIGINT) AS rc
        FROM (SELECT rep, embedding AS e,
            list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS am,
            sqrt(list_reduce(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
              (a, b) -> a + b)) AS nn
          FROM grp)),
      sqp AS MATERIALIZED (SELECT pa AS id,
          list_transform(e, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / am) AS BIGINT)) AS qc
        FROM (SELECT pa, embedding AS e,
            list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS am
          FROM pg)),
      rk AS MATERIALIZED (SELECT paa.pa, ra.rep AS pb,
          CAST(list_sum(list_transform(range(1, 65), i -> q.qc[i] * c.qc[i])) AS BIGINT)
            * c.rc AS akey
        FROM paa JOIN ra ON paa.cl = ra.cl
        JOIN sqp q ON paa.pa = q.id JOIN sqc c ON ra.rep = c.id),
      pool AS MATERIALIZED (SELECT pa, pb FROM (SELECT pa, pb,
          row_number() OVER (PARTITION BY pa ORDER BY akey DESC, pb) AS rn
        FROM rk) WHERE rn <= 8),
      al AS MATERIALIZED (SELECT pool.pa, pool.pb, ${Round6c.cosSql("x", "y")} AS cos
        FROM pool
        JOIN (SELECT pa AS vid, embedding FROM pg) x ON x.vid = pool.pa
        JOIN (SELECT rep AS vid, embedding FROM grp) y ON y.vid = pool.pb,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      alf AS (SELECT pa, pb, cos FROM al WHERE cos >= 0.35)
      SELECT pm.vec_id AS da, cm.vec_id AS db, alf.cos
      FROM alf
      JOIN pg ON alf.pa = pg.pa
      JOIN pb0 pm ON pm.embedding = pg.embedding
      JOIN grp cg ON alf.pb = cg.rep
      JOIN corp cm ON cm.embedding = cg.embedding
      ORDER BY da, db""")),

    // ---- deterministic token-budget domain mixing -----------------------
    // The mixture-construction step of a training pipeline (the Pile /
    // DoReMi-adjacent deterministic form): give every language domain
    // an equal half-share token budget B = total_tokens div (2·D),
    // then greedily fill each domain in seedless-Lehmer-hash order
    // (h = Slots.hash(doc_id) mod 1000003 — the q314 sampling prime;
    // the q172 prime would never wrap at fixture ids and the "shuffle"
    // would silently be id order. doc_id tie-break on collisions; the
    // q261/q286 no-RNG convention) until the running total reaches B. The
    // overflow document is INCLUDED (selected iff run−tok < B), so any
    // nonempty domain keeps at least one doc; under-represented
    // domains (total ≤ B) keep everything, over-represented ones
    // downsample — rerun- and retry-identical by construction. Scale
    // shape: tokenize + hash are row-local; the per-domain running sum
    // is Ranks.runningSumsBinned with hotThreshold=1 (lang is a
    // BOUNDED-cardinality key — the round-5 window trap — so every
    // domain takes the range-binned two-phase path; no task sorts more
    // than one of the 32 hash-range bins); the budget is a 1-row
    // broadcast. All-BIGINT outputs (token counts, running sums,
    // selection) — the oracle replays the fill exactly.
    "q331_llm_domain_mix" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
        val td = docs.select(col("doc_id"), col("lang"),
          size(split(norm, " ")).cast("long").as("tok"),
          (Slots.hash(guardedId(col("doc_id"))) % lit(1000003L))
            .as("hsh"))
        val bud = broadcast(td
          .agg(sum("tok").as("tt"), countDistinct("lang").as("dd"))
          .select(expr("tt div (2 * dd)").as("bud"))
          .withColumn("one", lit(1)))
        val run = Ranks.runningSumsBinned(td, "lang", "hsh",
          Seq("hsh", "doc_id"), Seq("tok"), bins = 32, hotThreshold = 1L)
        run.withColumn("one", lit(1)).join(bud, Seq("one"))
          .select(col("lang"), col("doc_id"), col("tok"), col("hsh"),
            col("run_tok").as("run"),
            when(col("run_tok") - col("tok") < col("bud"), 1L)
              .otherwise(0L).as("selected"))
          .orderBy("lang", "hsh", "doc_id")
      },
      Some(s"""WITH td AS (SELECT doc_id, lang,
          CAST(len(string_split(trim(regexp_replace(regexp_replace(
            lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS BIGINT) AS tok,
          CAST(${Slots.sql("doc_id", 1000003)} AS BIGINT) AS hsh
        FROM documents),
      bud AS (SELECT CAST(SUM(tok) AS BIGINT) // (2 * COUNT(DISTINCT lang)) AS bud
        FROM td),
      rn AS (SELECT *, CAST(SUM(tok) OVER (PARTITION BY lang
          ORDER BY hsh, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        FROM td)
      SELECT lang, doc_id, tok, hsh, run,
        CAST(CASE WHEN run - tok < (SELECT bud FROM bud)
          THEN 1 ELSE 0 END AS BIGINT) AS selected
      FROM rn ORDER BY lang, hsh, doc_id""")),

    // ---- sequence packing (shuffle -> concat -> fixed-length chunk) ----
    // How pretraining batches are actually laid out: shuffle the
    // corpus deterministically (the q331 Lehmer order), concatenate
    // token streams, and split at a fixed context length L=2048. Per
    // document this is pure arithmetic on the EXCLUSIVE global token
    // offset: seq_first = off div L, seq_last = (off+tok−1) div L,
    // crosses = first ≠ last (the boundary-split accounting that decides
    // attention-masking strategy). The offset is the global running sum
    // in shuffle order — Ranks.cumSums's two-pass range-shard scheme
    // (one hash exchange + per-bin sorts; the offset spine is the
    // sanctioned ≤64-row post-aggregation window; no global sort at any
    // corpus size). cumSums requires UNIQUE keys: okey = hsh·2^32 +
    // doc_id (hsh < 1000003 keeps the product exact int64; doc ids
    // are < 2^32 in every fixture — a loud require guards the packing
    // key). All-BIGINT outputs; the oracle replays the layout with one
    // window.
    "q332_llm_sequence_pack" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
        val td = docs.select(col("doc_id"), col("lang"),
          size(split(norm, " ")).cast("long").as("tok"),
          (Slots.hash(col("doc_id")) % lit(1000003L)).as("hsh"))
        val mx = td.agg(max("doc_id")).head().getLong(0)
        require(mx <= Slots.MaxKey,
          s"doc_id·${Slots.Multiplier} must stay in int64 AND the okey packing " +
            s"needs doc_id < 2^32 — both bound by ${Slots.MaxKey} (max seen $mx)")
        val keyed = td.withColumn("okey",
          col("hsh") * lit(4294967296L) + col("doc_id"))
        Ranks.cumSums(keyed, "okey", Seq("tok"), bins = 64)
          .select(col("doc_id"), col("lang"), col("tok"), col("hsh"),
            (col("cum_tok") - col("tok")).as("off"),
            expr("(cum_tok - tok) div 2048").as("seq_first"),
            expr("(cum_tok - 1) div 2048").as("seq_last"),
            when(expr("(cum_tok - tok) div 2048 <> (cum_tok - 1) div 2048"),
              1L).otherwise(0L).as("crosses"))
          .orderBy("hsh", "doc_id")
      },
      Some(s"""WITH td AS (SELECT doc_id, lang,
          CAST(len(string_split(trim(regexp_replace(regexp_replace(
            lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS BIGINT) AS tok,
          CAST(${Slots.sql("doc_id", 1000003)} AS BIGINT) AS hsh
        FROM documents),
      rn AS (SELECT *, CAST(SUM(tok) OVER (ORDER BY hsh, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM td)
      SELECT doc_id, lang, tok, hsh, run - tok AS off,
        (run - tok) // 2048 AS seq_first,
        (run - 1) // 2048 AS seq_last,
        CAST(CASE WHEN (run - tok) // 2048 <> (run - 1) // 2048
          THEN 1 ELSE 0 END AS BIGINT) AS crosses
      FROM rn ORDER BY hsh, doc_id""")),

    // ---- late interaction (ColBERT MaxSim): the exact primitive --------
    // The multi-vector retrieval modality (ColBERT/ColPali): a document
    // is a SET of token vectors, score(q, d) = Σ_{qt∈q} max_{dt∈d}
    // cos(qt, dt). Fixture layout: doc = vec_id div 4, 4 tokens/doc.
    // Every per-pair cos is rounded to micro-cos BIGINT before max/sum
    // (ties away from zero in both engines, the q46/q96 recipes), so
    // the whole score column is exact int64. Top-5 per query doc,
    // self excluded. The score table is a build-once fixture artifact
    // — q334's serve reranks against the same physics.
    "q333_llm_maxsim_exact" -> QueryDef(
      (s, dir) => {
        Similarity.topKByMaxsim(maxsimExact(s, dir), 5)
          .select(col("qd"), col("cd"), col("score"), col("rnk"))
          .orderBy("qd", "rnk")
      },
      Some(s"""WITH $maxsimBaseSql
      SELECT qd, cd, score, rnk FROM (SELECT qd, cd, score,
          row_number() OVER (PARTITION BY qd ORDER BY score DESC, cd) AS rnk
        FROM ms) WHERE rnk <= 5 ORDER BY qd, rnk""")),

    // ---- late interaction served: PLAID-shaped two-stage ----------------
    // The serving shape production uses (PLAID / ColBERTv2): token-
    // level IVF cells GENERATE candidate documents (any query token
    // co-probed with any doc token admits the doc), the SQ8 integer
    // maxsim over ALL token pairs of each candidate RANKS them (the
    // q326 near-lossless law, doc-level), and the m-bounded pool
    // reranks at full precision. The round-11 sweep measured the
    // variants: scoring ONLY co-probed pairs ranks badly (0.78 at
    // m=40 on a 125-doc corpus — the co-probe misses the true max
    // pair); candidates-then-full-SQ8 saturates at m=10 (np1
    // 0.76/0.94 — candidate containment binds; np2 0.98/0.98, np4/m20
    // 1.0/1.0). Shipped np=2, m=10 → recall@5 0.98/0.98, live ==
    // sweep. Scale shape: cells + SQ8 codes + the exact table are
    // fixture artifacts; candidate generation is a hash equi-join on
    // cell id; SQ8 ranking touches candidates' 16 token pairs as one
    // integer HOF; the exact rerank touches raw vectors only for the
    // 10-bounded pool.
    "q334_llm_maxsim_plaid" -> QueryDef(
      (s, dir) => {
        graft.plans.NativeExpressions.register(s)
        val tok = mvTok(s, dir)
        val (cents, ca, codes, ctok) =
          sq8TokenIndex(s, dir, tok, "maxsim", nlist = 16L)
        val qtok = tok.filter(col("doc") < 10)
          .select(col("doc").as("qd"), col("tid").as("qt"), col("e").as("qe"))
        val qa = Similarity.assignToCentroids(
            qtok.select(col("qt"), col("qe")), "qt", "qe", cents, nKeep = 2)
          .select(col("qt"), col("centroid_id"))
        val cdocs = qa.join(broadcast(qtok.select("qd", "qt")), Seq("qt"))
          .join(ca.select(col("tid"), col("centroid_id")), Seq("centroid_id"))
          .select(col("qd"), expr("tid div 4").as("cd"))
          .filter(col("qd") =!= col("cd"))
          .distinct()
        val qcodes = broadcast(codes
          .join(qtok.select(col("qt").as("id"), col("qd")), Seq("id"))
          .select(col("qd"), col("id").as("qt"), col("qc").as("qq")))
        val capx = Similarity.sq8Maxsim(
          cdocs.join(qcodes, Seq("qd")).join(ctok, Seq("cd")))
        val pool = TopK.perGroup(capx, Seq("qd"),
          Seq(col("ascore").desc, col("cd")), 10, rankCol = "pr")
          .select("qd", "cd")
        // exact rerank from raw vectors, pool-bounded (the serving
        // residency contract — the exact TABLE is only used to score)
        val qv = broadcast(qtok.withColumn("qn", Similarity.norm("qe")))
        val cv = tok.select(col("doc").as("cd"), col("e").as("ce"))
          .withColumn("cn", Similarity.norm("ce"))
        val annr = Similarity.topKByMaxsim(Similarity.maxsim(
            pool.join(qv, Seq("qd")).join(cv, Seq("cd"))), 5)
          .select("qd", "cd")
        val exr = Similarity.topKByMaxsim(maxsimExact(s, dir), 5)
          .select("qd", "cd")
        val hits = exr.join(annr, Seq("qd", "cd"))
          .groupBy("qd").agg(count(lit(1)).as("h"))
        exr.select("qd").distinct()
          .join(hits, Seq("qd"), "left")
          .select(col("qd"),
            coalesce(col("h"), lit(0L)).as("n_hits"),
            (coalesce(col("h"), lit(0L)).cast("double") / 5.0).as("recall"))
          .orderBy("qd")
      },
      Some(s"""WITH $maxsimBaseSql,
      cent AS MATERIALIZED (SELECT tid AS centroid_id, e AS centroid
        FROM tok WHERE tid < 16),
      mca AS MATERIALIZED (${Round6c.dotRankSql("tid, centroid_id", "tid",
        Round6c.dotScoreSql("t.tid", "t.e", "tok t", "cent"), "1")}),
      mqa AS MATERIALIZED (${Round6c.dotRankSql("tid, centroid_id", "tid",
        Round6c.dotScoreSql("t.tid", "t.e", "qtok t", "cent"), "2")}),
      msq8 AS MATERIALIZED (SELECT tid,
          list_transform(e, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / am) AS BIGINT)) AS qc,
          CAST(round(am * 1000000000.0 / nn) AS BIGINT) AS rc
        FROM (SELECT tid, e,
            list_max(list_transform(e, y -> abs(CAST(y AS DOUBLE)))) AS am,
            sqrt(list_reduce(list_transform(e, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
              (a, b) -> a + b)) AS nn
          FROM tok)),
      cdocs AS MATERIALIZED (SELECT DISTINCT q.doc AS qd, c.tid // 4 AS cd
        FROM mqa JOIN qtok q ON mqa.tid = q.tid
        JOIN mca ON mqa.centroid_id = mca.centroid_id
        JOIN tok c ON mca.tid = c.tid
        WHERE q.doc <> c.tid // 4),
      capx AS MATERIALIZED (SELECT x.qd, x.cd, q.tid AS qt,
          MAX(CAST(list_sum(list_transform(range(1, 65), i -> qs.qc[i] * cs.qc[i])) AS BIGINT)
            * cs.rc) AS amx
        FROM cdocs x JOIN qtok q ON q.doc = x.qd JOIN tok c ON c.doc = x.cd
        JOIN msq8 qs ON q.tid = qs.tid JOIN msq8 cs ON c.tid = cs.tid
        GROUP BY 1, 2, 3),
      mds AS (SELECT qd, cd, CAST(SUM(amx) AS BIGINT) AS ascore
        FROM capx GROUP BY 1, 2),
      mpool AS (SELECT qd, cd FROM (SELECT qd, cd,
          row_number() OVER (PARTITION BY qd ORDER BY ascore DESC, cd) AS pr
        FROM mds) WHERE pr <= 10),
      annr AS (SELECT qd, cd FROM (SELECT p.qd, p.cd,
          row_number() OVER (PARTITION BY p.qd ORDER BY ms.score DESC, p.cd) AS rnk
        FROM mpool p JOIN ms ON p.qd = ms.qd AND p.cd = ms.cd)
        WHERE rnk <= 5),
      hits AS (SELECT exr.qd, COUNT(*) AS h
        FROM exr JOIN annr ON exr.qd = annr.qd AND exr.cd = annr.cd
        GROUP BY 1)
      SELECT q.qd, CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
        CAST(COALESCE(h.h, 0) AS DOUBLE) / 5.0 AS recall
      FROM (SELECT DISTINCT qd FROM exr) q LEFT JOIN hits h ON q.qd = h.qd
      ORDER BY q.qd""")),

    // ---- PSI drift (fixed-point, the scorecard metric) ------------------
    // Completes the drift trio (q237 KS numeric, q268 chi-square
    // categorical): Population Stability Index between two corpus
    // slices over 16 equal-width doc-length bins, with BOTH factors of
    // every term exact int64 — common-denominator form
    //   term_i = (a_i·Nb − b_i·Na) · (lnFx(a_i·Nb) − lnFx(b_i·Na)),
    //   PSI = Σ term_i / (Na·Nb·10⁶)
    // (a/b = Laplace-smoothed bin counts; the ln is
    // FixedPoint.lnFxCols — row-local on the 2×2×16-row count frame).
    // The metric is VALIDATED both ways in one output: 'split' (a
    // Lehmer half vs the other — the null case; every natural slice
    // of the synthetic fixture is length-iid, measured: lang/source
    // PSIs all < 0.008, so null is the honest label) and 'inject'
    // (the corpus against itself with a deterministic truncation
    // regression — every doc capped at 25 tokens — the shift a
    // pipeline bug produces; the metric must fire). Per-bin term rows
    // plus a bin=−1 rollup. Every column BIGINT-exact;
    // integer binning ((tok−lo)·16 div (hi−lo+1)) so no float touches
    // the bins either. Smoothing covers ALL 16 bins per cmp (empty
    // bins contribute their (1,1) pseudo-count via a 32-row spine —
    // the documented definition, round-11 ADVICE). Domain bound: the
    // PRODUCT term (x−y)·(lx−ly) must stay in int64 → a loud require
    // at n > 5·10⁵ docs (shard PSI by stratum beyond that); the lnFx
    // argument domain is enforced inside FixedPoint itself. Scale
    // shape: one corpus scan → bounded (cmp, bin) aggregates;
    // everything after is 64-row arithmetic.
    "q335_llm_drift_psi" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val n = docs.count()
        // the PRODUCT-safe bound (round-11 ADVICE): term_fx =
        // (x−y)·(lx−ly) worst-cases near 2·Na·Nb·ln(n)·10⁶ under total
        // bin skew, and the rollup sums 16 such terms bounded by the
        // same total — n ≤ 5·10⁵ keeps 2n²·ln(n)·10⁶ ≤ 6.6·10¹⁸ <
        // 9.2·10¹⁸ (Spark would wrap silently where DuckDB raises —
        // the divergence the old n ≤ 3·10⁶ lnFx-argument bound missed).
        // The lnFx ARGUMENT domain is now enforced inside FixedPoint
        // itself. Beyond the bound, shard PSI by stratum.
        require(n <= 500000L,
          s"PSI int64 product domain needs 2n^2*ln(n)*1e6 <= 9.2e18 " +
            s"(n=$n > 500000); shard by stratum")
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
        val td = docs.select(col("doc_id"), col("lang"),
          size(split(norm, " ")).cast("long").as("tok"))
        val mm = broadcast(td.agg(min("tok").as("lo"), max("tok").as("hi")))
        val binned = td.crossJoin(mm).withColumn("bin",
          expr("least(((tok - lo) * 16) div (hi - lo + 1), 15)"))
        val binT = expr(
          "greatest(least(((least(tok, 25) - lo) * 16) div (hi - lo + 1), 15), 0)")
        val labeled = binned.select(explode(array(
            struct(lit("split").as("cmp"),
              (Slots.of(guardedId(col("doc_id")), 1000003L) % 2 === 0)
                .as("isRef"), col("bin")),
            struct(lit("inject").as("cmp"), lit(true).as("isRef"), col("bin")),
            struct(lit("inject").as("cmp"), lit(false).as("isRef"),
              binT.as("bin")))).as("s"))
          .select(col("s.cmp").as("cmp"), col("s.isRef").as("isRef"),
            col("s.bin").as("bin"))
        // Laplace smoothing covers ALL 16 bins per cmp (the round-11
        // ADVICE metric-definition fix: a middle bin empty in both
        // slices still contributes its (1,1) pseudo-count, so Na/Nb
        // and PSI match the documented '16 equal-width bins, Laplace-
        // smoothed' definition regardless of which bins are occupied).
        // The spine is one 32-row local relation — no join needed to
        // build it, a broadcast left join to fill it.
        val spine = s.range(32).select(
          when(col("id") < 16, lit("split")).otherwise(lit("inject"))
            .as("cmp"),
          (col("id") % 16).cast("long").as("bin"))
        val cnt0 = labeled.groupBy("cmp", "bin").agg(
          sum(when(col("isRef"), 1L).otherwise(0L)).as("ra"),
          sum(when(col("isRef"), 0L).otherwise(1L)).as("rb"))
        val cnt = spine.join(cnt0, Seq("cmp", "bin"), "left")
          .select(col("cmp"), col("bin"),
            (coalesce(col("ra"), lit(0L)) + 1L).as("aa"),
            (coalesce(col("rb"), lit(0L)) + 1L).as("bb"))
        val tot = cnt.groupBy("cmp")
          .agg(sum("aa").as("na"), sum("bb").as("nb"))
        val j = FixedPoint.lnFxCols(FixedPoint.lnFxCols(
            cnt.join(broadcast(tot), Seq("cmp"))
              .withColumn("x", col("aa") * col("nb"))
              .withColumn("y", col("bb") * col("na")),
            "x", "lx"), "y", "ly")
          .withColumn("term_fx", (col("x") - col("y")) * (col("lx") - col("ly")))
        val perBin = j.select(col("cmp"), col("bin"), col("aa"), col("bb"),
          col("term_fx"))
        val roll = j.groupBy("cmp").agg(
            max("na").as("aa"), max("nb").as("bb"),
            sum("term_fx").as("term_fx"))
          .select(col("cmp"), lit(-1L).as("bin"), col("aa"), col("bb"),
            col("term_fx"))
        perBin.unionByName(roll).orderBy("cmp", "bin")
      },
      Some(s"""WITH td AS (SELECT doc_id, lang,
          CAST(len(string_split(trim(regexp_replace(regexp_replace(
            lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS BIGINT) AS tok
        FROM documents),
      mm AS (SELECT MIN(tok) AS lo, MAX(tok) AS hi FROM td),
      binned AS (SELECT doc_id, lang, tok,
          LEAST(((tok - (SELECT lo FROM mm)) * 16)
            // ((SELECT hi FROM mm) - (SELECT lo FROM mm) + 1), 15) AS bin
        FROM td),
      labeled AS (
        SELECT 'split' AS cmp, (${Slots.sql("doc_id", 1000003)}) % 2 = 0 AS isref, bin FROM binned
        UNION ALL
        SELECT 'inject' AS cmp, true AS isref, bin FROM binned
        UNION ALL
        SELECT 'inject' AS cmp, false AS isref,
          GREATEST(LEAST(((LEAST(tok, 25) - (SELECT lo FROM mm)) * 16)
            // ((SELECT hi FROM mm) - (SELECT lo FROM mm) + 1), 15), 0) AS bin
          FROM binned),
      spine AS (SELECT cmp, bin
        FROM (SELECT unnest(['split', 'inject']) AS cmp) c,
          (SELECT unnest(range(0, 16)) AS bin) b),
      cnt0 AS (SELECT cmp, bin,
          CAST(SUM(CASE WHEN isref THEN 1 ELSE 0 END) AS BIGINT) AS ra,
          CAST(SUM(CASE WHEN isref THEN 0 ELSE 1 END) AS BIGINT) AS rb
        FROM labeled GROUP BY 1, 2),
      cnt AS (SELECT s.cmp, s.bin,
          CAST(COALESCE(c0.ra, 0) + 1 AS BIGINT) AS aa,
          CAST(COALESCE(c0.rb, 0) + 1 AS BIGINT) AS bb
        FROM spine s LEFT JOIN cnt0 c0 ON s.cmp = c0.cmp AND s.bin = c0.bin),
      tot AS (SELECT cmp, CAST(SUM(aa) AS BIGINT) AS na,
          CAST(SUM(bb) AS BIGINT) AS nb FROM cnt GROUP BY 1),
      xy AS (SELECT cnt.cmp, cnt.bin, cnt.aa, cnt.bb,
          cnt.aa * tot.nb AS x, cnt.bb * tot.na AS y, tot.na, tot.nb
        FROM cnt JOIN tot ON cnt.cmp = tot.cmp),
      nv AS (SELECT x AS n FROM xy UNION SELECT y FROM xy),
      ${FixedPoint.lnFxSql("nv", "lnt")},
      terms AS (SELECT xy.cmp, xy.bin, xy.aa, xy.bb, xy.na, xy.nb,
          (xy.x - xy.y) * (lx.ln_fx - ly.ln_fx) AS term_fx
        FROM xy JOIN lnt lx ON xy.x = lx.n JOIN lnt ly ON xy.y = ly.n)
      SELECT cmp, bin, aa, bb, term_fx FROM terms
      UNION ALL
      SELECT cmp, CAST(-1 AS BIGINT) AS bin, MAX(na) AS aa, MAX(nb) AS bb,
        CAST(SUM(term_fx) AS BIGINT) AS term_fx FROM terms GROUP BY cmp
      ORDER BY cmp, bin""")),

    // ---- the training-data pipeline, end to end --------------------------
    // The capstone composite a user actually runs, as ONE declared
    // query with ONE exact oracle: SELECT (q327's DSIR top-quarter,
    // served from a fixture artifact — the selection is corpus-
    // determined, built once) → MIX (q331's greedy half-share token
    // fill per language domain, over the SELECTED set only) → PACK
    // (q332's shuffle-concat-chunk layout of the mixed set at
    // L=2048). Output = the packed layout of the final training set.
    // Each stage's arithmetic is exactly the standalone query's —
    // the oracle chains the three replays verbatim.
    "q336_llm_data_pipeline" -> QueryDef(
      (s, dir) => {
        val sel = dsirSelArtifact(s, dir)
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
        // guardedId here, not just the aggregate require below: the
        // require checks the MIXED set's max, but every selected doc's
        // hash participates in the fill order before that filter
        val td = sel.join(docs, Seq("doc_id"))
          .select(col("doc_id"), col("lang"),
            size(split(norm, " ")).cast("long").as("tok"),
            (Slots.hash(guardedId(col("doc_id"))) % lit(1000003L))
              .as("hsh"))
        val bud = broadcast(td
          .agg(sum("tok").as("tt"), countDistinct("lang").as("dd"))
          .select(expr("tt div (2 * dd)").as("bud"))
          .withColumn("one", lit(1)))
        val mixed = Ranks.runningSumsBinned(td, "lang", "hsh",
            Seq("hsh", "doc_id"), Seq("tok"), bins = 32, hotThreshold = 1L)
          .withColumn("one", lit(1)).join(bud, Seq("one"))
          .filter(col("run_tok") - col("tok") < col("bud"))
          .select(col("doc_id"), col("lang"), col("tok"), col("hsh"))
        val mx = mixed.agg(max("doc_id")).head().getLong(0)
        require(mx <= Slots.MaxKey,
          s"doc_id·${Slots.Multiplier} must stay in int64 AND the okey packing " +
            s"needs doc_id < 2^32 — both bound by ${Slots.MaxKey} (max seen $mx)")
        val keyed = mixed.withColumn("okey",
          col("hsh") * lit(4294967296L) + col("doc_id"))
        Ranks.cumSums(keyed, "okey", Seq("tok"), bins = 64)
          .select(col("doc_id"), col("lang"), col("tok"), col("hsh"),
            (col("cum_tok") - col("tok")).as("off"),
            expr("(cum_tok - tok) div 2048").as("seq_first"),
            expr("(cum_tok - 1) div 2048").as("seq_last"),
            when(expr("(cum_tok - tok) div 2048 <> (cum_tok - 1) div 2048"),
              1L).otherwise(0L).as("crosses"))
          .orderBy("hsh", "doc_id")
      },
      Some(s"""WITH $dsirCtes,
      td2 AS (SELECT d.doc_id, sd.lang,
          CAST(len(string_split(trim(regexp_replace(regexp_replace(
            lower(d.text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS BIGINT) AS tok,
          CAST(${Slots.sql("d.doc_id", 1000003)} AS BIGINT) AS hsh
        FROM (SELECT doc_id, lang FROM dsel WHERE selected = 1) sd
        JOIN documents d USING (doc_id)),
      bud2 AS (SELECT CAST(SUM(tok) AS BIGINT) // (2 * COUNT(DISTINCT lang)) AS bud
        FROM td2),
      rn2 AS (SELECT *, CAST(SUM(tok) OVER (PARTITION BY lang
          ORDER BY hsh, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        FROM td2),
      mixed AS (SELECT doc_id, lang, tok, hsh FROM rn2
        WHERE run - tok < (SELECT bud FROM bud2)),
      rn3 AS (SELECT *, CAST(SUM(tok) OVER (ORDER BY hsh, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM mixed)
      SELECT doc_id, lang, tok, hsh, run - tok AS off,
        (run - tok) // 2048 AS seq_first,
        (run - 1) // 2048 AS seq_last,
        CAST(CASE WHEN (run - tok) // 2048 <> (run - 1) // 2048
          THEN 1 ELSE 0 END AS BIGINT) AS crosses
      FROM rn3 ORDER BY hsh, doc_id""")),

    "q327_llm_dsir_select" -> QueryDef(
      (s, dir) => dsirRank(s, dir).orderBy("rnk"),
      Some(s"""WITH $dsirCtes
      SELECT doc_id, lang, n_feats, w_fx, rnk, selected
      FROM dsel ORDER BY rnk"""))
  )

  /** The DSIR-selected doc set (doc_id, lang) as a fixture artifact —
    * shared by q336 and Round12's q345 (the encoded-token composite):
    * the selection is corpus-determined, built once. */
  private[queries] def dsirSelArtifact(s: SparkSession,
      dir: String): DataFrame =
    graft.util.FixtureArtifact.parquet(s, dir,
      "documents.parquet", "dsirsel")(
      dsirRank(s, dir).filter(col("selected") === 1L)
        .select("doc_id", "lang"))

  /** q327's DSIR ranking stage, shared with the q336 pipeline
    * composite: importance-ranked docs with the top-quarter selection
    * flag, materialized to scratch (the multi-pass rankedBinned
    * consumer contract). Returns the read-back frame, unordered. */
  private def dsirRank(s: SparkSession, dir: String): DataFrame = {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
        // Row-local bigram features (guide §2.4): the previous form
        // exploded the token stream and shuffled EVERY token row
        // through a per-doc window just to pair adjacent words. The
        // per-word reduced hashes are one array map, bound once via
        // the single-element-transform let (element_at(transform(
        // array(x), a -> ...), 1) — a referenced three times but
        // computed once; a bare named column would be re-inlined by
        // CollapseProject into each slice, the q169-class duplication),
        // and the bigram hash is a zip of adjacent slices — the
        // feature values are bit-identical ((h1*65521 + h2) % B over
        // the same reduced word hashes), order within a doc is
        // irrelevant to every consumer (counts and sums), and the
        // token-stream Exchange disappears. Same-window A/B'd vs the
        // window form (see OPTIMIZATION_r15.md).
        // The feature stream is scanned exactly twice (counts + the
        // per-doc sum) — persist it; everything BETWEEN those scans is
        // bounded by the 4096-bucket domain: the Laplace ln arguments
        // are functions of the bucket id ALONE (ct_f+1, cr_f+1), so the
        // whole per-feature weight delta dlf = ln(ct_f+1) − ln(cr_f+1)
        // is a ROW-LOCAL projection on the count table (lnFxCols — the
        // defined integer ln with b = length(bin(n))−1; no powers join,
        // no distinct-value table, no join-backs) collapsing to one
        // B-row broadcast. (The first wiring persisted a data-sized
        // (doc, ctf, crf) table and hash-joined a distinct-value ln
        // table back per ROW — 12.4 s warm, ~33 stages; this form is
        // the B-bounded shape OPERATORS.md promises.)
        val fs = transform(
          array(transform(split(norm, " "), w => wordHm(w) % lit(65521L))),
          a => zip_with(
            slice(a, lit(1), size(a) - 1),
            slice(a, lit(2), size(a) - 1),
            (x, y) => (x * lit(65521L) + y) % lit(DsirBuckets)))
        val fh = docs.select(col("doc_id"), col("lang"),
            explode(element_at(fs, 1)).as("f"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cf = fh.groupBy("f").agg(
            count(lit(1)).as("rcnt"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val kf = broadcast(FixedPoint.lnFxCols(FixedPoint.lnFxCols(
            cf.agg(sum("tc").as("ntl"), sum("rcnt").as("nrl"))
              .withColumn("one", lit(1)),
            s"ntl + $DsirBuckets", "lt"), s"nrl + $DsirBuckets", "lr")
          .select(col("one"), (col("lt") - col("lr")).as("kk")))
        val wt = broadcast(FixedPoint.lnFxCols(FixedPoint.lnFxCols(
            cf, "tc + 1", "lct"), "rcnt + 1", "lcr")
          .select(col("f"), (col("lct") - col("lcr")).as("dlf")))
        val dw = fh.join(wt, Seq("f"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_feats"),
            sum(col("dlf")).as("sfx"))
          .withColumn("one", lit(1))
          .join(kf, Seq("one"))
          .select(col("doc_id"), col("n_feats"),
            (col("sfx") - col("n_feats") * col("kk")).as("w_fx"))
        // one row per doc from here on — persist before rankedBinned,
        // whose min/max + hot-key + spine passes each re-scan the input
        val alld = docs.select(col("doc_id"), col("lang"))
          .join(dw, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"),
            coalesce(col("n_feats"), lit(0L)).as("n_feats"),
            coalesce(col("w_fx"), lit(0L)).as("w_fx"),
            lit(0).as("g"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nd = broadcast(alld.agg(count(lit(1)).as("nd"))
          .withColumn("one", lit(1)))
        val out = Ranks.rankedBinned(alld, "g", "-w_fx",
            Seq(col("w_fx").desc, col("doc_id")), bins = 32,
            hotThreshold = 1L)
          .withColumn("one", lit(1)).join(nd, Seq("one"))
          .select(col("doc_id"), col("lang"), col("n_feats"), col("w_fx"),
            col("rn").as("rnk"),
            when(col("rn") <= expr("nd div 4"), 1L).otherwise(0L)
              .as("selected"))
        Jobs.cut(out, "dsir_out",
          { fh.unpersist(); cf.unpersist(); alld.unpersist() })
  }

  /** q327's oracle CTE chain (through `dsel`: ranked docs + the
    * top-quarter selection flag) — shared with q336's oracle. */
  private[queries] lazy val dsirCtes: String = s"""tok AS (SELECT doc_id, lang, string_split(trim(regexp_replace(
          regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS tl
        FROM documents),
      dp AS MATERIALIZED (SELECT doc_id, lang, tl[p] AS w1, tl[p+1] AS w2
        FROM (SELECT doc_id, lang, tl, unnest(range(1, len(tl))) AS p FROM tok)),
      fh AS MATERIALIZED (SELECT doc_id, lang,
          CAST(((${wordHmSql("w1")} % 65521) * 65521
            + ${wordHmSql("w2")} % 65521) % $DsirBuckets AS BIGINT) AS f
        FROM dp),
      ct AS (SELECT f, COUNT(*) AS tc FROM fh WHERE lang = 'en' GROUP BY 1),
      cr AS (SELECT f, COUNT(*) AS rcnt FROM fh GROUP BY 1),
      ntr AS (SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ntl,
          COUNT(*) AS nrl FROM fh),
      sc AS MATERIALIZED (SELECT doc_id,
          CAST(COALESCE(ct.tc, 0) + 1 AS BIGINT) AS ctf,
          CAST(cr.rcnt + 1 AS BIGINT) AS crf
        FROM fh JOIN cr USING (f) LEFT JOIN ct USING (f)),
      nv AS (SELECT ctf AS n FROM sc UNION SELECT crf FROM sc
        UNION SELECT ntl + $DsirBuckets FROM ntr
        UNION SELECT nrl + $DsirBuckets FROM ntr),
      ${FixedPoint.lnFxSql("nv", "lnt")},
      kf AS (SELECT
          (SELECT ln_fx FROM lnt WHERE n = (SELECT ntl + $DsirBuckets FROM ntr))
        - (SELECT ln_fx FROM lnt WHERE n = (SELECT nrl + $DsirBuckets FROM ntr)) AS kk),
      dw AS (SELECT sc.doc_id, COUNT(*) AS n_feats,
          CAST(SUM(lt.ln_fx - lr.ln_fx) AS BIGINT)
            - COUNT(*) * (SELECT kk FROM kf) AS w_fx
        FROM sc JOIN lnt lt ON sc.ctf = lt.n JOIN lnt lr ON sc.crf = lr.n
        GROUP BY 1),
      alld AS (SELECT d.doc_id, d.lang,
          CAST(COALESCE(dw.n_feats, 0) AS BIGINT) AS n_feats,
          CAST(COALESCE(dw.w_fx, 0) AS BIGINT) AS w_fx
        FROM documents d LEFT JOIN dw USING (doc_id)),
      rk AS (SELECT *, row_number() OVER (ORDER BY w_fx DESC, doc_id) AS rnk,
          (SELECT COUNT(*) FROM alld) AS ndd FROM alld),
      dsel AS MATERIALIZED (SELECT doc_id, lang, n_feats, w_fx,
          CAST(rnk AS BIGINT) AS rnk,
          CAST(CASE WHEN rnk <= ndd // 4 THEN 1 ELSE 0 END AS BIGINT) AS selected
        FROM rk)"""
}
