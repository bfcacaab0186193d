package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.operators.{IndexAdvisor, Similarity}
import graft.sources.{MemCatalog, Tables}
import graft.streaming.EventStreams
import graft.util.{Jobs, Slots}

/** Round-10 batch: composing the last ANN family member — DiskANN-
  * shaped serving (graph navigation × PQ compression, q304 × q308) —
  * and wiring the advisor's memory axis through the graph branch.
  */
object Round10 {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  /** q312's dials (DuckDB sweep, see scaladoc on the query): the q304
    * refined graph (d=24, rounds=2) and the q308 16×16 PQ codes, beam
    * swept over the ADC-ranked walk. */
  private[queries] val DiskannBeam = 24
  private[queries] val DiskannRounds = 4

  /** The assembled q312 oracle for a (beam, rounds, nSub, nCodes) dial
    * point (swept in DuckDB at both SFs: visited-list pool b24/r4
    * 0.984/0.880, every final-frontier-only pool below 0.8): the
    * shared exact CTEs, the stitched + NN-Descent-refined edge build
    * (q304's `e`), the PQ encode/ADC chain (`psc`), centroid-seeded
    * entries (`bent`), the ADC-ranked beam rounds ending in `pool`,
    * one exact re-rank of the pool, top-5, recall tail. */
  private def diskannOracle(beam: Int, rounds: Int, nSub: Int,
      nCodes: Int): String =
    s"""${Round6c.exactRecallCte},
      ${Round8.stitchedEdgesSql(d = 4, nPlanes = 6, nTables = 4, out = "e0")},
      ${Round9.nnDescentSql(rounds = Round9.NnRounds, d = Round9.NnDegree,
        src = "e0", out = "e")},
      ${Round9.pqAdcSql(nSub = nSub, nCodes = nCodes)},
      ${Round11.graphEntrySql("")},
      ${Round11.beamAdcP(rounds = rounds, beam = beam, p = "p", edge = "e",
        entry = "bent", psc = "psc")},
      ${Round11.poolSql("p", rounds, "pool")},
      rsc AS MATERIALIZED (SELECT pool.qid, pool.cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM pool JOIN embeddings q ON pool.qid = q.vec_id
        JOIN embeddings c ON pool.cid = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      annr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM rsc) WHERE rnk <= 5),
      ${Round6c.recallTailSql}"""

  /** q313's slot split (the q305/q311 ingest convention): standing
    * corpus = slot ≠ 0, streamed probes = slot 0. */
  private val CorpPred = Slots.Probe.outSql
  private val ProbePred = Slots.Probe.inSql

  /** q313's walk dials — adviseServing's graph-pq branch constants
    * (d=24/beam=24/rounds=4/16×16 PQ, the q312 swept point). */
  private[queries] val IngestBeam = 24
  private[queries] val IngestRounds = 4

  /** DuckDB replay of the q313 standing-graph ingest chain up to the
    * probe×corpus approximate-cosine CTE `psc` (plain-PQ ADC, the
    * q312 convention, over the SLOT-FILTERED corpus) plus the probe
    * entry CTE `bent`: corpus row-numbering (`cpos` — codebook and
    * centroid seeds are the lowest corp ids, exactly what the Spark
    * side's orderBy(cid).limit(n) takes), int64-quantized codebook +
    * per-(vector, subspace) nearest-code encode, the per-probe LUT,
    * ADC sums against the true stored norms, and the 2-nearest-of-16
    * centroid entries (rounded-dot rank — the assignToCentroids
    * replay). [[Round11.beamAdcP]] then walks edge CTE `e` from `bent`
    * scoring via this `psc`, identically to q312. All MATERIALIZED. */
  private def ingestPqSql(nSub: Int, nCodes: Int, nCents: Int): String = {
    val dsub = 64 / nSub
    s"""cpos AS MATERIALIZED (SELECT vec_id, embedding,
          row_number() OVER (ORDER BY vec_id) AS rn
        FROM embeddings WHERE $CorpPred),
      pqc AS MATERIALIZED (SELECT i.i AS i, c.vec_id AS code,
          CAST(FLOOR(CAST(c.embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT) AS cx
        FROM cpos c, (SELECT unnest(range(1, 65)) AS i) i
        WHERE c.rn <= $nCodes),
      cqx AS MATERIALIZED (SELECT e.vec_id AS cid, i.i AS i,
          CAST(FLOOR(CAST(e.embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT) AS x
        FROM embeddings e, (SELECT unnest(range(1, 65)) AS i) i),
      enc0 AS MATERIALIZED (SELECT cqx.cid, (cqx.i - 1) // $dsub AS s, pqc.code,
          SUM((cqx.x - pqc.cx) * (cqx.x - pqc.cx)) AS dist
        FROM cqx JOIN cpos ON cqx.cid = cpos.vec_id
        JOIN pqc ON cqx.i = pqc.i GROUP BY 1, 2, 3),
      enc AS MATERIALIZED (SELECT cid, s, code FROM (SELECT cid, s, code,
          row_number() OVER (PARTITION BY cid, s ORDER BY dist, code) AS rn
        FROM enc0) WHERE rn = 1),
      qtab AS MATERIALIZED (SELECT cqx.cid AS qid, (cqx.i - 1) // $dsub AS s,
          pqc.code, SUM(cqx.x * pqc.cx) AS pdot
        FROM cqx JOIN pqc ON cqx.i = pqc.i
        WHERE ${Slots.Probe.inSql("cqx.cid")} GROUP BY 1, 2, 3),
      nrm AS MATERIALIZED (SELECT e.vec_id AS vid,
          sqrt(SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))) AS nn
        FROM embeddings e, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1),
      adc AS MATERIALIZED (SELECT qtab.qid, enc.cid, SUM(qtab.pdot) AS adc
        FROM enc JOIN qtab ON enc.s = qtab.s AND enc.code = qtab.code
        GROUP BY 1, 2),
      psc AS MATERIALIZED (SELECT adc.qid, adc.cid,
          round(CAST(adc.adc AS DOUBLE) / (1000000000000.0 * qn.nn * cn.nn), 6) AS cos
        FROM adc JOIN nrm qn ON adc.qid = qn.vid JOIN nrm cn ON adc.cid = cn.vid),
      cent AS MATERIALIZED (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM cpos WHERE rn <= $nCents),
      pa0 AS MATERIALIZED (SELECT e.vec_id AS qid, c.centroid_id,
          round(SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM embeddings e, cent c, (SELECT unnest(range(1, 65)) AS i) i
        WHERE $ProbePred GROUP BY 1, 2),
      bent AS MATERIALIZED (SELECT qid, centroid_id AS cid FROM (
          SELECT qid, centroid_id,
            row_number() OVER (PARTITION BY qid ORDER BY d DESC, centroid_id) AS r
          FROM pa0) WHERE r <= 2)"""
  }

  /** q314's sample size: a FIXED count, not a fraction — that is what
    * makes the calibration measurement pass ~flat per decade (q306's
    * full-corpus pass measured 2.98×/decade, the steepest round-9 row;
    * a fixed-fraction sample would only shift the line). 500 = the
    * whole corpus at sf0.01 (sampled calibration degrades to q306's
    * exactly there — the equivalence anchor) and 1/4 of sf0.1. */
  private[queries] val CalSampleK = 500

  /** The q314 oracle CTE chain up to the sampled measured recalls
    * `smi`/`sml` and the calibrated decision `chosen` — q306's
    * measurement pipelines with the CORPUS side restricted to the
    * deterministic fixed-size Lehmer sample (`samp`: the CalSampleK
    * lowest `Slots.of(vec_id, 1000003)` ranks, ties on vec_id —
    * the TakeOrdered shape, no global sort at scale) and the exact
    * side (`sxr`) computed ON the sample (that is the cost being
    * saved). Decision arithmetic is IDENTICAL to q306's: costs
    * re-derived from the FULL corpus stats in BIGINT, cheapest
    * measured config meeting target, (cost, rec DESC, fam) tie-break,
    * best-measured fallback. Requires [[Round6c.exactRecallCte]]'s
    * q2/c2 in scope. */
  private def calSampledDecisionSql: String = {
    val mqtb = (0 until 8).map { t =>
      s"""SELECT id, ${Round7.lshBucketSqlSeed(4, 42L + t)} + ${t * 16} AS tb FROM q2"""
    }.mkString(" UNION ALL ")
    val mctb = (0 until 8).map { t =>
      s"""SELECT id, ${Round7.lshBucketSqlSeed(4, 42L + t)} + ${t * 16} AS tb FROM s2c"""
    }.mkString(" UNION ALL ")
    s"""samp AS MATERIALIZED (SELECT vec_id, embedding FROM (
        SELECT vec_id, embedding,
          row_number() OVER (ORDER BY ${Slots.sql("vec_id", 1000003)}, vec_id) AS rn
        FROM embeddings) WHERE rn <= $CalSampleK),
      s2c AS MATERIALIZED (SELECT vec_id AS id, embedding AS e FROM samp),
      sx0 AS MATERIALIZED (SELECT qs.qid, e.vec_id AS cid, ${Round6c.cosSql("qs2", "e")} AS cos
        FROM qs, samp e, embeddings qs2,
          (SELECT unnest(range(1, 65)) AS i) i
        WHERE e.vec_id <> qs.qid AND qs2.vec_id = qs.qid GROUP BY 1, 2),
      sxr AS MATERIALIZED (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM sx0) WHERE rnk <= 5),
      snq AS (SELECT COUNT(DISTINCT qid) AS nq FROM sxr),
      -- sampled measurement 1: the q279 IVF row over the sample
      scent AS MATERIALIZED (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS rn
          FROM samp) WHERE rn <= 16),
      sqa0m AS MATERIALIZED (SELECT q.id, c.centroid_id,
          round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM q2 q, scent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      sqam AS (SELECT id, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM sqa0m) WHERE r <= 8),
      sca0m AS MATERIALIZED (SELECT s.id, c.centroid_id,
          round(SUM(CAST(s.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM s2c s, scent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      scam AS (SELECT id, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM sca0m) WHERE r = 1),
      smsc AS MATERIALIZED (SELECT sqam.id AS qid, scam.id AS cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM sqam JOIN scam ON sqam.centroid_id = scam.centroid_id AND sqam.id <> scam.id
        JOIN embeddings q ON sqam.id = q.vec_id
        JOIN embeddings c ON scam.id = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      smannr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM smsc) WHERE rnk <= 5),
      smi AS (SELECT CAST((SELECT COUNT(*) FROM sxr JOIN smannr
            ON sxr.qid = smannr.qid AND sxr.cid = smannr.cid) AS DOUBLE)
          / (5.0 * (SELECT nq FROM snq)) AS rec),
      -- sampled measurement 2: the q280 multi-table-LSH row over the sample
      smqtb AS ($mqtb),
      smctb AS ($mctb),
      smcand AS (SELECT DISTINCT smqtb.id AS qid, smctb.id AS cid
        FROM smqtb JOIN smctb USING (tb) WHERE smqtb.id <> smctb.id),
      smlsc AS MATERIALIZED (SELECT smcand.qid, smcand.cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM smcand JOIN embeddings q ON smcand.qid = q.vec_id
        JOIN embeddings c ON smcand.cid = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      smlannr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM smlsc) WHERE rnk <= 5),
      sml AS (SELECT CAST((SELECT COUNT(*) FROM sxr JOIN smlannr
            ON sxr.qid = smlannr.qid AND sxr.cid = smlannr.cid) AS DOUBLE)
          / (5.0 * (SELECT nq FROM snq)) AS rec),
      -- the decision: q306's exact arithmetic over FULL corpus stats,
      -- recalls from the SAMPLED measurements
      st AS (SELECT COUNT(*) AS n, COUNT(DISTINCT embedding) AS nu FROM embeddings),
      p2t AS (SELECT CAST(power(2, x.x) AS BIGINT) AS p
        FROM (SELECT unnest(range(0, 40)) AS x) x),
      nl AS (SELECT CASE WHEN l / lower < (lower * 2) / l
                         THEN lower ELSE lower * 2 END AS nlist FROM
        (SELECT GREATEST(1.0, sqrt(CAST(nu AS DOUBLE))) AS l,
           (SELECT MAX(p) FROM p2t WHERE p <= CAST(FLOOR(
              GREATEST(1.0, sqrt(CAST(nu AS DOUBLE)))) AS BIGINT)) AS lower
         FROM st)),
      np AS (SELECT GREATEST(1, (SELECT nlist FROM nl) // 2) AS nprobe),
      cfg AS (
        SELECT 'ivf' AS fam,
            ((SELECT nu FROM st) * (SELECT nprobe FROM np)) // (SELECT nlist FROM nl) AS cand,
            (SELECT rec FROM smi) AS rec
        UNION ALL
        SELECT 'lsh-multitable' AS fam,
            LEAST((SELECT nu FROM st), 8 * ((SELECT nu FROM st) // 16)) AS cand,
            (SELECT rec FROM sml) AS rec),
      bud AS (SELECT ((SELECT nu FROM st) * 11 + 19) // 20 AS b),
      chosen AS (SELECT COALESCE(
        (SELECT fam FROM cfg WHERE cand <= (SELECT b FROM bud)
           AND rec >= ${Round9.CalTarget}
         ORDER BY cand, rec DESC, fam LIMIT 1),
        (SELECT fam FROM cfg WHERE cand <= (SELECT b FROM bud)
         ORDER BY rec DESC, cand, fam LIMIT 1)) AS fam)"""
  }

  /** The assembled q313 oracle for a (beam, rounds) dial point:
    * slot-filtered stitched + refined edges,
    * the ingest PQ/entry chain, the ADC walk, exact re-rank of the
    * visited pool, alerts at cos >= 0.35. */
  private def ingestGraphOracle(beam: Int, rounds: Int): String =
    s"""WITH ${Round8.stitchedEdgesSql(d = 4, nPlanes = 6, nTables = 4,
        out = "e0", where = CorpPred)},
      ${Round9.nnDescentSql(rounds = Round9.NnRounds, d = Round9.NnDegree,
        src = "e0", out = "e")},
      ${ingestPqSql(nSub = 16, nCodes = 16, nCents = 16)},
      ${Round11.beamAdcP(rounds = rounds, beam = beam, p = "p", edge = "e",
        entry = "bent", psc = "psc")},
      ${Round11.poolSql("p", rounds, "pool")},
      rsc AS MATERIALIZED (SELECT pool.qid, pool.cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM pool JOIN embeddings q ON pool.qid = q.vec_id
        JOIN embeddings c ON pool.cid = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2)
      SELECT qid AS da, cid AS db, cos FROM rsc WHERE cos >= 0.35
      ORDER BY da, db"""

  /** q316's merge-table depth. 8 rounds keeps both the unrolled oracle
    * and the training loop bounded while exercising multi-char symbol
    * merges (later rounds merge symbols earlier rounds created). */
  private[queries] val BpeRounds = 8

  /** Shared word normalization (q171's): lowercase, non-letters to
    * spaces, collapse, split; words of 2..30 chars. */
  private[queries] val BpeNormSql =
    """trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g'))"""

  /** DuckDB replay of `rounds` BPE merge-TRAINING rounds over the
    * slot≠0 training corpus — the q171 kernel unrolled (the
    * nnDescentSql chaining pattern): per round, count adjacent symbol
    * pairs over the weighted distinct-word table (tp_i), pick the most
    * frequent pair with the (cnt DESC, a, b) tie-break (tb_i — 1 row),
    * and apply the boundary-anchored double replace everywhere
    * (tvoc_i; the q171 non-overlap argument). Emits tb_1..tb_rounds
    * (the MERGE TABLE — rank i IS the CTE index) and the final
    * tvoc_rounds. COALESCE guards make an exhausted vocabulary merge
    * nothing instead of NULLing the corpus. All CTEs MATERIALIZED. */
  /** The frozen BPE merge table (rank, a, b) — q316's training stage as
    * a fixture-keyed artifact, shared with q342's encoded-token
    * accounting: `rounds` merge rounds induced on the slot≠0 documents
    * (per round: weighted adjacent-pair count over the DISTINCT-word
    * table, (cnt DESC, a, b) argmax, boundary-anchored double replace;
    * per-round argmax is a 1-row scalar — plan-choice class; round
    * boundaries cut to scratch parquet — the iterative-build lineage
    * rule). Returns the collected table in rank order (8 rows — the
    * adjudicated bounded-collect class). */
  private[queries] def bpeMerges(s: SparkSession,
      dir: String): Array[(String, String)] = {
    val docs = t(s, dir, "documents")
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
    def adjPairs(df: DataFrame): DataFrame = df
      .select(col("f"), split(trim(col("seq")), " ").as("sy"))
      .select(col("f"), explode(expr(
        "transform(sequence(0, size(sy) - 2), i -> struct(sy[i] AS a, sy[i+1] AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("f").as("cnt"))
    val mergesDf = graft.util.FixtureArtifact.parquet(s, dir,
      "documents.parquet", s"bpe_merges_r$BpeRounds") {
      var voc = docs.filter(Slots.Probe.out(col("doc_id")))
        .select(explode(split(norm, " ")).as("w"))
        .filter(length(col("w")).between(2, 30))
        .groupBy("w").agg(count(lit(1)).as("f"))
        .select(concat(lit(" "),
          array_join(expr("filter(split(w, ''), x -> x != '')"), " "),
          lit(" ")).as("seq"), col("f"))
      val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
      for (r <- 1 to BpeRounds) {
        val best = adjPairs(voc)
          .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
          .select("a", "b").collect()
        if (best.nonEmpty) {
          val a = best(0).getString(0); val b = best(0).getString(1)
          acc += ((r.toLong, a, b))
          val pat = s" $a $b "; val rep = s" $a$b "
          voc = Jobs.cut(voc.select(expr(
              s"replace(replace(seq, '$pat', '$rep'), '$pat', '$rep')")
              .as("seq"), col("f")), s"bpe_t$r")
        }
      }
      import s.implicits._
      acc.toSeq.toDF("rank", "a", "b")
    }
    mergesDf.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
  }

  private[queries] def bpeTrainSql(rounds: Int): String = {
    val head =
      s"""tw0 AS MATERIALIZED (SELECT unnest(string_split($BpeNormSql, ' ')) AS w
        FROM documents WHERE ${Slots.Probe.outSql("doc_id")}),
      tvoc0 AS MATERIALIZED (SELECT
          ' ' || array_to_string(string_split_regex(w, ''), ' ') || ' ' AS seq,
          COUNT(*) AS f
        FROM tw0 WHERE length(w) BETWEEN 2 AND 30 GROUP BY w)"""
    val steps = (1 to rounds).map { i =>
      s"""tp$i AS MATERIALIZED (SELECT sy[i.i] AS a, sy[i.i + 1] AS b, SUM(f) AS cnt
        FROM (SELECT string_split(trim(seq), ' ') AS sy, f FROM tvoc${i - 1}),
          (SELECT unnest(range(1, 31)) AS i) i
        WHERE i.i + 1 <= len(sy) GROUP BY 1, 2),
      tb$i AS MATERIALIZED (SELECT a, b FROM tp$i ORDER BY cnt DESC, a, b LIMIT 1),
      tvoc$i AS MATERIALIZED (SELECT replace(replace(seq,
          COALESCE((SELECT ' ' || a || ' ' || b || ' ' FROM tb$i), chr(1)),
          COALESCE((SELECT ' ' || a || b || ' ' FROM tb$i), chr(1))),
          COALESCE((SELECT ' ' || a || ' ' || b || ' ' FROM tb$i), chr(1)),
          COALESCE((SELECT ' ' || a || b || ' ' FROM tb$i), chr(1))) AS seq, f
        FROM tvoc${i - 1})"""
    }
    (head +: steps).mkString(",\n      ")
  }

  /** DuckDB replay of the ENCODE stage: the frozen merge table
    * (tb_1..tb_rounds) applied IN RANK ORDER to the slot=0 probe
    * corpus's distinct words — the same chained double-replace, one
    * CTE per rank. Emits pvoc_rounds (seq, f) plus pw (w, f). */
  private def bpeEncodeSql(rounds: Int): String = {
    val head =
      s"""pw0 AS MATERIALIZED (SELECT unnest(string_split($BpeNormSql, ' ')) AS w
        FROM documents WHERE ${Slots.Probe.inSql("doc_id")}),
      pw AS MATERIALIZED (SELECT w, COUNT(*) AS f FROM pw0
        WHERE length(w) BETWEEN 2 AND 30 GROUP BY w),
      pvoc0 AS MATERIALIZED (SELECT
          ' ' || array_to_string(string_split_regex(w, ''), ' ') || ' ' AS seq,
          f FROM pw)"""
    val steps = (1 to rounds).map { i =>
      s"""pvoc$i AS MATERIALIZED (SELECT replace(replace(seq,
          COALESCE((SELECT ' ' || a || ' ' || b || ' ' FROM tb$i), chr(1)),
          COALESCE((SELECT ' ' || a || b || ' ' FROM tb$i), chr(1))),
          COALESCE((SELECT ' ' || a || ' ' || b || ' ' FROM tb$i), chr(1)),
          COALESCE((SELECT ' ' || a || b || ' ' FROM tb$i), chr(1))) AS seq, f
        FROM pvoc${i - 1})"""
    }
    (head +: steps).mkString(",\n      ")
  }

  /** The calibration measurements' serve outputs as fixture artifacts
    * (q315/q328 — the round-12 serve-sharing shape: a measurement is a
    * pure fixture function, built once and read warm by every bench
    * pass; the families' live serves stay priced by their own rows —
    * q279/q294 price IVF, q326 SQ8, q309 IVFPQ). The IVFPQ measured
    * row is the IDENTICAL pipeline in q315 and q328, so both read ONE
    * artifact. Labels carry every dial. */
  private[queries] def calIvfMeasuredServe(s: SparkSession, dir: String,
      qs: DataFrame, corpus: DataFrame): DataFrame =
    graft.util.FixtureArtifact.parquet(s, dir, "embeddings.parquet",
      "cal_ivfrv_n16_np8_k5",
      params = Map("nlist" -> 16L, "nprobe" -> 8L, "k" -> 5L))(
      Similarity.ivfTopKProbe(qs, corpus, k = 5, nlist = 16, nprobe = 8)
        .select(col("qid"), col("cid")))

  private[queries] def calPqMeasuredServe(s: SparkSession, dir: String,
      qs: DataFrame, corpus: DataFrame, n: Long): DataFrame = {
    val mc = math.max(100L, n * 3L / 20L)
    graft.util.FixtureArtifact.parquet(s, dir, "embeddings.parquet",
      "cal_pqrv_n16_np10_mc_k5",
      params = Map("nlist" -> 16L, "nprobe" -> 10L, "nSub" -> 16L,
        "nCodes" -> 16L, "rerank" -> mc, "k" -> 5L))(
      Similarity.ivfPqTopK(qs, corpus, k = 5, nlist = 16, nprobe = 10,
          nSub = 16, nCodes = 16, dim = 64, rerank = mc.toInt,
          artifact = Some((dir, "embeddings.parquet", "ivfpq")))
        .select(col("qid"), col("cid")))
  }

  /** The standing probe workload's scored walk over the q313/q317
    * standing graph index, as a fixture artifact. The standing index is
    * the q312 DiskANN layout over the slot ≠ 0 corpus: the advisor's
    * graph-pq branch (asserted), the "_slotc" refined graph, PQ codes,
    * the 16 entry centroids, norms and codebook — each a fixture
    * artifact declared here only. The walk over it is the IDENTICAL
    * sub-pipeline of q313 (gates it at a cosine threshold) and q317
    * (takes each rep's top-dOut rows as insert edges), so ONE build
    * serves both (the q315/q328 rule). Label and params carry every
    * walk dial; the probe workload (ingest slot 0) and the standing
    * corpus (slot ≠ 0) are fixture-determined, and per-JVM scratch
    * lifecycle means every cold run rebuilds it. */
  private def slotcScoredWalk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val corpus0 = emb.filter(Slots.Probe.out)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val st = Round6c.statsArtifact(s, dir, "embeddings.parquet",
      "stats_nnu_slotc")(corpus0.agg(count(lit(1)).as("n"),
      countDistinct(col("ce")).as("nu")))
    val n = st.getLong(0); val nu = st.getLong(1)
    // the graph-branch operating point: memory provisioned at
    // 224 B/vector (between the 204 B graph index and 256 B raw
    // floats) with a 200-candidate budget — full precision can't
    // fit, IVFPQ's nu·nprobe/nlist scan can't meet the budget,
    // the graph index can do both (exact-Long replay: 224·nu)
    val adv = IndexAdvisor.adviseServing(n, dim = 64,
      dupRate = if (n == 0L) 0.0 else 1.0 - nu.toDouble / n,
      targetRecall = 0.8, candidateBudget = 200L,
      memoryBudgetBytes = 224L * nu)
    require(adv.family == "graph-pq",
      s"the 224 B/vector budget must force the graph index: $adv")
    val edges = Round9.refinedGraphArtifact(s, dir, corpus0, "_slotc",
      adv.params("d").toInt)
    val codes = graft.util.FixtureArtifact.parquet(s, dir,
      "embeddings.parquet", "pqcodes_s16_c16_slotc")(
      Similarity.pqCodes(corpus0, nSub = adv.params("nSub").toInt,
        nCodes = adv.params("nCodes").toInt, dim = 64))
    val cents = broadcast(corpus0.orderBy("cid").limit(16)
      .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
    // standing-index metadata as artifacts (guide §2.4): norms were
    // re-derived by every walk round of every micro-batch, the
    // codebook once per micro-batch
    val cnorms = graft.util.FixtureArtifact.parquet(s, dir,
      "embeddings.parquet", "cnorms_slotc")(
      Similarity.cosNormsDF(corpus0))
    val cbArt = graft.util.FixtureArtifact.parquet(s, dir,
      "embeddings.parquet", "pqcb_c16_slotc",
      params = Map("nCodes" -> 16L))(
      Similarity.pqCodebookDF(corpus0, nCodes = 16))
    val probesAll = emb.filter(
        Slots.Probe.in)
      .select(col("vec_id").as("da"), col("embedding").as("ea"))
    EventTime.withShufflePartitions(s, 8) {
      graft.util.FixtureArtifact.parquet(s, dir, "embeddings.parquet",
        s"walk_scored_b${adv.params("beam")}_r${adv.params("rounds")}" +
          s"_s${adv.params("nSub")}_c${adv.params("nCodes")}_slotc",
        params = Map("beam" -> adv.params("beam"),
          "rounds" -> adv.params("rounds"), "nSub" -> adv.params("nSub"),
          "nCodes" -> adv.params("nCodes")))(
        Similarity.beamPqWalkScoredAll(probesAll, corpus0, edges, codes,
          cents, beam = adv.params("beam").toInt,
          rounds = adv.params("rounds").toInt,
          nSub = adv.params("nSub").toInt,
          nCodes = adv.params("nCodes").toInt, dim = 64,
          norms = Some(cnorms), codebook = Some(cbArt)))
    }
  }

  val defs: Map[String, QueryDef] = Map(

    // ---- DiskANN-shaped serving: graph navigation × PQ compression -----
    // The one ANN family member round 9 left unbuilt: q304's refined
    // graph serves at corpus-size-independent cost but scores against
    // FULL vectors (256 B/vector resident); q308's PQ codes serve from
    // 8 B/vector but scan linearly. DiskANN is the composition — the
    // beam walk is RANKED BY ADC over the resident codes (nSub integer
    // lookups per candidate), and one exact re-rank of the VISITED
    // list (the paper's search list, ≤ beam·(d+1)·rounds per query)
    // touches full vectors through a bounded join (the SSD fetch in
    // the paper's layout; cold storage here). Same refined-graph
    // artifact as q304 (d=24, 2 NN-Descent rounds), same 16×16 PQ
    // encode as q308, same centroid-seeded entries, same harness — so
    // the recall delta vs q304 isolates what ADC guidance costs the
    // walk: 0.984/0.880 vs q304's 0.980/0.924 at identical dials.
    // DuckDB dial sweep (the oracle replay, BOTH SFs, run before the
    // Spark side was wired — it caught the final-frontier-only rerank
    // reading 0.55–0.72): final-frontier pool b16–b32 all below 0.8;
    // visited-list pool b16/r4 0.964/0.776, b24/r4 0.984/0.880,
    // b32/r4 0.992/0.920 — beam=24/rounds=4 chosen (q304's dials, the
    // cheapest point ≥ 0.8 at both SFs with the cleanest ladder
    // isolation). Resident bytes/vector = 24·8 edges + 8
    // codes + 4 norm = 204 B vs 256 B raw — and the point is the
    // SERVING arithmetic, not this dim-64 fixture's ratio: at
    // production dims (768-3072 float dims, 3-12 kB/vector) the same
    // layout is a 15-60× residency shrink while per-query work stays
    // beam·(d+1)·rounds lookups + beam exact cosines, both
    // corpus-size-independent.
    "q312_llm_ann_diskann" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) => {
        val cents = broadcast(corpus.orderBy("cid").limit(16)
          .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
        val entries = Similarity.centroidEntries(qs, cents)
        val refined = Round9.refinedGraphArtifact(s, dir, corpus, "", Round9.NnDegree)
        val codes = Round9.pqCodesArtifact(s, dir, corpus)
        // standing-index metadata as artifacts (guide §2.4): the norm
        // table was re-derived (full-vector scan + vec_dot) by every
        // walk round's join, the codebook per execution
        val cnorms = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "cnorms_full")(Similarity.cosNormsDF(corpus))
        val cbArt = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet", "pqcb_c16_full",
          params = Map("nCodes" -> 16L))(
          Similarity.pqCodebookDF(corpus, nCodes = 16))
        Similarity.topKByCos(Similarity.beamPqVisited(qs, corpus, refined,
            codes, entries, beam = DiskannBeam, rounds = DiskannRounds,
            nSub = 16, nCodes = 16, dim = 64,
            norms = Some(cnorms), codebook = Some(cbArt)), 5)
      }),
      Some(diskannOracle(beam = DiskannBeam, rounds = DiskannRounds,
        nSub = 16, nCodes = 16))),

    // ---- streaming ingest against a standing GRAPH index ---------------
    // The q305/q311 advisor→ingest loop's last family: q305 keeps a
    // full-precision IVF standing index, q311 a PQ-compressed IVF one;
    // this row keeps the q312 DiskANN layout standing — the NN-Descent-
    // refined edge set + PQ codes + norms over the slot≠0 corpus — and
    // scores every probe micro-batch by the ADC-guided beam walk +
    // exact re-rank of the bounded visited list, alerts at cos ≥ 0.35,
    // idempotent MERGE (the q298 convention). adviseServing's graph
    // branch picks this shape at the operating point the row models
    // (full-precision corpus won't fit the serving node, IVFPQ's
    // nprobe/nlist scan blows the 200-candidate budget, the graph
    // index fits) — asserted with the loud require, the q311 recipe;
    // its d/beam/rounds constants ARE the walk dials. Alert coverage
    // vs the exact probe×corpus scan is the honest walk/recall trade,
    // swept in DuckDB before wiring (see the scaladoc numbers in
    // OPERATORS.md); per-probe work is beam·(d+1)·rounds ADC lookups +
    // a same-bounded exact re-rank — corpus-size-independent, so the
    // PROBES row is expected ~flat like q311's. Batch side groups
    // identical payloads first (rep-level walks, replication-
    // invariant); the corpus side is per-id (a graph is an id-level
    // artifact) — duplicates cost visited-list slots, never extra
    // walk rounds. Oracle: slot-filtered stitched+NN-Descent edge
    // build, the plain-PQ encode/LUT chain, centroid entries, the
    // same Round11.beamAdcP walk as q312, exact re-rank, 0.35 gate.
    "q313_stream_semdedup_graphidx" -> QueryDef(
      (s, dir) => {
        graft.plans.NativeExpressions.register(s)
        // the scored walk of the standing probe workload — the
        // IDENTICAL sub-pipeline of q313 (threshold alerts) and q317
        // (insert-edge selection): one build serves both queries (the
        // q315/q328 shared-measurement rule); per-batch serving is a
        // semi-join on the batch's probe ids, value-identical to
        // walking the batch alone (payload-deterministic; spec-tested)
        val walkArt = slotcScoredWalk(s, dir)
        MemCatalog.recreate(s, "semdedup_alerts_graph",
          "(da BIGINT, db BIGINT, cos DOUBLE)")
        val probe = EventStreams.fixtureStream(s, dir, "embeddings")
          .filter(Slots.Probe.in)
          .select(col("vec_id").as("da"), col("embedding").as("ea"))
        // no 8-partition scope: the stream itself never shuffles, and the
        // per-batch work is served from the outer-session artifact, so it
        // plans at the session's own partition count
        EventStreams.drain(probe) { (batch, _) =>
          EventStreams.insertNew(Similarity.beamPqSemDedupBatch(batch, walkArt,
              threshold = 0.35),
            "semdedup_alerts_graph", "da", "db")
        }
        s.sql("""SELECT da, db, cos FROM graftmem.semdedup_alerts_graph
          ORDER BY da, db""")
      },
      Some(ingestGraphOracle(beam = IngestBeam, rounds = IngestRounds))),

    // ---- calibration on a SAMPLED corpus (the production shape) --------
    // q306 measures both candidate configs over the FULL corpus — the
    // right semantics, priced at 2.98×/decade (the steepest round-9
    // probe row; the round-9 verdict named sampling as the production
    // pattern). This twin runs the SAME measurement procedure on a
    // deterministic FIXED-SIZE Lehmer sample (rank by Slots.of(cid,
    // 1000003), ties on cid, keep 500 — the TakeOrdered shape, no
    // global sort): the exact side, the IVF index, and the LSH tables
    // are all built over 500 vectors regardless of corpus size, so the
    // calibration pass goes ~flat per decade while the DECISION
    // arithmetic is bit-identical to q306's (costs/budget in exact
    // BIGINT from the FULL stats; only the measured recalls come from
    // the sample). DuckDB decision sweep BEFORE wiring: sf0.01 sample ⊇
    // corpus → measurement identical to q306 (0.816/0.712 → LSH);
    // sf0.1 sampled 0.752/0.700 → the cost tie still breaks to IVF —
    // the SAME family flip as full-corpus calibration at both SFs
    // (spec-tested). Serving runs the chosen family over the FULL
    // corpus through the unchanged harness; both branches live.
    "q314_llm_ann_calibrated_sampled" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) => {
        val (n, nu) = Round6c.nnuFull(s, dir)
        val dupRate = if (n == 0L) 0.0 else 1.0 - nu.toDouble / n
        val sample = corpus.orderBy(
            Slots.of(col("cid"), 1000003L), col("cid"))
          .limit(CalSampleK)
        val exactS = Similarity.cosineTopK(qs, sample, k = 5)
          .select(col("qid"), col("cid")).persist()
        // the query count populates the persist before the hit counts
        val Seq(mi, ml) = Jobs.recall("q314", exactS, countFirst = true)(
          () => Similarity.ivfTopKProbe(qs, sample, k = 5,
            nlist = 16, nprobe = 8),
          () => Similarity.lshMultiTableTopK(qs, sample, k = 5,
            nPlanes = 4, dim = 64, nTables = 8)).rates
        exactS.unpersist()
        val adv = IndexAdvisor.adviseCalibrated(n, dim = 64, dupRate,
          targetRecall = Round9.CalTarget,
          candidateBudget = Round9.calBudget(nu),
          measured = Seq(
            IndexAdvisor.RecallRow("ivf",
              Map("nlist" -> 16L, "nprobe" -> 8L, "k" -> 5L), mi),
            IndexAdvisor.RecallRow("lsh-multitable",
              Map("nTables" -> 8L, "nPlanes" -> 4L, "k" -> 5L), ml)))
        adv.family match {
          case "ivf" => Similarity.ivfTopKProbe(qs, corpus, k = 5,
            nlist = adv.params("nlist").toInt,
            nprobe = adv.params("nprobe").toInt)
          case "lsh-multitable" => Similarity.lshMultiTableTopK(qs, corpus,
            k = 5, nPlanes = adv.params("nPlanes").toInt, dim = 64,
            nTables = adv.params("nTables").toInt)
          case other => sys.error(
            s"sampled-calibrated advisor picked unreachable family $other")
        }
      }),
      Some({
        val vqtb = (0 until 8).map { t =>
          s"""SELECT id, ${Round7.lshBucketSqlSeed(4, 42L + t)} + ${t * 16} AS tb FROM q2"""
        }.mkString(" UNION ALL ")
        val vctb = (0 until 8).map { t =>
          s"""SELECT id, ${Round7.lshBucketSqlSeed(4, 42L + t)} + ${t * 16} AS tb FROM c2"""
        }.mkString(" UNION ALL ")
        s"""${Round6c.exactRecallCte},
      ${calSampledDecisionSql},
      -- serving branch A: calibrated IVF over the FULL corpus
      vcent AS (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM embeddings WHERE vec_id < (SELECT nlist FROM nl)),
      vqa0 AS (SELECT q.id, c.centroid_id,
          round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM q2 q, vcent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      vqa AS (SELECT id, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM vqa0) WHERE r <= (SELECT nprobe FROM np)),
      vca0 AS (SELECT q.id, c.centroid_id,
          round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM c2 q, vcent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      vca AS (SELECT id, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM vca0) WHERE r = 1),
      vsc AS (SELECT vqa.id AS qid, vca.id AS cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM vqa JOIN vca ON vqa.centroid_id = vca.centroid_id AND vqa.id <> vca.id
        JOIN embeddings q ON vqa.id = q.vec_id
        JOIN embeddings c ON vca.id = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      annr_ivf AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM vsc) WHERE rnk <= 5),
      -- serving branch B: the measured LSH row's dials over the FULL corpus
      vqtb AS ($vqtb),
      vctb AS ($vctb),
      vcand AS (SELECT DISTINCT vqtb.id AS qid, vctb.id AS cid
        FROM vqtb JOIN vctb USING (tb) WHERE vqtb.id <> vctb.id),
      vlsc AS MATERIALIZED (SELECT vcand.qid, vcand.cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM vcand JOIN embeddings q ON vcand.qid = q.vec_id
        JOIN embeddings c ON vcand.cid = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      annr_lsh AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM vlsc) WHERE rnk <= 5),
      annr AS (
        SELECT qid, cid FROM annr_ivf
          WHERE (SELECT fam FROM chosen) = 'ivf'
        UNION ALL
        SELECT qid, cid FROM annr_lsh
          WHERE (SELECT fam FROM chosen) = 'lsh-multitable'),
      ${Round6c.recallTailSql}"""
      })),

    // ---- UNIFIED advisor: calibrated decisions under a memory budget ----
    // q306 calibrates from measured rows (candidate budget only); q310
    // decides compression from byte arithmetic (fixture-calibrated
    // recall literals only). This row unifies the axes — the verdict's
    // "one entry point taking measured rows AND memoryBudgetBytes":
    // the q279 IVF row and the q309 IVFPQ row are re-measured LIVE
    // through the harness's own exact-top-5 metric, and
    // adviseCalibratedServing picks the cheapest measured config that
    // fits BOTH budgets and meets the target. The decision genuinely
    // flips on the MEMORY axis across SFs: at nu=500 both families fit
    // the 200 kB budget and IVF wins on candidate cost (250 vs 312);
    // at nu=2000 the full-precision IVF index (512 kB) is inadmissible
    // and the advice is IVFPQ at the re-derived dials nlist=32/
    // nprobe=20/rerank=300 — exactly q310's serve (0.920), but now
    // reached from MEASURED recalls instead of fixture literals. The
    // candidate budget 9·nu/10 is exact BIGINT (< nu so brute can't
    // pre-empt; > both configs' re-derived costs so the candidate axis
    // never masks the memory flip). Oracle replays both measurement
    // pipelines (the IVFADC chain instantiated twice via CTE-name
    // prefixes), the byte/cost/budget arithmetic, the admissibility
    // filter, the (cost, rec DESC, fam) selection, and BOTH serving
    // branches gated by the SQL-computed family.
    "q315_llm_ann_calibrated_memory" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) => {
        val (n, nu) = Round6c.nnuFull(s, dir)
        val dupRate = if (n == 0L) 0.0 else 1.0 - nu.toDouble / n
        val exact = Round6c.exactTop5(s, dir).select(col("qid"), col("cid"))
        // the two measured serves are fixture artifacts read warm (the
        // round-12 serve-sharing shape); the ivfpq one is byte-shared
        // with q328's measurement 2
        val Seq(mi, mp) = Jobs.recall("q315", exact)(
          () => calIvfMeasuredServe(s, dir, qs, corpus),
          () => calPqMeasuredServe(s, dir, qs, corpus, n)).rates
        val adv = IndexAdvisor.adviseCalibratedServing(n, dim = 64,
          dupRate, targetRecall = Round9.CalTarget,
          candidateBudget = nu * 9L / 10L,
          memoryBudgetBytes = 200000L,
          measured = Seq(
            IndexAdvisor.RecallRow("ivf",
              Map("nlist" -> 16L, "nprobe" -> 8L, "k" -> 5L), mi),
            IndexAdvisor.RecallRow("ivfpq",
              Map("nlist" -> 16L, "nprobe" -> 10L, "nSub" -> 16L,
                "nCodes" -> 16L, "k" -> 5L), mp)))
        adv.family match {
          case "ivf" if adv.params("nlist") == 16L &&
              adv.params("nprobe") == 8L =>
            // measured-pipeline-is-the-serve (q322): re-derived dials
            // == the measured point, so the serve IS the artifact
            calIvfMeasuredServe(s, dir, qs, corpus)
          case "ivf" => Similarity.ivfTopKProbe(qs, corpus, k = 5,
            nlist = adv.params("nlist").toInt,
            nprobe = adv.params("nprobe").toInt)
          case "ivfpq" => Similarity.ivfPqTopK(qs, corpus, k = 5,
            nlist = adv.params("nlist").toInt,
            nprobe = adv.params("nprobe").toInt,
            nSub = adv.params("nSub").toInt,
            nCodes = adv.params("nCodes").toInt, dim = 64,
            rerank = adv.params("rerank").toInt,
            artifact = Some((dir, "embeddings.parquet", "ivfpq")))
          case other => sys.error(
            s"unified advisor picked unreachable family $other")
        }
      }),
      Some(s"""${Round6c.exactRecallCte},
      nq AS (SELECT COUNT(DISTINCT qid) AS nq FROM exr),
      -- measurement 1: the q279 IVF row (nlist=16, nprobe=8)
      mcent AS (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM embeddings WHERE vec_id < 16),
      mqa0 AS (SELECT q.id, c.centroid_id,
          round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM q2 q, mcent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      mqa AS (SELECT id, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM mqa0) WHERE r <= 8),
      mca0 AS (SELECT q.id, c.centroid_id,
          round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM c2 q, mcent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      mca AS (SELECT id, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM mca0) WHERE r = 1),
      mscored AS (SELECT mqa.id AS qid, mca.id AS cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM mqa JOIN mca ON mqa.centroid_id = mca.centroid_id AND mqa.id <> mca.id
        JOIN embeddings q ON mqa.id = q.vec_id
        JOIN embeddings c ON mca.id = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      mannr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM mscored) WHERE rnk <= 5),
      mi AS (SELECT CAST((SELECT COUNT(*) FROM exr JOIN mannr
            ON exr.qid = mannr.qid AND exr.cid = mannr.cid) AS DOUBLE)
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
      -- the unified decision: costs/bytes re-derived in BIGINT, rows
      -- admissible iff they fit BOTH budgets, cheapest meeting target
      st AS (SELECT COUNT(*) AS n, COUNT(DISTINCT embedding) AS nu FROM embeddings),
      p2t AS (SELECT CAST(power(2, x.x) AS BIGINT) AS p
        FROM (SELECT unnest(range(0, 40)) AS x) x),
      nl AS (SELECT CASE WHEN l / lower < (lower * 2) / l
                         THEN lower ELSE lower * 2 END AS nlist FROM
        (SELECT GREATEST(1.0, sqrt(CAST(nu AS DOUBLE))) AS l,
           (SELECT MAX(p) FROM p2t WHERE p <= CAST(FLOOR(
              GREATEST(1.0, sqrt(CAST(nu AS DOUBLE)))) AS BIGINT)) AS lower
         FROM st)),
      np AS (SELECT GREATEST(1, (SELECT nlist FROM nl) // 2) AS nprobe),
      np2 AS (SELECT GREATEST(1, (10 * (SELECT nlist FROM nl)) // 16) AS nprobe),
      bud AS (SELECT ((SELECT nu FROM st) * 9) // 10 AS b),
      rr AS (SELECT LEAST((SELECT b FROM bud),
          GREATEST(100, 3 * (SELECT nu FROM st) // 20)) AS rerank),
      cfg AS (
        SELECT 'ivf' AS fam,
            ((SELECT nu FROM st) * (SELECT nprobe FROM np)) // (SELECT nlist FROM nl) AS cand,
            (SELECT nu FROM st) * 64 * 4 AS bytes,
            (SELECT rec FROM mi) AS rec
        UNION ALL
        SELECT 'ivfpq' AS fam,
            ((SELECT nu FROM st) * (SELECT nprobe FROM np2)) // (SELECT nlist FROM nl) AS cand,
            -- residentBytes("ivfpq") = nu*(4 cell + nSub*4/8 code + 4 norm)
            -- = nu*16 at nSub=16 — MUST mirror IndexAdvisor.residentBytes
            -- exactly (the round-10 advice catch: nu*13 here silently
            -- diverged from Scala's nu*16 for nu in (12500, 15384] at
            -- the 200 kB budget; fixtures happened to agree)
            (SELECT nu FROM st) * 16 AS bytes,
            (SELECT rec FROM mp) AS rec),
      adm AS (SELECT * FROM cfg
        WHERE cand <= (SELECT b FROM bud) AND bytes <= 200000),
      chosen AS (SELECT COALESCE(
        (SELECT fam FROM adm WHERE rec >= ${Round9.CalTarget}
         ORDER BY cand, rec DESC, fam LIMIT 1),
        (SELECT fam FROM adm ORDER BY rec DESC, cand, fam LIMIT 1)) AS fam),
      -- serving branch A: calibrated IVF over the full corpus
      vcent AS (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM embeddings WHERE vec_id < (SELECT nlist FROM nl)),
      vqa0 AS (SELECT q.id, c.centroid_id,
          round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM q2 q, vcent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      vqa AS (SELECT id, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM vqa0) WHERE r <= (SELECT nprobe FROM np)),
      vca0 AS (SELECT q.id, c.centroid_id,
          round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM c2 q, vcent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      vca AS (SELECT id, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM vca0) WHERE r = 1),
      vsc AS (SELECT vqa.id AS qid, vca.id AS cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM vqa JOIN vca ON vqa.centroid_id = vca.centroid_id AND vqa.id <> vca.id
        JOIN embeddings q ON vqa.id = q.vec_id
        JOIN embeddings c ON vca.id = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      annr_ivf AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM vsc) WHERE rnk <= 5),
      -- serving branch B: IVFPQ at the re-derived dials (q310's chain)
      ${Round9.ivfPqSqlE("(SELECT nlist FROM nl)", "(SELECT nprobe FROM np2)",
        "(SELECT rerank FROM rr)", nSub = 16, nCodes = 16)},
      annr AS (
        SELECT qid, cid FROM annr_ivf
          WHERE (SELECT fam FROM chosen) = 'ivf'
        UNION ALL
        SELECT qid, cid FROM (SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
          FROM rsc) WHERE rnk <= 5 AND (SELECT fam FROM chosen) = 'ivfpq'),
      ${Round6c.recallTailSql}"""))
,

    // ---- BPE tokenizer: train merge table, ENCODE with it ---------------
    // q171 trains ONE merge round; the missing tokenizer half is
    // APPLYING a frozen merge table to encode text — iterative
    // pair-merge in rank order, vocabulary-bounded rounds. Train/apply
    // split on the q305 slot convention: 8 merge rounds are induced on
    // the slot≠0 documents (each round = the q171 kernel: weighted
    // adjacent-pair count over the DISTINCT-word table, (cnt DESC, a,
    // b) argmax, boundary-anchored double replace — all per-word work
    // bounded by vocabulary size and word length, never corpus size),
    // the merge table is a fixture-keyed artifact (a TOKENIZER is the
    // canonical train-once-apply-many artifact), and the slot=0 probe
    // corpus is ENCODED by folding the frozen merges in rank order —
    // one composed 2R-deep replace projection per distinct probe word
    // (codegen'd, rep-level, replication-invariant; the 8-row merge
    // collect is the bounded plan-choice class). Output: the encoded
    // probe corpus's top-25 token frequencies (the symbol string IS
    // the token id — ids are a bijection away) plus three
    // reconciliation rows computed INDEPENDENTLY by both engines:
    // __total_words__ (reconciles with the q49-class corpus word
    // count), __total_chars__, and __total_tokens__ — chars = tokens +
    // merges-applied by construction, so the hash compare cross-checks
    // the whole encode, not just the head of the distribution. Oracle:
    // the training rounds UNROLLED as chained MATERIALIZED CTEs (the
    // nnDescentSql pattern — WITH RECURSIVE can't argmax per round)
    // and the encode chain replayed per rank.
    "q316_llm_bpe_encode" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
        def vocabOf(d: DataFrame): DataFrame = d
          .select(explode(split(norm, " ")).as("w"))
          .filter(length(col("w")).between(2, 30))
          .groupBy("w").agg(count(lit(1)).as("f"))
        val merges = bpeMerges(s, dir)
        val pw = vocabOf(docs.filter(Slots.Probe.in(col("doc_id"))))
        val enc = merges.foldLeft(pw.select(
            concat(lit(" "),
              array_join(expr("filter(split(w, ''), x -> x != '')"), " "),
              lit(" ")).as("seq"), col("f"), col("w"))) {
          case (d, (a, b)) =>
            val pat = s" $a $b "; val rep = s" $a$b "
            d.select(expr(
              s"replace(replace(seq, '$pat', '$rep'), '$pat', '$rep')")
              .as("seq"), col("f"), col("w"))
        }
        val tf = enc.select(explode(split(trim(col("seq")), " ")).as("token"),
            col("f"))
          .groupBy("token").agg(sum("f").cast("long").as("freq"))
        val top = tf.orderBy(col("freq").desc, col("token")).limit(25)
        val stats = enc.agg(
          sum(col("f")).cast("long").as("words"),
          sum(col("f") * length(col("w"))).cast("long").as("chars"),
          sum(col("f") * size(split(trim(col("seq")), " ")))
            .cast("long").as("toks"))
        val statRows = stats.select(explode(array(
          struct(lit("__total_words__").as("token"), col("words").as("freq")),
          struct(lit("__total_chars__").as("token"), col("chars").as("freq")),
          struct(lit("__total_tokens__").as("token"), col("toks").as("freq"))))
          .as("r")).select(col("r.token"), col("r.freq"))
        top.unionByName(statRows)
          .orderBy(col("freq").desc, col("token"))
      },
      Some(s"""WITH ${bpeTrainSql(BpeRounds)},
      ${bpeEncodeSql(BpeRounds)},
      ptoks AS (SELECT unnest(string_split(trim(seq), ' ')) AS token, f
        FROM pvoc$BpeRounds),
      tf AS (SELECT token, CAST(SUM(f) AS BIGINT) AS freq FROM ptoks GROUP BY 1),
      top AS (SELECT token, freq FROM (SELECT token, freq,
          row_number() OVER (ORDER BY freq DESC, token) AS rn FROM tf)
        WHERE rn <= 25),
      stats AS (
        SELECT '__total_words__' AS token, CAST(SUM(f) AS BIGINT) AS freq FROM pw
        UNION ALL
        SELECT '__total_chars__', CAST(SUM(f * length(w)) AS BIGINT) FROM pw
        UNION ALL
        SELECT '__total_tokens__',
          CAST(SUM(f * len(string_split(trim(seq), ' '))) AS BIGINT)
        FROM pvoc$BpeRounds)
      SELECT token, freq FROM (SELECT * FROM top UNION ALL SELECT * FROM stats)
      ORDER BY freq DESC, token""")),

    // ---- incremental graph-index maintenance (the DiskANN insert) ------
    // q313 alerts against the standing graph but never UPDATES it; this
    // row is the named next step (round-9 verdict item 4's optional
    // half): each streamed rep is INSERTED — its ADC-guided walk's
    // exact-reranked visited list supplies the new node's top-8
    // out-edges, and each chosen target gets a candidate reverse edge
    // so the graph stays navigable TOWARD inserted nodes (the
    // NN-Descent reverse-neighbor discipline applied online). Reverse
    // edges accumulate uncapped in the MERGE table and are capped at
    // READ time (top-8 per standing node, cos DESC then new-id) —
    // batch-split invariant by construction: a per-batch cap would
    // depend on which reps shared a micro-batch (spec-tested: one
    // batch vs two halves yield identical final edge sets). Forward
    // and reverse key spaces are disjoint by the slot split, so the
    // idempotent MERGE accumulates safely. Per-rep insert cost =
    // one q312 walk + dOut edge writes — corpus-size-independent.
    // Oracle: the q313 walk chain, exact re-rank, top-8 forward
    // selection, the reverse union, and the read-time cap replayed
    // with the same slot-gated window.
    "q317_stream_graph_insert" -> QueryDef(
      (s, dir) => {
        graft.plans.NativeExpressions.register(s)
        // the same scored-walk artifact as q313's (same standing
        // index, same probe workload, same dials): one walk serves the
        // alerting query AND this insert query (the q315/q328 rule)
        val walkArt = slotcScoredWalk(s, dir)
        MemCatalog.recreate(s, "graph_inserts", "(u BIGINT, v BIGINT, cos DOUBLE)")
        val probe = EventStreams.fixtureStream(s, dir, "embeddings")
          .filter(Slots.Probe.in)
          .select(col("vec_id").as("da"), col("embedding").as("ea"))
        // no 8-partition scope, as in q313
        EventStreams.drain(probe) { (batch, _) =>
          EventStreams.insertNew(
            Similarity.graphInsertBatch(batch, walkArt, dOut = 8),
            "graph_inserts", "u", "v")
        }
        // the read-time reverse cap: forward rows (u = inserted rep,
        // slot 0) pass through — already <= dOut per rep by
        // construction; standing nodes keep their top-8 accumulated
        // reverse edges (cos DESC, new id)
        val acc = s.sql("SELECT u, v, cos FROM graftmem.graph_inserts")
        val wCap = Window.partitionBy("u").orderBy(col("cos").desc, col("v"))
        acc.withColumn("rn",
            when(Slots.Probe.in(col("u")), lit(0))
              .otherwise(row_number().over(wCap)))
          .filter(col("rn") <= 8)
          .select(col("u"), col("v"), col("cos"))
          .orderBy("u", "v")
      },
      Some(s"""WITH ${Round8.stitchedEdgesSql(d = 4, nPlanes = 6, nTables = 4,
        out = "e0", where = CorpPred)},
      ${Round9.nnDescentSql(rounds = Round9.NnRounds, d = Round9.NnDegree,
        src = "e0", out = "e")},
      ${ingestPqSql(nSub = 16, nCodes = 16, nCents = 16)},
      ${Round11.beamAdcP(rounds = IngestRounds, beam = IngestBeam, p = "p",
        edge = "e", entry = "bent", psc = "psc")},
      ${Round11.poolSql("p", IngestRounds, "pool")},
      rsc AS MATERIALIZED (SELECT pool.qid, pool.cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM pool JOIN embeddings q ON pool.qid = q.vec_id
        JOIN embeddings c ON pool.cid = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      fwd AS MATERIALIZED (SELECT qid AS u, cid AS v, cos FROM (
          SELECT qid, cid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
          FROM rsc) WHERE rn <= 8),
      allx AS MATERIALIZED (SELECT u, v, cos FROM fwd
        UNION ALL SELECT v AS u, u AS v, cos FROM fwd),
      capped AS (SELECT u, v, cos FROM (SELECT u, v, cos,
          CASE WHEN ${Slots.Probe.inSql("u")} THEN 0
               ELSE row_number() OVER (PARTITION BY u ORDER BY cos DESC, v) END AS rn
        FROM allx) WHERE rn <= 8)
      SELECT u, v, cos FROM capped ORDER BY u, v"""))
  )
}
