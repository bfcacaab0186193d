package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.{IndexAdvisor, Similarity, TopK}
import graft.sources.Tables
import graft.util.Slots

/** Round-11 batch: ATTRIBUTE-FILTERED ANN serving (the production
  * "metadata predicate × vector top-k" shape, at two selectivities,
  * IVF and graph families), standing-graph DELETE + compaction
  * (q317's other half), and the graph family calibrated LIVE through
  * the unified advisor.
  */
object Round11 {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  // ---- the two filter predicates -------------------------------------
  // f50: a REAL metadata column (embeddings.label, values 0-9) at ~50%
  // selectivity (254/500, 996/2000 on the current fixtures). f05: the
  // repo's Lehmer slot convention at exactly 5% — the selective case
  // that exposes the known failure modes (IVF cells empty out; the
  // graph walk's visited pool thins to sel·|visited|).
  private[queries] val F50Pred = "label < 5"
  private val F05 = Slots.Split("vec_id", 20, 3)
  private[queries] val F05Pred = F05.inSql

  private[queries] def keepOf(emb: DataFrame, tag: String): DataFrame = tag match {
    case "f50" => emb.filter(col("label") < 5).select(col("vec_id").as("cid"))
    case "f05" => emb.filter(F05.in).select(col("vec_id").as("cid"))
    case other => sys.error(s"unknown filter tag $other")
  }

  /** Exact brute-force top-5 over the FILTERED corpus — the filtered
    * harness's truth table, one fixture-keyed artifact per predicate
    * (the exact side is the cost of measuring filtered recall; the
    * filter makes it CHEAPER than the full exact scan: sel·nu
    * candidates per query). */
  private[queries] def exactTop5Filtered(s: SparkSession, dir: String, tag: String,
      qs: DataFrame, corpus: DataFrame, keep: DataFrame): DataFrame =
    graft.util.FixtureArtifact.parquet(s, dir, "embeddings.parquet",
      s"exact_top5_$tag") {
      Similarity.cosineTopK(qs,
          corpus.join(keep, Seq("cid"), "left_semi"), k = 5)
        .select(col("qid"), col("cid"), col("rnk"))
    }

  /** The f50 over-probed standing serve (nlist=16, nprobe=[[IvfF50Np]])
    * as a fixture artifact: q318's probed-f50 dial BUILDS it in-row —
    * so the live filtered-IVF serve stays priced in every bench pass —
    * and q320's calibration measurement (the identical call) reads it
    * warm instead of recomputing the corpus-sized candidate pass. */
  private def ivfF50ProbedServe(s: SparkSession, dir: String,
      qs: DataFrame, corpus: DataFrame, keep: DataFrame): DataFrame =
    graft.util.FixtureArtifact.parquet(s, dir, "embeddings.parquet",
      s"ivf_filtered_f50_np${IvfF50Np}_nl16",
      params = Map("nlist" -> 16L, "nprobe" -> IvfF50Np.toLong,
        "k" -> 5L))(
      Similarity.ivfTopKProbeWhere(qs, corpus, keep, k = 5, nlist = 16,
        nprobe = IvfF50Np))

  /** Per-query filtered recall rows, tagged — the recallHarness shape
    * with (sel, dial) literals so one query scores a dial grid. */
  private[queries] def taggedRecall(tag: String, dial: String, exact: DataFrame,
      ann: DataFrame): DataFrame = {
    val hits = exact.select("qid", "cid")
      .join(ann.select("qid", "cid"), Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("h"))
    exact.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(lit(tag).as("sel"), lit(dial).as("dial"), col("qid"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        (coalesce(col("h"), lit(0L)).cast("double") / lit(5.0)).as("recall"))
  }

  // ---- oracle fragments ------------------------------------------------

  /** fset_<tag> (the predicate's surviving ids) + exf_<tag> (exact
    * filtered top-5, re-ranked from the brute-force pair CTE ex0 —
    * same rounded-cosine values, filter applied before the rank).
    * Requires [[Round6c.exactRecallCte]] in scope. */
  private[queries] def fsetExfSql(tag: String, pred: String): String =
    s"""fset_$tag AS MATERIALIZED (SELECT vec_id AS cid FROM embeddings WHERE $pred),
      exf_$tag AS MATERIALIZED (SELECT qid, cid FROM (SELECT ex0.qid, ex0.cid,
          row_number() OVER (PARTITION BY ex0.qid ORDER BY ex0.cos DESC, ex0.cid) AS rnk
        FROM ex0 JOIN fset_$tag f ON ex0.cid = f.cid) WHERE rnk <= 5)"""

  /** The STANDING IVF index CTEs (full corpus; prefix `sp`): centroids
    * = the nlist lowest-id corpus rows, query probe ranks kept to
    * nlist (`r` column — serves every nprobe dial), corpus cell
    * assignment rank-1. The q279 rounded-dot rank replay. */
  private[queries] def ivfStandingSql(nlistE: String, sp: String): String =
    s"""${sp}cent AS MATERIALIZED (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM embeddings WHERE vec_id < ($nlistE)),
      ${sp}q0 AS MATERIALIZED (SELECT q.id, c.centroid_id,
          round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM q2 q, ${sp}cent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      ${sp}qa AS MATERIALIZED (SELECT id AS qid, centroid_id, r FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM ${sp}q0) WHERE r <= ($nlistE)),
      ${sp}c0 AS MATERIALIZED (SELECT s.id, c.centroid_id,
          round(SUM(CAST(s.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM c2 s, ${sp}cent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      ${sp}ca AS MATERIALIZED (SELECT id AS cid, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM ${sp}c0) WHERE r = 1)"""

  /** One filtered-IVF serve at nprobe = `npE` against standing prefix
    * `sp`: candidates = probed cells' members ∩ fset_<tag>, scored by
    * the exact pair cosines (ex0 — identical values to an inline
    * computation), per-query top-5. Emits `<p>annr`. */
  private[queries] def ivfFilteredAnnr(tag: String, npE: String, p: String,
      sp: String): String =
    s"""${p}cand AS MATERIALIZED (SELECT ${sp}qa.qid, ${sp}ca.cid
        FROM ${sp}qa JOIN ${sp}ca ON ${sp}qa.centroid_id = ${sp}ca.centroid_id
        JOIN fset_$tag f ON ${sp}ca.cid = f.cid
        WHERE ${sp}qa.r <= ($npE) AND ${sp}qa.qid <> ${sp}ca.cid),
      ${p}annr AS (SELECT qid, cid FROM (SELECT c.qid, c.cid,
          row_number() OVER (PARTITION BY c.qid ORDER BY e.cos DESC, c.cid) AS rnk
        FROM ${p}cand c JOIN ex0 e ON e.qid = c.qid AND e.cid = c.cid)
      WHERE rnk <= 5)"""

  /** One tagged recall tail block (not a CTE): per-query hit counts of
    * `annr` against the filtered exact table `exf`. */
  private[queries] def taggedTailSql(sel: String, dial: String, exf: String,
      annr: String): String =
    s"""SELECT '$sel' AS sel, '$dial' AS dial, q.qid,
        CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
        CAST(COALESCE(h.h, 0) AS DOUBLE) / 5.0 AS recall
      FROM (SELECT DISTINCT qid FROM $exf) q LEFT JOIN (
        SELECT $exf.qid, COUNT(*) AS h FROM $exf
        JOIN $annr ON $exf.qid = $annr.qid AND $exf.cid = $annr.cid
        GROUP BY 1) h ON q.qid = h.qid"""

  /** The one DuckDB replay of the beam walk (Similarity.walkRounds),
    * for every walk-family oracle: `rounds` iterations over edge CTE
    * `edge` from the per-query entry CTE `entry` (qid, cid), with
    * scores looked up in the (qid, cid, cos) CTE `psc` — the exact
    * rounded cosines (`ex0` of [[Round6c.exactRecallCte]] for the
    * 50-query harness sample) or the PQ approximate cosines
    * ([[Round9.pqAdcSql]]'s `psc`). A score CTE holds no qid = cid
    * pair, so the join drops them exactly as the Spark walk does.
    * Emits `<p>c<i>` (candidates = frontier ∪ out-neighbours),
    * `<p>s<i>` (scored), `<p>f<i>` (frontier = per-query top-`beam`
    * on (cos DESC, cid)). The exact walk's answer is the top-k of the
    * last `<p>s<i>` (k ≤ beam); the ADC walk's visited list is
    * [[poolSql]], assembled separately so one chain serves several
    * `rounds` dials (round r's CTEs are a pure prefix of round r+1's —
    * the walk recurrence). Prefixes let several walks coexist in one
    * oracle. All CTEs MATERIALIZED (the round-9 chained-CTE gotcha). */
  private[queries] def beamAdcP(rounds: Int, beam: Int, p: String, edge: String,
      entry: String, psc: String): String =
    (1 to rounds).map { i =>
      val src = if (i == 1) entry else s"${p}f${i - 1}"
      s"""${p}c$i AS MATERIALIZED (SELECT DISTINCT qid, cid FROM (
          SELECT qid, cid FROM $src
          UNION ALL
          SELECT $src.qid, $edge.v AS cid FROM $src
            JOIN $edge ON $edge.u = $src.cid)),
      ${p}s$i AS MATERIALIZED (SELECT ${p}c$i.qid, ${p}c$i.cid, $psc.cos
          FROM ${p}c$i JOIN $psc ON $psc.qid = ${p}c$i.qid AND $psc.cid = ${p}c$i.cid),
      ${p}f$i AS MATERIALIZED (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
          FROM ${p}s$i) WHERE rn <= $beam)"""
    }.mkString(",\n      ")

  /** The DISTINCT visited pool of chain `p` through round `upTo`. */
  private[queries] def poolSql(p: String, upTo: Int, name: String): String =
    s"""$name AS MATERIALIZED (SELECT DISTINCT qid, cid FROM (${
      (1 to upTo).map(i => s"SELECT qid, cid FROM ${p}s$i").mkString(" UNION ")}))"""

  /** Centroid-seeded walk entries `<p>bent` (qid, cid) for the 50-query
    * sample `q2` — the Similarity.centroidEntries replay: 2 nearest of
    * the 16 centroids drawn from `centSrc` (vec_id, embedding), by
    * rounded-dot rank; by default the 16 lowest-id corpus rows. */
  private[queries] def graphEntrySql(p: String, centSrc: String =
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16"): String =
    s"""${p}cent AS MATERIALIZED (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM ($centSrc)),
      ${p}qa0 AS MATERIALIZED (SELECT q.id, c.centroid_id,
          round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM q2 q, ${p}cent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      ${p}bent AS (SELECT id AS qid, centroid_id AS cid FROM (
          SELECT id, centroid_id,
            row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
          FROM ${p}qa0) WHERE r <= 2)"""

  /** Top-5 of a visited pool restricted to fset_<tag>, exact-cos ranked
    * (pool ∩ filter scored via ex0). Emits `<p>annr`. */
  private def graphFilteredAnnr(tag: String, pool: String, p: String): String =
    s"""${p}annr AS (SELECT qid, cid FROM (SELECT pl.qid, pl.cid,
        row_number() OVER (PARTITION BY pl.qid ORDER BY e.cos DESC, pl.cid) AS rnk
      FROM $pool pl JOIN fset_$tag f ON pl.cid = f.cid
      JOIN ex0 e ON e.qid = pl.qid AND e.cid = pl.cid) WHERE rnk <= 5)"""

  /** Top-5 of a visited pool, unfiltered (q321/q322 serves). */
  private def graphAnnr(pool: String, p: String): String =
    s"""${p}annr AS (SELECT qid, cid FROM (SELECT pl.qid, pl.cid,
        row_number() OVER (PARTITION BY pl.qid ORDER BY e.cos DESC, pl.cid) AS rnk
      FROM $pool pl JOIN ex0 e ON e.qid = pl.qid AND e.cid = pl.cid)
      WHERE rnk <= 5)"""

  /** The full-corpus standing graph + PQ scoring chain shared by the
    * graph-family oracles: stitched LSH edges → NN-Descent-refined `e`
    * (q304's build), plain-PQ ADC approximate cosines `psc` (q312's). */
  private def fullGraphCtes: String =
    s"""${Round8.stitchedEdgesSql(d = 4, nPlanes = 6, nTables = 4, out = "e0")},
      ${Round9.nnDescentSql(rounds = Round9.NnRounds, d = Round9.NnDegree,
        src = "e0", out = "e")},
      ${Round9.pqAdcSql(nSub = 16, nCodes = 16)}"""

  // ---- q318/q319 dials (DuckDB sweep, run BEFORE the Spark side —
  // numbers recorded in the query scaladocs) ---------------------------
  private[queries] val IvfNaiveNp = 8 // the q279 unfiltered operating point
  private[queries] val IvfF50Np = 12 // over-probe dial: 0.924/0.948 swept
  private[queries] val IvfF05Np = 14 // deeper over-probe: 0.928/0.968 swept
  private[queries] val GraphNaiveBeam = 24 // q312's dials: f05 0.912/0.744
  private[queries] val GraphNaiveRounds = 4
  private[queries] val GraphBoostBeam = 32 // beam is the recovery dial:
  private[queries] val GraphBoostRounds = 5 // f05 0.976/0.832 swept

  // ---- q323's fixed-SLO dials (a DuckDB sweep at both SFs measured the
  // sampled ivf np12 at 0.924/0.924 and the best small-dial walk b9r4 at
  // 0.888/0.616 — the honest negative at sf0.1). Declared before `defs`
  // per the q161 object-init rule. ---------------------------------------
  private[queries] val SloBeam = 9L
  private[queries] val SloRounds = 4L

  // ---- q321's takedown predicate (~14% of the corpus) ------------------
  private[queries] val TombPred = Slots.Tomb.inSql
  private[queries] val SurvPred = Slots.Tomb.outSql

  /** The exact-reranked VISITED pool of one ADC walk over the 50-query
    * harness sample, as a fixture+dial-keyed artifact — the exact-top5
    * precedent applied to the walk side: the pool is a pure function
    * of (fixture, graph dials, PQ dials, beam, rounds, entry
    * convention), and the round-11 dial-grid queries (q319's four
    * filtered views, q321's pruned/compacted serves, q322's
    * measurement+serve) each re-rank bounded views of a pool some
    * sibling also needs. The LIVE per-query walk cost stays priced:
    * q312 walks b24r4 in every bench pass, and the PROBES rows price
    * each of these queries cold (artifact builds included). `label`
    * must carry every dial that shapes the pool (edge set, beam,
    * rounds — the PQ/graph dials are fixed 16×16/d24r2 here). */
  private def visitedPoolArtifact(s: SparkSession, dir: String,
      label: String, beam: Int, rounds: Int)(build: => DataFrame): DataFrame =
    graft.util.FixtureArtifact.parquet(s, dir, "embeddings.parquet",
      s"beampq_visited_$label",
      params = Map("beam" -> beam.toLong, "rounds" -> rounds.toLong,
        "nSub" -> 16L, "nCodes" -> 16L, "d" -> Round9.NnDegree.toLong,
        "nnr" -> Round9.NnRounds.toLong))(build)

  /** Per-query top-5 by (cos DESC, cid) — the harness rank. */
  private[queries] def top5(df: DataFrame): DataFrame =
    TopK.perGroup(df, Seq("qid"), Seq(col("cos").desc, col("cid")), 5)
      .select("qid", "cid")

  val defs: Map[String, QueryDef] = Map(

    // ---- attribute-filtered ANN: the IVF family -------------------------
    // The production serving shape: filter by metadata, THEN nearest
    // neighbors. The STANDING index is the full-corpus one (centroids +
    // cell assignments never rebuild per predicate); the filter applies
    // at query time to the probed cell lists, and the exact side is
    // filtered identically (exact top-5 over the predicate's
    // survivors). Two predicates: f50 = `label < 5` (a real metadata
    // column, ~50% selectivity) and f05 = the Lehmer slot at exactly 5%.
    // DuckDB dial sweep (the oracle replay, BOTH SFs, run before the
    // Spark side): at the unfiltered operating point (nprobe=8 of 16,
    // the q279 row) the f50 filter degrades mildly (0.804/0.832) but
    // the 5% filter drops recall to 0.656/0.780 — the probed cells
    // empty out (expected surviving candidates = sel·nu·nprobe/nlist).
    // OVER-PROBING is the recovery dial and the sweep shows it needs to
    // scale with 1/selectivity: nprobe 12 restores f50 to 0.924/0.948
    // while f05 needs nprobe 14 for 0.928/0.968 (nprobe 16 = scan every
    // cell = brute force over the filtered subset, recall 1.0 — the
    // saturation point the q320 advisor's brute-filtered short-circuit
    // formalizes). Output: per-query filtered recall rows tagged
    // (sel, dial) — naive vs probed at both selectivities, one standing
    // index. Scale shape: one broadcast centroid assignment (the index
    // build, an artifact at scale), one semi-join of the cell lists
    // against the predicate's ids per serve, window over cell-bounded
    // groups — no all-pairs, no per-filter rebuild.
    "q318_llm_ann_filtered_ivf" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val parts = for ((tag, probedNp) <-
            Seq(("f50", IvfF50Np), ("f05", IvfF05Np))) yield {
          val keep = keepOf(emb, tag)
          val exf = exactTop5Filtered(s, dir, tag, qs, corpus, keep)
            .select("qid", "cid")
          Seq(("naive", IvfNaiveNp), ("probed", probedNp)).map {
            case (dial, np) =>
              // the f50 probed serve is the measurement q320 replays
              // verbatim — build it as the shared artifact here (this
              // row prices the live serve; q320 reads it warm)
              val ann =
                if (tag == "f50" && dial == "probed")
                  ivfF50ProbedServe(s, dir, qs, corpus, keep)
                else Similarity.ivfTopKProbeWhere(
                  qs, corpus, keep, k = 5, nlist = 16, nprobe = np)
              taggedRecall(tag, dial, exf, ann)
          }
        }
        parts.flatten.reduce(_ unionByName _).orderBy("sel", "dial", "qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      ${fsetExfSql("f50", F50Pred)},
      ${fsetExfSql("f05", F05Pred)},
      ${ivfStandingSql("16", "iv")},
      ${ivfFilteredAnnr("f50", IvfNaiveNp.toString, "a", "iv")},
      ${ivfFilteredAnnr("f50", IvfF50Np.toString, "b", "iv")},
      ${ivfFilteredAnnr("f05", IvfNaiveNp.toString, "c", "iv")},
      ${ivfFilteredAnnr("f05", IvfF05Np.toString, "d", "iv")}
      SELECT * FROM (
        ${taggedTailSql("f50", "naive", "exf_f50", "aannr")}
        UNION ALL
        ${taggedTailSql("f50", "probed", "exf_f50", "bannr")}
        UNION ALL
        ${taggedTailSql("f05", "naive", "exf_f05", "cannr")}
        UNION ALL
        ${taggedTailSql("f05", "probed", "exf_f05", "dannr")})
      ORDER BY sel, dial, qid""")),

    // ---- attribute-filtered ANN: the graph family -----------------------
    // The q312 DiskANN layout under a metadata filter. The walk
    // NAVIGATES THE FULL GRAPH — the frontier ranking stays unfiltered,
    // because filtered-out nodes are what keeps the graph connected
    // under a selective predicate — and the filter applies to the
    // RESULT pool: the exact re-rank scores visited ∩ filter only
    // (filtered-DiskANN's own design point). Filtered recall is
    // therefore pool containment of the FILTERED truth in the visited
    // list — the q295/q308/q312 law on a new axis — and the DuckDB
    // sweep confirms it quantitatively: at q312's own dials (beam 24,
    // rounds 4) f50 holds (0.980/0.860) but f05 collapses at the
    // larger SF (0.912/0.744 — only ~5% of the ~2400-candidate visited
    // pool survives the filter, and the true filtered top-5 sit
    // farther from the query than anything the unfiltered frontier
    // chases). The recovery dial is BEAM, not rounds: rounds saturate
    // (r5/r6 ≈ r4 at every tag — the frontier converges), while beam
    // 32 widens the visited pool's diversity: f05 0.976/0.832, f50
    // 0.996/0.912 at (32, 5) — ≥ 0.8 at both SFs, both tags. Output:
    // (sel, dial) recall rows — naive (24,4) vs boosted (32,5), both
    // selectivities, ONE walk per dial (the filtered re-ranks share
    // the walk's bounded visited pool). Per-query cost stays
    // beam·(d+1)·rounds ADC lookups — corpus-size- AND selectivity-
    // independent on the walk side.
    "q319_llm_ann_filtered_graph" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val cents = broadcast(corpus.orderBy("cid").limit(16)
          .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
        val entries = Similarity.centroidEntries(qs, cents)
        val refined = Round9.refinedGraphArtifact(s, dir, corpus)
        val codes = Round9.pqCodesArtifact(s, dir, corpus)
        val keeps = Seq("f50", "f05").map(tag => (tag, keepOf(emb, tag),
          exactTop5Filtered(s, dir, tag, qs, corpus, keepOf(emb, tag))
            .select("qid", "cid")))
        // the exact-reranked visited pool of each dial's walk is a
        // fixture+dial-keyed measurement intermediate (the exact-top5
        // artifact precedent): the dial grid re-ranks FOUR filtered
        // views of two pools, and re-walking an identical pool per
        // view would price the same walk repeatedly — q312 prices the
        // live b24r4 walk in every bench pass, and the PROBES rows
        // price these queries' full (build + serve) cost per decade
        val parts = for ((dial, beam, rounds) <- Seq(
            ("naive", GraphNaiveBeam, GraphNaiveRounds),
            ("boosted", GraphBoostBeam, GraphBoostRounds))) yield {
          val vis = visitedPoolArtifact(s, dir, s"b${beam}_r$rounds",
            beam, rounds) {
            Similarity.beamPqVisited(qs, corpus, refined, codes,
              entries, beam = beam, rounds = rounds, nSub = 16,
              nCodes = 16, dim = 64)
          }
          keeps.map { case (tag, keep, exf) =>
            taggedRecall(tag, dial, exf,
              top5(vis.join(keep, Seq("cid"), "left_semi")))
          }
        }
        parts.flatten.reduce(_ unionByName _).orderBy("sel", "dial", "qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      ${fsetExfSql("f50", F50Pred)},
      ${fsetExfSql("f05", F05Pred)},
      $fullGraphCtes,
      ${graphEntrySql("g")},
      ${beamAdcP(rounds = GraphNaiveRounds, beam = GraphNaiveBeam,
        p = "gn", edge = "e", entry = "gbent", psc = "psc")},
      ${beamAdcP(rounds = GraphBoostRounds, beam = GraphBoostBeam,
        p = "gb", edge = "e", entry = "gbent", psc = "psc")},
      ${poolSql("gn", GraphNaiveRounds, "pool_n")},
      ${poolSql("gb", GraphBoostRounds, "pool_b")},
      ${graphFilteredAnnr("f50", "pool_n", "xa")},
      ${graphFilteredAnnr("f50", "pool_b", "xb")},
      ${graphFilteredAnnr("f05", "pool_n", "xc")},
      ${graphFilteredAnnr("f05", "pool_b", "xd")}
      SELECT * FROM (
        ${taggedTailSql("f50", "naive", "exf_f50", "xaannr")}
        UNION ALL
        ${taggedTailSql("f50", "boosted", "exf_f50", "xbannr")}
        UNION ALL
        ${taggedTailSql("f05", "naive", "exf_f05", "xcannr")}
        UNION ALL
        ${taggedTailSql("f05", "boosted", "exf_f05", "xdannr")})
      ORDER BY sel, dial, qid""")),

    // ---- the advisor's filtered axis: selectivity as a decision input ---
    // adviseFiltered formalizes what q318's sweep showed: the decision
    // inputs are the exact integer pair (nu, fNu) — never a float
    // selectivity — plus measured filtered rows. Operating point:
    // candidate budget max(2nu/5, 800) (= 800 at both test SFs), target
    // 0.8. The 5% filter SHORT-CIRCUITS to
    // brute-filtered at both SFs (fNu = 25/100 ≤ 800 — under selective
    // predicates, exact scan of the survivors is the honest production
    // answer; every filtered index only discards candidates the budget
    // could afford), asserted with a loud require. The f50 decision
    // FLIPS across SFs: at sf0.01 fNu = 254 ≤ 800 → brute-filtered
    // (recall 1.0 by construction); at sf0.1 fNu = 996 > 800 → the
    // measured tier — the q318 over-probe row (nlist 16, nprobe 12,
    // measured 0.948 live) re-derived at this corpus (nlist 32, nprobe
    // 24, cand = 996·24/32 = 747 ≤ 800, swept serve recall 0.960) →
    // ivf-filtered. The decision replays in exact BIGINT; with one
    // measured config the meeting/fallback tiers coincide on it, so
    // the SQL replay needs only the integer arithmetic (the measured
    // recall feeds the Scala advisor, whose selection the require
    // pins). Output: the served family's filtered recall rows, dial =
    // the SQL-replayed family name.
    "q320_llm_ann_advise_filtered" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val keepB = keepOf(emb, "f50")
        val keepS = keepOf(emb, "f05")
        val nu = corpus.count()
        // budget scales with the corpus (exact BIGINT: max(2nu/5, 800)
        // — equal to 800 at BOTH test SFs, so the sf-level decisions
        // are exactly the swept ones; at the 10x/100x probe scales the
        // same formula keeps every tier live instead of tripping the
        // f05 short-circuit require on a fixture-sized constant)
        val budget = math.max(2L * nu / 5L, 800L)
        val fNuS = keepS.count()
        val advS = IndexAdvisor.adviseFiltered(nu, fNuS,
          targetRecall = 0.8, candidateBudget = budget, measured = Nil)
        require(advS.family == "brute-filtered",
          s"the 5% filter must short-circuit to brute-filtered: $advS")
        val fNuB = keepB.count()
        val exfB = exactTop5Filtered(s, dir, "f50", qs, corpus, keepB)
          .select("qid", "cid")
        val advB =
          if (fNuB <= budget) IndexAdvisor.adviseFiltered(nu, fNuB,
            targetRecall = 0.8, candidateBudget = budget, measured = Nil)
          else {
            val nq = exfB.select("qid").distinct().count()
            // the same standing serve q318's probed-f50 dial prices —
            // read from the shared fixture artifact, never recomputed
            val hits = exfB.join(
              ivfF50ProbedServe(s, dir, qs, corpus, keepB)
                .select("qid", "cid"), Seq("qid", "cid")).count()
            IndexAdvisor.adviseFiltered(nu, fNuB, targetRecall = 0.8,
              candidateBudget = budget, measured = Seq(
                IndexAdvisor.RecallRow("ivf-filtered",
                  Map("nlist" -> 16L, "nprobe" -> IvfF50Np.toLong,
                    "k" -> 5L), hits.toDouble / (5.0 * nq))))
          }
        val ann = advB.family match {
          case "brute-filtered" => Similarity.cosineTopK(qs,
            corpus.join(keepB, Seq("cid"), "left_semi"), k = 5)
          case "ivf-filtered" =>
            // the re-derived-nlist standing index is a build-once
            // artifact (nu x nlist assignment dots — nlist grows with
            // sqrt(nu), so an inline rebuild per serve would be the
            // superlinear term at the probe scales)
            val nlist = advB.params("nlist").toInt
            val cents = Similarity.ivfCentroids(corpus, nlist)
            val cb = graft.util.FixtureArtifact.parquet(s, dir,
              "embeddings.parquet", s"ivf_assign_nl$nlist",
              params = Map("nlist" -> nlist.toLong))(
              Similarity.ivfAssignIndex(corpus, cents))
            Similarity.ivfTopKProbeWhereIndexed(qs, cents, cb, keepB,
              k = 5, nprobe = advB.params("nprobe").toInt)
          case other => sys.error(
            s"filtered advisor picked unreachable family $other")
        }
        taggedRecall("f50", advB.family, exfB, ann).orderBy("qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      ${fsetExfSql("f50", F50Pred)},
      stq AS (SELECT COUNT(*) AS nu FROM embeddings),
      fb AS (SELECT COUNT(*) AS f FROM fset_f50),
      p2t AS (SELECT CAST(power(2, x.x) AS BIGINT) AS p
        FROM (SELECT unnest(range(0, 40)) AS x) x),
      nl AS (SELECT CASE WHEN l / lower < (lower * 2) / l
                         THEN lower ELSE lower * 2 END AS nlist FROM
        (SELECT GREATEST(1.0, sqrt(CAST(nu AS DOUBLE))) AS l,
           (SELECT MAX(p) FROM p2t WHERE p <= CAST(FLOOR(
              GREATEST(1.0, sqrt(CAST(nu AS DOUBLE)))) AS BIGINT)) AS lower
         FROM stq)),
      bud AS (SELECT GREATEST((2 * (SELECT nu FROM stq)) // 5, 800) AS b),
      npx AS (SELECT LEAST((SELECT nlist FROM nl),
        GREATEST(1, $IvfF50Np * (SELECT nlist FROM nl) // 16)) AS np),
      cdx AS (SELECT ((SELECT f FROM fb) * (SELECT np FROM npx))
        // (SELECT nlist FROM nl) AS cand),
      chosen AS (SELECT CASE
        WHEN (SELECT f FROM fb) <= (SELECT b FROM bud) THEN 'brute-filtered'
        WHEN (SELECT cand FROM cdx) <= (SELECT b FROM bud) THEN 'ivf-filtered'
        END AS fam),
      ${ivfStandingSql("(SELECT nlist FROM nl)", "vv")},
      ${ivfFilteredAnnr("f50", "(SELECT np FROM npx)", "vb", "vv")},
      annx AS (
        SELECT qid, cid FROM exf_f50
          WHERE (SELECT fam FROM chosen) = 'brute-filtered'
        UNION ALL
        SELECT qid, cid FROM vbannr
          WHERE (SELECT fam FROM chosen) = 'ivf-filtered')
      SELECT 'f50' AS sel, (SELECT fam FROM chosen) AS dial, q.qid,
        CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
        CAST(COALESCE(h.h, 0) AS DOUBLE) / 5.0 AS recall
      FROM (SELECT DISTINCT qid FROM exf_f50) q LEFT JOIN (
        SELECT exf_f50.qid, COUNT(*) AS h FROM exf_f50
        JOIN annx ON exf_f50.qid = annx.qid AND exf_f50.cid = annx.cid
        GROUP BY 1) h ON q.qid = h.qid
      ORDER BY q.qid""")),

    // ---- standing-graph DELETE + compaction (q317's other half) ---------
    // Takedowns tombstone ~1/3 of the corpus (the Lehmer mod-3 slot —
    // heavy enough that the damage is measurable); deletion drops every
    // edge with a tombstoned endpoint (u-side = the node's own
    // out-list, v-side = reverse-edge cleanup: no walk can reach a
    // deleted node), and the periodic COMPACTION pass repairs
    // navigability — one NN-Descent refinement round over the pruned
    // edges and the surviving corpus (graphDeleteCompact; tombstones
    // cannot re-enter: candidates come from pruned edges only). DuckDB
    // sweep (both SFs, before wiring): pruned-only serve 0.972/0.836,
    // one compaction round 0.996/0.912, two rounds 1.0/0.920 —
    // refinement rounds saturate exactly like the walk's (the r5/r6
    // law), so the shipped pass is ONE round. Serve = the q312
    // ADC-guided walk over the maintained edge set, entries re-seeded
    // from the first 16 SURVIVORS; the standing PQ codes artifact is
    // untouched (codes of deleted nodes go cold — deletion must not
    // force a re-encode). Exact side = filtered exact top-5 over
    // survivors (the q318 machinery with the survivor predicate).
    // Output: (dial ∈ pruned|compacted) recall rows — the damage and
    // the repair, one query. Spec-tested: on a complete seed,
    // delete+compact is row-identical to a from-scratch rebuild on the
    // survivors, and insert-then-delete round-trips to the original
    // edge set exactly.
    "q321_llm_graph_delete_compact" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val tomb = emb.filter(
            Slots.Tomb.in)
          .select(col("vec_id").as("cid"))
        val keepSurv = emb.filter(
            Slots.Tomb.out)
          .select(col("vec_id").as("cid"))
        val refined = Round9.refinedGraphArtifact(s, dir, corpus)
        val codes = Round9.pqCodesArtifact(s, dir, corpus)
        val pruned = refined
          .join(tomb.select(col("cid").as("u")), Seq("u"), "left_anti")
          .join(tomb.select(col("cid").as("v")), Seq("v"), "left_anti")
        // the compaction pass is an index-maintenance artifact (run
        // once per takedown batch, served by every later query)
        val compacted = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet",
          s"compact_tomb3_d${Round9.NnDegree}_r1_nnd_d${Round9.NnDegree}_r${Round9.NnRounds}",
          params = Map("d" -> Round9.NnDegree.toLong, "rounds" -> 1L))(
          Similarity.graphDeleteCompact(refined, corpus, tomb,
            d = Round9.NnDegree, rounds = 1))
        val survivors = corpus.join(tomb, Seq("cid"), "left_anti")
        val cents = broadcast(survivors.orderBy("cid").limit(16)
          .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
        val entries = Similarity.centroidEntries(qs, cents)
        val exf = exactTop5Filtered(s, dir, "surv3", qs, corpus, keepSurv)
          .select("qid", "cid")
        // both serves' visited pools are fixture+tombstone-dial-keyed
        // measurement intermediates (see visitedPoolArtifact)
        val poolPruned = visitedPoolArtifact(s, dir,
          s"tomb3_pruned_b${Round9.BeamWidth}_r${Round9.BeamRounds}",
          Round9.BeamWidth, Round9.BeamRounds) {
          Similarity.beamPqVisited(qs, corpus, pruned, codes, entries,
            beam = Round9.BeamWidth, rounds = Round9.BeamRounds,
            nSub = 16, nCodes = 16, dim = 64)
        }
        val poolCompact = visitedPoolArtifact(s, dir,
          s"tomb3_compact1_b${Round9.BeamWidth}_r${Round9.BeamRounds}",
          Round9.BeamWidth, Round9.BeamRounds) {
          Similarity.beamPqVisited(qs, corpus, compacted, codes, entries,
            beam = Round9.BeamWidth, rounds = Round9.BeamRounds,
            nSub = 16, nCodes = 16, dim = 64)
        }
        taggedRecall("surv", "pruned", exf, top5(poolPruned))
          .unionByName(taggedRecall("surv", "compacted", exf,
            top5(poolCompact)))
          .orderBy("dial", "qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      ${fsetExfSql("surv", SurvPred)},
      $fullGraphCtes,
      tomb AS MATERIALIZED (SELECT vec_id AS cid FROM embeddings WHERE $TombPred),
      ed AS MATERIALIZED (SELECT e.u, e.v FROM e
        WHERE e.u NOT IN (SELECT cid FROM tomb)
          AND e.v NOT IN (SELECT cid FROM tomb)),
      ${Round9.nnDescentSql(rounds = 1, d = Round9.NnDegree,
        src = "ed", out = "ec", p = "k1")},
      ${graphEntrySql("s",
        s"SELECT vec_id, embedding FROM embeddings WHERE $SurvPred ORDER BY vec_id LIMIT 16")},
      ${beamAdcP(rounds = Round9.BeamRounds, beam = Round9.BeamWidth,
        p = "wp", edge = "ed", entry = "sbent", psc = "psc")},
      ${beamAdcP(rounds = Round9.BeamRounds, beam = Round9.BeamWidth,
        p = "wc", edge = "ec", entry = "sbent", psc = "psc")},
      ${poolSql("wp", Round9.BeamRounds, "pool_p")},
      ${poolSql("wc", Round9.BeamRounds, "pool_c")},
      ${graphAnnr("pool_p", "ap")},
      ${graphAnnr("pool_c", "ac")}
      SELECT * FROM (
        ${taggedTailSql("surv", "pruned", "exf_surv", "apannr")}
        UNION ALL
        ${taggedTailSql("surv", "compacted", "exf_surv", "acannr")})
      ORDER BY dial, qid""")),

    // ---- the graph family calibrated LIVE (q315's missing row) ----------
    // q315 measures IVF and IVFPQ live; the graph-pq family was still
    // decided from fixture literals. This row measures the q312
    // pipeline through the harness's own exact-top-5 metric and feeds
    // the measured row to adviseCalibratedServing alongside the two
    // fixture rows (q279 IVF 0.844, q309 IVFADC 0.816 — cited, not
    // re-measured: their live twins are q315's own body). Operating
    // point = q313's serving node: candidate budget 200, memory
    // 224 B/vector. Every scan-based family is inadmissible — IVF by
    // MEMORY (nu·256 > 224·nu), IVFPQ by CANDIDATES (nu·nprobe/nlist =
    // 312/1250 > 200), and the graph's own constant (2400) exceeds the
    // budget too — so the decision exercises the new corpus-size-
    // independent escape tier: the measured graph-pq row is the best
    // available (the only cost that stops growing with nu) and its
    // index fits memory (204 B/vector ≤ 224). The advice's params ARE
    // the measured row's dials, so the measurement pipeline IS the
    // advised serve — returned as the output (one walk, measured then
    // served). Spec-tested: raising the candidate budget to 2500 flips
    // the decision to IVFPQ through the normal admissible tier (both
    // selection paths live). Oracle: the decision replays in exact
    // BIGINT (admissibility is value-independent — the recalls cannot
    // be consulted when the admissible set is provably empty), gating
    // the q312 walk chain + recall tail.
    "q322_llm_ann_calibrated_graphpq" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) => {
        val st = Round6c.statsArtifact(s, dir, "embeddings.parquet",
          "stats_nnu_full")(corpus.agg(count(lit(1)).as("n"),
          countDistinct(col("ce")).as("nu")))
        val n = st.getLong(0); val nu = st.getLong(1)
        val dupRate = if (n == 0L) 0.0 else 1.0 - nu.toDouble / n
        val cents = broadcast(corpus.orderBy("cid").limit(16)
          .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
        val entries = Similarity.centroidEntries(qs, cents)
        val refined = Round9.refinedGraphArtifact(s, dir, corpus)
        val codes = Round9.pqCodesArtifact(s, dir, corpus)
        // the b24r4 full-corpus pool — the SAME artifact q319's naive
        // dial reads (one walk serves the dial grid AND this
        // measurement; q312 prices the live walk)
        val pool = visitedPoolArtifact(s, dir,
          s"b${Round9.BeamWidth}_r${Round9.BeamRounds}",
          Round9.BeamWidth, Round9.BeamRounds) {
          Similarity.beamPqVisited(qs, corpus, refined, codes, entries,
            beam = Round9.BeamWidth, rounds = Round9.BeamRounds,
            nSub = 16, nCodes = 16, dim = 64)
        }
        val ann = top5(pool)
        val exact = Round6c.exactTop5(s, dir).select(col("qid"), col("cid"))
        val nq = exact.select("qid").distinct().count()
        val mg = exact.join(ann.select("qid", "cid"), Seq("qid", "cid"))
          .count().toDouble / (5.0 * nq)
        val adv = IndexAdvisor.adviseCalibratedServing(n, dim = 64,
          dupRate, targetRecall = 0.8, candidateBudget = 200L,
          memoryBudgetBytes = 224L * nu,
          measured = Seq(
            IndexAdvisor.RecallRow("ivf",
              Map("nlist" -> 16L, "nprobe" -> 8L, "k" -> 5L), 0.844),
            IndexAdvisor.RecallRow("ivfpq",
              Map("nlist" -> 16L, "nprobe" -> 10L, "nSub" -> 16L,
                "nCodes" -> 16L, "k" -> 5L), 0.816),
            IndexAdvisor.RecallRow("graph-pq",
              Map("d" -> Round9.NnDegree.toLong,
                "beam" -> Round9.BeamWidth.toLong,
                "rounds" -> Round9.BeamRounds.toLong,
                "nSub" -> 16L, "nCodes" -> 16L, "k" -> 5L), mg)))
        require(adv.family == "graph-pq",
          s"the 200-candidate/224 B budgets must pick the measured graph row: $adv")
        require(adv.params("beam") == Round9.BeamWidth.toLong &&
          adv.params("rounds") == Round9.BeamRounds.toLong &&
          adv.params("d") == Round9.NnDegree.toLong,
          s"advice must carry the measured row's dials: ${adv.params}")
        ann // the measured pipeline IS the advised serve
      }),
      Some(s"""${Round6c.exactRecallCte},
      $fullGraphCtes,
      ${graphEntrySql("g")},
      ${beamAdcP(rounds = Round9.BeamRounds, beam = Round9.BeamWidth,
        p = "v", edge = "e", entry = "gbent", psc = "psc")},
      ${poolSql("v", Round9.BeamRounds, "vpool")},
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
      cfg AS (
        SELECT 'ivf' AS fam,
            ((SELECT nu FROM st) * (SELECT nprobe FROM np)) // (SELECT nlist FROM nl) AS cand,
            (SELECT nu FROM st) * 64 * 4 AS bytes
        UNION ALL
        SELECT 'ivfpq' AS fam,
            ((SELECT nu FROM st) * (SELECT nprobe FROM np2)) // (SELECT nlist FROM nl) AS cand,
            (SELECT nu FROM st) * 16 AS bytes
        UNION ALL
        SELECT 'graph-pq' AS fam,
            ${Round9.BeamWidth * (Round9.NnDegree + 1) * Round9.BeamRounds} AS cand,
            (SELECT nu FROM st) * ${Round9.NnDegree * 8 + 16 * 4 / 8 + 4} AS bytes),
      adm AS (SELECT * FROM cfg WHERE cand <= 200
        AND bytes <= 224 * (SELECT nu FROM st)),
      chosen AS (SELECT CASE WHEN (SELECT COUNT(*) FROM adm) = 0
          AND (SELECT bytes FROM cfg WHERE fam = 'graph-pq')
            <= 224 * (SELECT nu FROM st)
        THEN 'graph-pq' END AS fam),
      annr AS (SELECT qid, cid FROM (SELECT pl.qid, pl.cid,
          row_number() OVER (PARTITION BY pl.qid ORDER BY e2.cos DESC, pl.cid) AS rnk
        FROM vpool pl JOIN ex0 e2 ON e2.qid = pl.qid AND e2.cid = pl.cid)
        WHERE rnk <= 5 AND (SELECT fam FROM chosen) = 'graph-pq'),
      ${Round6c.recallTailSql}""")),

    // ---- filtered serving under a FIXED SLO budget (sampled calib.) -----
    // q320's candidate budget scales with the corpus (max(2nu/5, 800) —
    // the demonstration dial that keeps every tier live at every probe
    // scale, at the price of corpus-proportional serve work). This twin
    // is the production shape: the budget is a FIXED per-query latency
    // SLO (900 candidates), the IVF measurement runs on the q314
    // Lehmer-500 SAMPLE (corpus-size-independent: standing 16-cell
    // index over the sample, filter applied to the probed cells,
    // recall vs the sampled filtered exact — swept 0.924/0.924 at np12
    // BEFORE wiring), and the graph row is measured at the leanest
    // dials a 900-candidate budget affords: beam 9, rounds 4 → cand =
    // 9·(24+1)·4 = 900 exactly (q312's b24r4 walk costs 2400/query —
    // more than sf0.1's entire f50 survivor set; a fixed budget can't
    // buy it). The sweep's honest negative: NO small-dial walk reaches
    // 0.8 at sf0.1 (b9r4 = 0.616; the q307 precedent) — so the family
    // ladder a fixed SLO produces is brute (fNu <= 900, sf0.01) →
    // measured ivf-filtered (re-derived nlist=32/np=24, cand 747 <=
    // 900, sf0.1) → graph-filtered through the BEST-BELOW-TARGET
    // fallback tier once fNu·np/nlist outgrows the budget (10×/100× —
    // the only family whose cost stops growing with the corpus; its
    // recall there is the serve's honest ceiling). The decision
    // replays in exact BIGINT; the requires pin the advisor's pick to
    // the same integer CASE the oracle runs (a future fixture hitting
    // the icand == 900 tie with a >=0.8 graph row fails LOUDLY here
    // rather than silently diverging). Serve = the chosen family over
    // the FULL corpus; at the graph tier the measurement pipeline IS
    // the serve (the q322 rule).
    "q323_llm_ann_filtered_slo" -> QueryDef(
      (s, dir) => {
        val B = 900L
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val keepB = keepOf(emb, "f50")
        val nu = corpus.count()
        val fNuB = keepB.count()
        val exfB = exactTop5Filtered(s, dir, "f50", qs, corpus, keepB)
          .select("qid", "cid")
        val advB =
          if (fNuB <= B) IndexAdvisor.adviseFiltered(nu, fNuB,
            targetRecall = 0.8, candidateBudget = B, measured = Nil)
          else {
            // (a) sampled IVF measurement — the q314 Lehmer sample
            val sample = corpus.orderBy(
                Slots.of(col("cid"), 1000003L),
                col("cid"))
              .limit(Round10.CalSampleK)
            val exS = Similarity.cosineTopK(qs,
                sample.join(keepB, Seq("cid"), "left_semi"), k = 5)
              .select("qid", "cid").persist()
            val nqS = exS.select("qid").distinct().count()
            val mi = exS.join(Similarity.ivfTopKProbeWhere(qs, sample,
                keepB, k = 5, nlist = 16, nprobe = IvfF50Np)
                .select("qid", "cid"), Seq("qid", "cid")).count()
              .toDouble / (5.0 * nqS)
            exS.unpersist()
            // (b) graph measurement at the budget's leanest dials —
            // the b9r4 pool is the serve's own artifact
            val gm = {
              val pool = sloGraphPool(s, dir, qs, corpus)
              val ann = top5(pool.join(keepB, Seq("cid"), "left_semi"))
              val nq = exfB.select("qid").distinct().count()
              exfB.join(ann, Seq("qid", "cid")).count()
                .toDouble / (5.0 * nq)
            }
            IndexAdvisor.adviseFiltered(nu, fNuB, targetRecall = 0.8,
              candidateBudget = B, measured = Seq(
                IndexAdvisor.RecallRow("ivf-filtered",
                  Map("nlist" -> 16L, "nprobe" -> IvfF50Np.toLong,
                    "k" -> 5L), mi),
                IndexAdvisor.RecallRow("graph-filtered",
                  Map("d" -> Round9.NnDegree.toLong, "beam" -> SloBeam,
                    "rounds" -> SloRounds, "nSub" -> 16L,
                    "nCodes" -> 16L, "k" -> 5L), gm)))
          }
        // pin the advisor's pick to the oracle's integer CASE replay
        val nlist = IndexAdvisor.pow2Near(math.sqrt(nu.toDouble))
        val np = math.min(nlist, math.max(1L, IvfF50Np * nlist / 16L))
        val icand = fNuB * np / nlist
        val expect =
          if (fNuB <= B) "brute-filtered"
          else if (icand <= B) "ivf-filtered"
          else "graph-filtered"
        require(advB.family == expect,
          s"SLO decision replay diverged: advisor ${advB.family} vs " +
            s"integer CASE $expect (nu=$nu fNu=$fNuB icand=$icand B=$B)")
        val ann = advB.family match {
          case "brute-filtered" => Similarity.cosineTopK(qs,
            corpus.join(keepB, Seq("cid"), "left_semi"), k = 5)
          case "ivf-filtered" =>
            val cents = Similarity.ivfCentroids(corpus, nlist.toInt)
            val cb = graft.util.FixtureArtifact.parquet(s, dir,
              "embeddings.parquet", s"ivf_assign_nl$nlist",
              params = Map("nlist" -> nlist))(
              Similarity.ivfAssignIndex(corpus, cents))
            Similarity.ivfTopKProbeWhereIndexed(qs, cents, cb, keepB,
              k = 5, nprobe = advB.params("nprobe").toInt)
          case "graph-filtered" =>
            top5(sloGraphPool(s, dir, qs, corpus)
              .join(keepB, Seq("cid"), "left_semi"))
          case other => sys.error(
            s"SLO filtered advisor picked unreachable family $other")
        }
        taggedRecall("f50", advB.family, exfB, ann).orderBy("qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      ${fsetExfSql("f50", F50Pred)},
      stq AS (SELECT COUNT(*) AS nu FROM embeddings),
      fb AS (SELECT COUNT(*) AS f FROM fset_f50),
      p2t AS (SELECT CAST(power(2, x.x) AS BIGINT) AS p
        FROM (SELECT unnest(range(0, 40)) AS x) x),
      nl AS (SELECT CASE WHEN l / lower < (lower * 2) / l
                         THEN lower ELSE lower * 2 END AS nlist FROM
        (SELECT GREATEST(1.0, sqrt(CAST(nu AS DOUBLE))) AS l,
           (SELECT MAX(p) FROM p2t WHERE p <= CAST(FLOOR(
              GREATEST(1.0, sqrt(CAST(nu AS DOUBLE)))) AS BIGINT)) AS lower
         FROM stq)),
      npx AS (SELECT LEAST((SELECT nlist FROM nl),
        GREATEST(1, $IvfF50Np * (SELECT nlist FROM nl) // 16)) AS np),
      cdx AS (SELECT ((SELECT f FROM fb) * (SELECT np FROM npx))
        // (SELECT nlist FROM nl) AS cand),
      chosen AS (SELECT CASE
        WHEN (SELECT f FROM fb) <= 900 THEN 'brute-filtered'
        WHEN (SELECT cand FROM cdx) <= 900 THEN 'ivf-filtered'
        ELSE 'graph-filtered' END AS fam),
      ${ivfStandingSql("(SELECT nlist FROM nl)", "vv")},
      ${ivfFilteredAnnr("f50", "(SELECT np FROM npx)", "vb", "vv")},
      $fullGraphCtes,
      ${graphEntrySql("g")},
      ${beamAdcP(rounds = 4, beam = 9, p = "h9", edge = "e",
        entry = "gbent", psc = "psc")},
      ${poolSql("h9", 4, "spool")},
      ${graphFilteredAnnr("f50", "spool", "sg")},
      annx AS (
        SELECT qid, cid FROM exf_f50
          WHERE (SELECT fam FROM chosen) = 'brute-filtered'
        UNION ALL
        SELECT qid, cid FROM vbannr
          WHERE (SELECT fam FROM chosen) = 'ivf-filtered'
        UNION ALL
        SELECT qid, cid FROM sgannr
          WHERE (SELECT fam FROM chosen) = 'graph-filtered')
      SELECT 'f50' AS sel, (SELECT fam FROM chosen) AS dial, q.qid,
        CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
        CAST(COALESCE(h.h, 0) AS DOUBLE) / 5.0 AS recall
      FROM (SELECT DISTINCT qid FROM exf_f50) q LEFT JOIN (
        SELECT exf_f50.qid, COUNT(*) AS h FROM exf_f50
        JOIN annx ON exf_f50.qid = annx.qid AND exf_f50.cid = annx.cid
        GROUP BY 1) h ON q.qid = h.qid
      ORDER BY q.qid""")),

    // ---- perplexity-class scoring in fixed-point log space --------------
    // The q260 bigram LM's log-space half, closing the round-10
    // verdict's last "missing" row: per-document negative log-
    // likelihood of the Laplace-smoothed bigram model, every ln
    // computed by [[graft.operators.FixedPoint]]'s DEFINED micro-nat
    // integer recipe — so the whole score column is BIGINT and hashes
    // identically across engines (no float compare anywhere). Per
    // pair: nll = ln_fx(c1+V) - ln_fx(c2+1) >= 0 (the -ln p of q260's
    // exact rational p); per doc: the exact BIGINT sum and its
    // integer-floor mean (micro-nats/pair — e^(avg/10^6) is the
    // perplexity a CCNet-style filter thresholds on). Scale shape:
    // ln runs over the DISTINCT count values only (Zipf-bounded, a
    // broadcast), joined back per pair — the corpus-sized work stays
    // the two word-count shuffles the q260 family already pays.
    "q324_llm_perplexity_fixedln" -> QueryDef(
      (s, dir) => {
        val refSrcs = Seq("src1", "src2", "src3", "src4", "src5")
        val tok = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("tl"))
        // adjacent pairs via the q260 windowed form. Same-window A/B'd
        // at 100× against a row-local transform/explode HOF (struct
        // pairs from the token array, no shuffle): the window form wins
        // 41.6 vs 67 s warm — the HOF's per-doc struct-array
        // allocation costs more than the doc_id-sorted shuffle it
        // saves (peak task mem 840 vs 210 MB is the trade).
        def pairsOf(df: DataFrame): DataFrame = {
          val tks = df.select(col("doc_id"), posexplode(col("tl")))
            .select(col("doc_id"), col("pos"), col("col").as("w1"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id").orderBy("pos")
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
        val sc = pairsOf(tok)
          .join(big, Seq("w1", "w2"), "left")
          .join(hist, Seq("w1"), "left")
          .withColumn("one", lit(1))
          .join(broadcast(vDf), Seq("one"))
          .select(col("doc_id"),
            (coalesce(col("c2"), lit(0L)) + 1L).as("num"),
            (coalesce(col("c1"), lit(0L)) + col("v")).as("den"))
        val lnt = graft.operators.FixedPoint.lnFxTable(
          sc.select(col("den").as("n"))
            .union(sc.select(col("num").as("n"))).distinct())
        val lden = broadcast(lnt.select(col("n").as("den"),
          col("ln_fx").as("ln_den")))
        val lnum = broadcast(lnt.select(col("n").as("num"),
          col("ln_fx").as("ln_num")))
        sc.join(lden, Seq("den")).join(lnum, Seq("num"))
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_pairs"),
            sum(col("ln_den") - col("ln_num")).as("nll_fx"))
          .withColumn("nll_avg_fx", expr("nll_fx div n_pairs"))
          .select("doc_id", "n_pairs", "nll_fx", "nll_avg_fx")
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS tl FROM documents),
      rt AS (SELECT * FROM tok WHERE source IN ('src1','src2','src3','src4','src5')),
      vv AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(tl) AS w FROM rt)),
      rp AS (SELECT tl[p] AS w1, tl[p+1] AS w2 FROM
        (SELECT tl, unnest(range(1, len(tl))) AS p FROM rt)),
      hist AS (SELECT w1, COUNT(*) AS c1 FROM rp GROUP BY 1),
      big AS (SELECT w1, w2, COUNT(*) AS c2 FROM rp GROUP BY 1, 2),
      dp AS (SELECT doc_id, tl[p] AS w1, tl[p+1] AS w2 FROM
        (SELECT doc_id, tl, unnest(range(1, len(tl))) AS p FROM tok)),
      sc AS MATERIALIZED (SELECT doc_id,
          CAST(COALESCE(b.c2, 0) + 1 AS BIGINT) AS num,
          CAST(COALESCE(h.c1, 0) + vv.v AS BIGINT) AS den
        FROM dp LEFT JOIN big b USING (w1, w2) LEFT JOIN hist h USING (w1)
        CROSS JOIN vv),
      nv AS (SELECT den AS n FROM sc UNION SELECT num AS n FROM sc),
      ${graft.operators.FixedPoint.lnFxSql("nv", "lnt")}
      SELECT sc.doc_id, COUNT(*) AS n_pairs,
        CAST(SUM(ld.ln_fx - ln2.ln_fx) AS BIGINT) AS nll_fx,
        CAST(CAST(SUM(ld.ln_fx - ln2.ln_fx) AS BIGINT) // COUNT(*) AS BIGINT) AS nll_avg_fx
      FROM sc JOIN lnt ld ON sc.den = ld.n JOIN lnt ln2 ON sc.num = ln2.n
      GROUP BY sc.doc_id ORDER BY sc.doc_id""")),

    // ---- filters × deletes: serving the MAINTAINED graph under a
    // predicate ------------------------------------------------------
    // Production indexes are BOTH maintained (takedowns — q321) and
    // served under metadata filters (q319); this row scores the
    // composition: 1/3 tombstoned, one compaction round, then f50
    // filtered serving, exact side = top-5 over survivors ∩ f50. The
    // walk navigates the full MAINTAINED graph (tombstones are gone
    // from the edge set; f50-filtered-out nodes stay in the walk —
    // the q319 rule), the filter applies to the exact re-rank of the
    // visited pool, where keep = survivors ∩ f50 (a tombstoned id can
    // never be served, by construction of the pruned+compacted edges,
    // and the re-rank's semi-join makes it structural). DuckDB sweep
    // (both SFs, before wiring): q321's serve point b24r4 holds at
    // 1.0/0.908 under the combined predicate — compaction repairs
    // navigability enough that the ~1/3-selectivity filter costs ~0
    // vs the unfiltered compacted serve (0.912) — and the q319 boost
    // dial b32r5 recovers to 1.0/0.952. Output: both dials' recall
    // rows; the b24r4 pool is q321's own artifact (one walk serves
    // the maintenance row AND this composition), b32r5 prices the
    // boosted walk's pool build in this row.
    "q325_llm_ann_filtered_maintained" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val tomb = emb.filter(
            Slots.Tomb.in)
          .select(col("vec_id").as("cid"))
        val keep = emb.filter(
            Slots.Tomb.out &&
              col("label") < 5)
          .select(col("vec_id").as("cid"))
        val refined = Round9.refinedGraphArtifact(s, dir, corpus)
        val codes = Round9.pqCodesArtifact(s, dir, corpus)
        val compacted = graft.util.FixtureArtifact.parquet(s, dir,
          "embeddings.parquet",
          s"compact_tomb3_d${Round9.NnDegree}_r1_nnd_d${Round9.NnDegree}_r${Round9.NnRounds}",
          params = Map("d" -> Round9.NnDegree.toLong, "rounds" -> 1L))(
          Similarity.graphDeleteCompact(refined, corpus, tomb,
            d = Round9.NnDegree, rounds = 1))
        val survivors = corpus.join(tomb, Seq("cid"), "left_anti")
        val cents = broadcast(survivors.orderBy("cid").limit(16)
          .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
        val entries = Similarity.centroidEntries(qs, cents)
        val exf = exactTop5Filtered(s, dir, "surv3f50", qs, corpus, keep)
          .select("qid", "cid")
        val parts = Seq((Round9.BeamWidth, Round9.BeamRounds),
            (GraphBoostBeam, GraphBoostRounds)).map { case (b, r) =>
          val pool = visitedPoolArtifact(s, dir,
            s"tomb3_compact1_b${b}_r$r", b, r) {
            Similarity.beamPqVisited(qs, corpus, compacted, codes,
              entries, beam = b, rounds = r, nSub = 16, nCodes = 16,
              dim = 64)
          }
          taggedRecall("sf50", s"b${b}r$r", exf,
            top5(pool.join(keep, Seq("cid"), "left_semi")))
        }
        parts.reduce(_ unionByName _).orderBy("dial", "qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      ${fsetExfSql("sf50", s"($SurvPred) AND ($F50Pred)")},
      $fullGraphCtes,
      tomb AS MATERIALIZED (SELECT vec_id AS cid FROM embeddings WHERE $TombPred),
      ed AS MATERIALIZED (SELECT e.u, e.v FROM e
        WHERE e.u NOT IN (SELECT cid FROM tomb)
          AND e.v NOT IN (SELECT cid FROM tomb)),
      ${Round9.nnDescentSql(rounds = 1, d = Round9.NnDegree,
        src = "ed", out = "ec1", p = "k1")},
      ${graphEntrySql("s",
        s"SELECT vec_id, embedding FROM embeddings WHERE $SurvPred ORDER BY vec_id LIMIT 16")},
      ${beamAdcP(rounds = Round9.BeamRounds, beam = Round9.BeamWidth,
        p = "mfa", edge = "ec1", entry = "sbent", psc = "psc")},
      ${beamAdcP(rounds = GraphBoostRounds, beam = GraphBoostBeam,
        p = "mfb", edge = "ec1", entry = "sbent", psc = "psc")},
      ${poolSql("mfa", Round9.BeamRounds, "mfpool_a")},
      ${poolSql("mfb", GraphBoostRounds, "mfpool_b")},
      ${graphFilteredAnnr("sf50", "mfpool_a", "xma")},
      ${graphFilteredAnnr("sf50", "mfpool_b", "xmb")}
      SELECT * FROM (
        ${taggedTailSql("sf50", s"b${Round9.BeamWidth}r${Round9.BeamRounds}",
          "exf_sf50", "xmaannr")}
        UNION ALL
        ${taggedTailSql("sf50", s"b${GraphBoostBeam}r$GraphBoostRounds",
          "exf_sf50", "xmbannr")})
      ORDER BY dial, qid"""))
  )

  /** The b9r4 visited pool over the full standing graph — q323's graph
    * measurement AND its graph-tier serve (one artifact, the q322
    * measured-pipeline-is-the-serve rule). */
  private def sloGraphPool(s: SparkSession, dir: String,
      qs: DataFrame, corpus: DataFrame): DataFrame = {
    val refined = Round9.refinedGraphArtifact(s, dir, corpus)
    val codes = Round9.pqCodesArtifact(s, dir, corpus)
    val cents = broadcast(corpus.orderBy("cid").limit(16)
      .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
    val entries = Similarity.centroidEntries(qs, cents)
    visitedPoolArtifact(s, dir, s"b${SloBeam}_r$SloRounds",
      SloBeam.toInt, SloRounds.toInt) {
      Similarity.beamPqVisited(qs, corpus, refined, codes, entries,
        beam = SloBeam.toInt, rounds = SloRounds.toInt,
        nSub = 16, nCodes = 16, dim = 64)
    }
  }
}
