package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.{IndexAdvisor, Similarity}
import graft.sources.{MemCatalog, Tables}
import graft.streaming.EventStreams
import graft.util.{Jobs, Slots}

/** Round-8 batch: making the round-7 documentation-only claims
  * executable. The headline is q294 — the first scored query whose ANN
  * index parameters come FROM [[graft.operators.IndexAdvisor]] computed
  * off measured corpus statistics, instead of a hardcoded nlist=16:
  * the "nlist grows with N" scale argument as a wired, oracled code
  * path. On the driver fixtures the advice resolves to IVF nlist=16
  * (nu=500, sf0.01) and nlist=32 (nu=2000, sf0.1); on the 10×/100×
  * replicated probe fixtures the measured duplicate rate trips the
  * advisor's dedup-first rule, exercising the rep-scoring + group-
  * expansion path that keeps unique-vector work replication-invariant
  * (the q264-disease guard, now enforced by construction).
  */
object Round8 {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  /** q296 invocation counter — names each invocation's MemCatalog table
    * and seed view so interleaved calls cannot race on shared DML
    * state. Declared before `defs` (object-init order, CLAUDE.md). */
  private val q296Invocations = new java.util.concurrent.atomic.AtomicLong(0L)

  /** q297's per-batch scorer: dedup-first near-dup scoring of one
    * micro-batch of raw probe DOCUMENTS against a rep-level corpus
    * index. Bit-identical (lang, text) probes are grouped, only the
    * reps are shingled and joined, and the rep pairs expand through
    * BOTH groups — identical text means identical shingle set, so every
    * expanded (da, db) carries exactly the jaccard the direct scorer
    * computes (q265's per-batch-union property, now replication-
    * invariant in the unique-payload count). `idx` is the rep-level
    * inverted shingle index, `cmem` the corpus rep→member map.
    */
  def scoreNearDupBatchDeduped(batch: DataFrame, idx: DataFrame,
      cmem: DataFrame): DataFrame = {
    val g = batch.groupBy("lang", "text")
      .agg(min("doc_id").as("rep"), collect_list("doc_id").as("ids"))
    // repartition before the heavy row-local shingling (q265's
    // one-file-one-task map-bound fix, applied to the rep frame)
    val shing = Round6b.shingledDocs(
      g.select(col("rep").as("doc_id"), col("lang"), col("text"))
        .repartition(col("doc_id")), "pa", "na")
    val repPairs = shing.join(idx, Seq("gh", "lang"))
      .groupBy("pa", "pb", "na", "nb").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("pa"), col("pb"), round(col("jaccard"), 6).as("jaccard"))
    val pmem = g.select(col("rep").as("pa"), explode(col("ids")).as("da"))
    repPairs.join(pmem, Seq("pa")).join(cmem, Seq("pb"))
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** q298's per-batch scorer: dedup-first semantic-dedup scoring of one
    * micro-batch of raw probe EMBEDDINGS (da, ea) against rep-level IVF
    * cells. Bit-identical vectors share a nearest centroid (the rounded
    * dot and centroid-id tie-break are value-deterministic) and a
    * cosine, so rep scoring + two-sided expansion reproduces the direct
    * scorer's (da, db, cos) rows exactly. `corpusReps` carries
    * (centroid_id, pb, eb, nb), `cmem` the corpus rep→member map.
    */
  def scoreSemDedupBatchDeduped(batch: DataFrame, cents: DataFrame,
      corpusReps: DataFrame, cmem: DataFrame): DataFrame = {
    val g = batch.groupBy("ea")
      .agg(min("da").as("rep"), collect_list("da").as("ids"))
    val reps = g.select(col("rep").as("pa"), col("ea"))
    val assigned = Similarity.assignToCentroids(reps, "pa", "ea", cents)
      .withColumn("na", Similarity.norm("ea"))
    val repPairs = assigned.join(corpusReps, Seq("centroid_id"))
      .select(col("pa"), col("pb"),
        Similarity.cos("ea", "eb", col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= 0.35)
    val pmem = g.select(col("rep").as("pa"), explode(col("ids")).as("da"))
    repPairs.join(pmem, Seq("pa")).join(cmem, Seq("pb"))
      .select(col("da"), col("db"), col("cos"))
  }

  /** DuckDB replay of [[graft.operators.Similarity.lshKnnEdgesMultiTable]]:
    * per-table bucket CTEs (seeds 42..42+nTables-1, the q280 fragment
    * recipe), per-table per-bucket top-`d` out-edges, and the DISTINCT
    * union as edge CTE `e`. `where` optionally restricts the corpus
    * (q313's slot-filtered standing index); downstream joins filter
    * themselves through the edge endpoints. */
  private[queries] def stitchedEdgesSql(d: Int, nPlanes: Int, nTables: Int,
      out: String = "e", where: String = "", tbl: String = "embeddings",
      p: String = ""): String = {
    val pred = if (where.isEmpty) "" else s" WHERE $where"
    val per = (0 until nTables).map { t =>
      val bucket = Round6.bucketSql(
        graft.operators.Similarity.hyperplanes(nPlanes, 64, 42L + t))
      s"""${p}cb$t AS MATERIALIZED (SELECT vec_id AS cid, $bucket AS bucket
        FROM (SELECT vec_id, embedding AS e FROM $tbl$pred)),
      ${p}ep$t AS MATERIALIZED (SELECT a.cid AS u, b.cid AS v, ${Round6c.cosSql("x", "y")} AS cos
        FROM ${p}cb$t a JOIN ${p}cb$t b ON a.bucket = b.bucket AND a.cid <> b.cid
        JOIN $tbl x ON a.cid = x.vec_id
        JOIN $tbl y ON b.cid = y.vec_id
        CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      ${p}et$t AS MATERIALIZED (SELECT u, v FROM (SELECT u, v, row_number() OVER (
          PARTITION BY u ORDER BY cos DESC, v) AS rn FROM ${p}ep$t) WHERE rn <= $d)"""
    }.mkString(",\n      ")
    val union = (0 until nTables)
      .map(t => s"SELECT u, v FROM ${p}et$t").mkString(" UNION ")
    s"""$per,
      $out AS MATERIALIZED ($union)"""
  }

  val defs: Map[String, QueryDef] = Map(

    // ---- advisor-driven IVF recall@5 (advice EXECUTED, not prose) ------
    // Stats → advice → build → score in one query: a 1-row aggregate
    // measures corpus size and bit-identical duplicate rate (the q206
    // machinery's numbers), IndexAdvisor.advise picks the family and
    // parameters (candidate budget = ceil(nu/2), the "accept a half-
    // corpus scan per query" serving point its >=0.8-recall IVF ratio
    // implies — under which the advice is provably 'ivf' for any
    // corpus with >= 2 unique vectors, so the loud require can only
    // trip on a degenerate fixture), and the advised config runs
    // through the UNCHANGED q275 recall harness. The oracle replays
    // the advisor arithmetic in SQL: nlist = the power of two nearest
    // sqrt(unique n) (exact integer power table — no float log2),
    // nprobe = nlist/2, centroids = the nlist lowest-id corpus rows.
    // When the measured dupRate >= 0.1 the advice prepends dedup-first
    // grouping (reps scored, components expanded through the groups,
    // re-ranked on (cos DESC, cid) — the q288 expansion recipe), which
    // the oracle mirrors behind the same SQL-computed flag; on the
    // replicated probe fixtures this is the path that holds candidate
    // work flat while the naive form grows copies². Advisor round-trips
    // dupRate through doubles; its recovered unique count can differ
    // from COUNT(DISTINCT) only by ±1 (< 1e-9 · n rounding), which
    // cannot move the power-of-two choice off a geometric midpoint for
    // any realistic corpus size.
    "q294_llm_ann_ivf_advised" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) => {
        // 1-row advisory stats (an AQE-style plan-choice collect, not a
        // data-sized driver loop)
        val st = corpus.agg(count(lit(1)).as("n"),
          countDistinct(col("ce")).as("nu")).head()
        val n = st.getLong(0)
        val nu = st.getLong(1)
        val dupRate = if (n == 0L) 0.0 else 1.0 - nu.toDouble / n
        val adv = IndexAdvisor.advise(n, dim = 64, dupRate,
          targetRecall = 0.8, candidateBudget = math.max(1L, (nu + 1L) / 2L))
        require(adv.family == "ivf",
          s"advisor picked ${adv.family} — the ceil(nu/2) budget admits " +
            "only ivf for nu >= 2; fixture degenerated to nu < 2")
        val nlist = adv.params("nlist").toInt
        val nprobe = adv.params("nprobe").toInt
        if (!adv.dedupFirst)
          Similarity.ivfTopKProbe(qs, corpus, k = 5, nlist, nprobe)
        else {
          // dedup-first: one hash shuffle groups bit-identical vectors;
          // reps (unique vectors) carry the index build + scoring, then
          // the k reps per query expand through their groups and re-rank.
          // The rep scoring excludes the query's OWN rep (qid = cid at
          // rep level), but the query's duplicate copies are its nearest
          // neighbors (cos 1.0) and the exact side returns them — so the
          // own-group rep is recovered at cos 1.0 before expansion
          // (dedup'd by max since the scored path may also surface it
          // when a lower id shares the query's embedding). On a fixture
          // where the lowest nlist ids are unique-vector reps this is
          // result-identical to direct scoring of all copies (spec test).
          val grp = corpus.groupBy(col("ce")).agg(min("cid").as("rep"))
            .persist() // lineage paths: reps + expansion + own-recovery
          val reps = grp.select(col("rep").as("cid"), col("ce"))
          val srk = Similarity.ivfTopKProbe(qs, reps, k = 5, nlist, nprobe)
            .select(col("qid"), col("cid").as("rep"), col("cos"))
          val own = qs.join(grp, qs("qe") === grp("ce"))
            .select(col("qid"), col("rep"), lit(1.0).as("cos"))
          val cands = srk.unionByName(own)
            .groupBy("qid", "rep").agg(max("cos").as("cos"))
          val members = corpus.join(grp, Seq("ce"))
            .select(col("rep"), col("cid"))
          Similarity.topKByCos(cands.join(members, Seq("rep"))
              .filter(col("cid") =!= col("qid")), 5)
            .select("qid", "cid")
        }
      }),
      Some(s"""${Round6c.exactRecallCte},
      st AS (SELECT COUNT(*) AS n, COUNT(DISTINCT embedding) AS nu FROM embeddings),
      f AS (SELECT CASE WHEN 1.0 - CAST(nu AS DOUBLE) / n >= 0.1
                        THEN 1 ELSE 0 END AS dd FROM st),
      p2t AS (SELECT CAST(power(2, x.x) AS BIGINT) AS p
        FROM (SELECT unnest(range(0, 40)) AS x) x),
      nl AS (SELECT CASE WHEN l / lower < (lower * 2) / l
                         THEN lower ELSE lower * 2 END AS nlist FROM
        (SELECT GREATEST(1.0, sqrt(CAST(nu AS DOUBLE))) AS l,
           (SELECT MAX(p) FROM p2t WHERE p <= CAST(FLOOR(
              GREATEST(1.0, sqrt(CAST(nu AS DOUBLE)))) AS BIGINT)) AS lower
         FROM st)),
      np AS (SELECT GREATEST(1, nlist // 2) AS nprobe FROM nl),
      grp AS (SELECT embedding AS ge, MIN(vec_id) AS rep
        FROM embeddings GROUP BY embedding),
      base AS (SELECT vec_id AS id, embedding AS e FROM (
          SELECT vec_id, embedding,
            row_number() OVER (PARTITION BY embedding ORDER BY vec_id) AS rn
          FROM embeddings) WHERE rn = 1 OR (SELECT dd FROM f) = 0),
      cent AS (SELECT id AS centroid_id, e AS centroid FROM (
          SELECT id, e, row_number() OVER (ORDER BY id) AS rn FROM base)
        WHERE rn <= (SELECT nlist FROM nl)),
      qa0 AS (SELECT q.id, c.centroid_id,
          round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM q2 q, cent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      qa AS (SELECT id, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM qa0) WHERE r <= (SELECT nprobe FROM np)),
      ca0 AS (SELECT b.id, c.centroid_id,
          round(SUM(CAST(b.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM base b, cent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      ca AS (SELECT id, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM ca0) WHERE r = 1),
      scored AS (SELECT qa.id AS qid, ca.id AS cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM qa JOIN ca ON qa.centroid_id = ca.centroid_id AND qa.id <> ca.id
        JOIN embeddings q ON qa.id = q.vec_id
        JOIN embeddings c ON ca.id = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      srk AS (SELECT qid, cid, cos FROM (SELECT qid, cid, cos,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM scored) WHERE rnk <= 5),
      own AS (SELECT q.id AS qid, g.rep, 1.0 AS cos
        FROM q2 q JOIN grp g ON q.e = g.ge
        WHERE (SELECT dd FROM f) = 1),
      cands AS (SELECT qid, rep, MAX(cos) AS cos FROM (
          SELECT qid, cid AS rep, cos FROM srk
          UNION ALL SELECT qid, rep, cos FROM own) GROUP BY 1, 2),
      expd AS (
        SELECT s.qid, m.vec_id AS cid, s.cos
          FROM cands s JOIN grp g ON s.rep = g.rep
          JOIN embeddings m ON m.embedding = g.ge
          WHERE (SELECT dd FROM f) = 1 AND m.vec_id <> s.qid
        UNION ALL
        SELECT qid, cid, cos FROM srk WHERE (SELECT dd FROM f) = 0),
      annr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM expd) WHERE rnk <= 5),
      ${Round6c.recallTailSql}""")),

    // ---- Matryoshka two-stage serving (the q293 fix) -------------------
    // q293 honestly measured naive 32-dim truncation at 0.212 recall@5 —
    // don't serve that. The standard fix is two-stage: score the WHOLE
    // corpus on the truncated prefix (half the memory bandwidth + FLOPs
    // per candidate), keep a top-m pool, then re-rank only the pool at
    // full dimension. Rerank recall EQUALS pool containment (any exact-
    // top-5 member in the pool out-ranks the rest at full dim), so m is
    // the dial: on this ISOTROPIC synthetic corpus the prefix carries no
    // concentrated variance (the reason q293's direct number was 0.212),
    // and a measured m-sweep needs m ≈ n/10 — m = max(100, n/10),
    // recall@5 0.928 (sf0.01) / 0.892 (sf0.1) at (32·n + 64·m)/(64·n) =
    // 0.6× the full-scan FLOPs per query. Matryoshka-TRAINED embeddings
    // front-load variance and serve from much smaller pools; the
    // two-stage plumbing and the honest m-vs-recall tradeoff are what
    // this row pins. Scale shape: stage 1 is the q46 broadcast-query
    // scan (cheaper per pair), stage 2 is m-bounded hash joins back to
    // the full vectors — nothing data-sized is re-ranked.
    "q295_llm_ann_matryoshka_rerank" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) => {
        // 1-row sizing stat (same AQE-style plan choice as q294)
        val m = math.max(100L, corpus.count() / 10L).toInt
        val pool = Similarity.cosineTopK(
            qs.select(col("qid"), expr("slice(qe, 1, 32)").as("qe")),
            corpus.select(col("cid"), expr("slice(ce, 1, 32)").as("ce")),
            k = m)
          .select("qid", "cid")
        Similarity.topKByCos(Similarity.exactCos(pool, qs, corpus), 5)
          .select("qid", "cid")
      }),
      Some(s"""${Round6c.exactRecallCte},
      tr AS (SELECT q2.id AS qid, c2.id AS cid, ${Round6c.cosSql("q", "c")} AS tcos
        FROM q2 JOIN c2 ON q2.id <> c2.id
        JOIN embeddings q ON q2.id = q.vec_id
        JOIN embeddings c ON c2.id = c.vec_id,
        (SELECT unnest(range(1, 33)) AS i) i
        GROUP BY 1, 2),
      pool AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY tcos DESC, cid) AS rnk
        FROM tr) WHERE rnk <= (SELECT GREATEST(100, COUNT(*) // 10)
                               FROM embeddings)),
      re AS (SELECT pool.qid, pool.cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM pool
        JOIN embeddings q ON pool.qid = q.vec_id
        JOIN embeddings c ON pool.cid = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      annr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM re) WHERE rnk <= 5),
      ${Round6c.recallTailSql}""")),

    // ---- version-audit diff over committed catalog state ---------------
    // q287 diffs two SYNTHETIC snapshots; this row makes the diff a true
    // version audit over COMMITTED state: the documents fixture is
    // loaded into a MemCatalog table, edited with row-level DML (DELETE
    // / UPDATE / INSERT — each commit snapshots a version, q157's
    // machinery), and Diff.snapshotDiff compares `VERSION AS OF 1` (the
    // full seed) against the current table — the "what changed since
    // the last release" report straight off the catalog's own history,
    // no side copies. Oracle replays the deterministic edit pattern on
    // the fixture (q287's oracle shape). Scale shape: one full-outer
    // hash join; with snapshots storage-partitioned by the key it is
    // zero-shuffle (pinned by StoragePartitionedJoinSpec's plan test).
    "q296_etl_version_diff" -> QueryDef(
      (s, dir) => {
        val d = t(s, dir, "documents")
        // Side effects are NAMESPACED PER INVOCATION (table + seed view
        // carry a process-unique suffix): the DML sequence runs eagerly
        // at call time, so two interleaved invocations sharing one name
        // would race — each invocation now commits against its own
        // version history and the returned frame reads only that
        // history (Q296InterleaveSpec proves two interleaved calls
        // return identical results).
        val inv = q296Invocations.incrementAndGet()
        val tbl = s"graftmem.doc_versions_$inv"
        val seed = s"q296_seed_$inv"
        MemCatalog.recreate(s, s"doc_versions_$inv",
          "(doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT)")
        d.select(col("doc_id"), col("text"), col("lang"),
            col("n_chars").cast("long").as("n_chars"))
          .createOrReplaceTempView(seed)
        s.sql(s"INSERT INTO $tbl SELECT * FROM $seed")                     // v1
        s.sql(s"DELETE FROM $tbl WHERE doc_id % 10 = 3")                   // v2
        s.sql(s"""UPDATE $tbl SET text = text || 'X'
          WHERE doc_id % 10 = 7""")                                        // v3
        s.sql(s"""INSERT INTO $tbl
          SELECT doc_id + 1000000, text, lang, n_chars FROM $seed
          WHERE doc_id % 100 = 1""")                                       // v4
        val diff = graft.operators.Diff.snapshotDiff(
            s.sql(s"SELECT * FROM $tbl VERSION AS OF 1"),
            s.table(tbl),
            keys = Seq("doc_id"), compare = Seq("text", "lang", "n_chars"))
          .orderBy("doc_id")
        // materialize the (answer-sized) diff, then DROP the invocation's
        // table: the namespacing fixed the interleave race but left one
        // full document copy resident in the driver-side MemCatalog per
        // invocation (clearCache does not free catalog tables — Bench's
        // warm-up + two timed passes held 3 copies, and sweeps grew
        // unboundedly). The returned frame reads flat scratch parquet,
        // so the drop cannot invalidate it.
        Jobs.cut(diff, "q296_diff", {
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          s.catalog.dropTempView(seed)
        }).orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        CASE WHEN doc_id % 10 = 3 THEN 'removed'
             WHEN doc_id % 10 = 7 THEN 'changed'
             ELSE 'same' END AS status
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, 'added' AS status
      FROM documents WHERE doc_id % 100 = 1
      ORDER BY doc_id""")),

    // ---- streaming near-dup ingest, dedup-first (q265's scale twin) ----
    // q265 scores every probe COPY against every corpus COPY — the
    // streaming pair class whose 100× probe was excluded by design
    // (duplication multiplies candidate pairs by copies²). This twin
    // completes the dedup-first family on the ingest path: the corpus
    // index holds one rep per bit-identical (lang, text) payload, each
    // micro-batch groups ITS payloads before shingling, rep pairs are
    // scored once, and the expansion through both groups happens inside
    // foreachBatch — SAME oracle as q265, zero stateful streaming
    // operators, unique-payload work replication-invariant (the
    // candidate join no longer sees copies at all; only the answer-
    // sized expansion does).
    "q297_stream_neardup_dedup" -> QueryDef(
      (s, dir) => {
        val cgrp = t(s, dir, "documents").filter(Slots.Probe.out(col("doc_id")))
          .groupBy("lang", "text")
          .agg(min("doc_id").as("rep"), collect_list("doc_id").as("ids"))
          .persist() // two lineage paths: rep index + member expansion
        val idx = Round6b.shingledDocs(
          cgrp.select(col("rep").as("doc_id"), col("lang"), col("text")),
          "pb", "nb").persist()
        val cmem = cgrp.select(col("rep").as("pb"), explode(col("ids")).as("db"))
        MemCatalog.recreate(s, "neardup_alerts_dd",
          "(da BIGINT, db BIGINT, jaccard DOUBLE)")
        val probe = EventStreams.fixtureStream(s, dir, "documents")
          .filter(Slots.Probe.in(col("doc_id")))
        EventTime.withShufflePartitions(s, 8) {
          EventStreams.drain(probe) { (batch, _) =>
            EventStreams.insertNew(scoreNearDupBatchDeduped(batch, idx, cmem),
              "neardup_alerts_dd", "da", "db")
          }
        }
        idx.unpersist(); cgrp.unpersist()
        s.sql("SELECT da, db, jaccard FROM graftmem.neardup_alerts_dd ORDER BY da, db")
      },
      Round6b.defs("q265_stream_neardup").oracle),

    // ---- streaming semantic dedup, dedup-first (q291's scale twin) -----
    // Same cure for q291's inherited cell-size hazard (the verdict's
    // "copies² per cell" note): corpus cells hold one rep per
    // bit-identical embedding, each micro-batch groups its vectors
    // before the quantizer runs, rep pairs are scored cell-bucketed,
    // and both groups expand inside foreachBatch. Identical vectors
    // share assignment and cosine by value-determinism, so the SAME
    // oracle scores it; with this twin the whole ingest family matches
    // the batch family's dedup-first coverage.
    "q298_stream_semdedup_dedup" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        graft.plans.NativeExpressions.register(s)
        val cents = broadcast(emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid")))
        val cgrp = emb.filter(Slots.Probe.out)
          .select(col("vec_id").as("db"), col("embedding").as("eb"))
          .groupBy("eb")
          .agg(min("db").as("rep"), collect_list("db").as("ids"))
          .persist() // two lineage paths: rep cells + member expansion
        val repsAssigned = Similarity.assignToCentroids(
            cgrp.select(col("rep").as("pb"), col("eb")), "pb", "eb", cents)
          .withColumn("nb", Similarity.norm("eb"))
          .persist()
        val cmem = cgrp.select(col("rep").as("pb"), explode(col("ids")).as("db"))
        MemCatalog.recreate(s, "semdedup_alerts_dd",
          "(da BIGINT, db BIGINT, cos DOUBLE)")
        val probe = EventStreams.fixtureStream(s, dir, "embeddings")
          .filter(Slots.Probe.in)
          .select(col("vec_id").as("da"), col("embedding").as("ea"))
        EventTime.withShufflePartitions(s, 8) {
          EventStreams.drain(probe) { (batch, _) =>
            EventStreams.insertNew(
              scoreSemDedupBatchDeduped(batch, cents, repsAssigned, cmem),
              "semdedup_alerts_dd", "da", "db")
          }
        }
        repsAssigned.unpersist(); cgrp.unpersist()
        s.sql("SELECT da, db, cos FROM graftmem.semdedup_alerts_dd ORDER BY da, db")
      },
      Round7.defs("q291_stream_semdedup").oracle),

    // ---- advisor-driven end-to-end curation (measure→advise→build→score)
    // q200's curation chain with the near-dup stage's index configured
    // BY IndexAdvisor from measured stats, as ONE scored query: quality
    // gate → 1-row corpus stats on the gated docs' embeddings (vec_id =
    // doc_id, the q252 fixture convention) → advise picks nlist (and
    // the dedup-first flag) → semantic near-dup removal over the
    // advised IVF cells (same-cell pairs, cos ≥ 0.35, drop the higher
    // id — the q264 cluster-bucketed shape with the advisor's cell
    // count) → q200's per-source token budget on the survivors.
    // The dedup-first branch prunes to bit-identical-embedding reps
    // before pairing; it is RESULT-identical to direct pairing because
    // a non-rep copy is always dropped by its own rep (same cell,
    // cos = 1.0, smaller id) and a rep pair exists iff the direct pair
    // does (identical vectors share cells and cosines) — so ONE direct
    // oracle scores both branches, no conditional SQL. At 100 TB the
    // chain is: one gate scan, one grouping shuffle, a broadcast
    // centroid assignment, per-cell bounded pairing, one window.
    "q299_llm_curation_advised" -> QueryDef(
      (s, dir) => {
        graft.plans.NativeExpressions.register(s)
        val docs = t(s, dir, "documents")
          .filter(length(col("text")) >= 40 &&
            size(split(col("text"), " ")) >= 8)
        val corpus = docs.select(col("doc_id"), col("source"), col("text"))
          .join(t(s, dir, "embeddings")
            .select(col("vec_id").as("doc_id"), col("embedding")),
            Seq("doc_id"))
          .persist() // stats + centroids + assignment + survivors paths
        val st = corpus.agg(count(lit(1)).as("n"),
          countDistinct(col("embedding")).as("nu")).head()
        val n = st.getLong(0)
        val nu = st.getLong(1)
        val dupRate = if (n == 0L) 0.0 else 1.0 - nu.toDouble / n
        val adv = IndexAdvisor.advise(n, dim = 64, dupRate,
          targetRecall = 0.8, candidateBudget = math.max(1L, (nu + 1L) / 2L))
        require(adv.family == "ivf",
          s"advisor picked ${adv.family}: fixture degenerated to nu < 2")
        val nlist = adv.params("nlist").toInt
        val cents = broadcast(corpus.orderBy("doc_id").limit(nlist)
          .select(col("doc_id").as("centroid_id"), col("embedding").as("centroid")))
        // persist: read by both base (dedup-first pruning) and kept
        val grp = corpus.groupBy("embedding").agg(min("doc_id").as("rep"))
          .persist()
        val base =
          if (!adv.dedupFirst) corpus.select(col("doc_id"), col("embedding"))
          else corpus.join(grp.select(col("rep")),
            corpus("doc_id") === col("rep")).select(col("doc_id"), col("embedding"))
        // persist: the self-join reads this frame twice (a + b sides),
        // and it is the corpus-sized crossJoin+window stage (CLAUDE.md)
        val assigned = Similarity.assignToCentroids(
            base, "doc_id", "embedding", cents)
          .select(col("doc_id"), col("centroid_id"),
            col("embedding").as("e"),
            Similarity.norm("embedding").as("nm"))
          .persist()
        val a = assigned.select(col("centroid_id"), col("doc_id").as("da"),
          col("e").as("ea"), col("nm").as("na"))
        val b = assigned.select(col("centroid_id"), col("doc_id").as("db"),
          col("e").as("eb"), col("nm").as("nb"))
        val dropped = a.join(b, Seq("centroid_id"))
          .filter(col("da") < col("db"))
          .filter(Similarity.cos("ea", "eb", col("na"), col("nb")) >= 0.35)
          .select(col("db").as("doc_id")).distinct()
        val kept =
          if (!adv.dedupFirst) corpus
          else corpus.join(grp.select(col("rep")),
            corpus("doc_id") === col("rep")).drop("rep")
        val survivors = kept.join(dropped, Seq("doc_id"), "left_anti")
        val nTok = size(split(col("text"), " ")).cast("long")
        val ws = Window.partitionBy("source").orderBy(
          Slots.of(col("doc_id"), 1000000L), col("doc_id"))
        survivors
          .select(col("source"), col("doc_id"), nTok.as("n_tok"))
          .withColumn("cum_tok", sum("n_tok").over(
            ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("cum_tok") <= 2000L)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tok").cast("long").as("n_tok"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("source")
      },
      Some(s"""WITH q AS (SELECT d.doc_id, d.source, d.text, e.embedding
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        WHERE length(d.text) >= 40 AND len(string_split(d.text, ' ')) >= 8),
      st AS (SELECT COUNT(*) AS n, COUNT(DISTINCT embedding) AS nu FROM q),
      p2t AS (SELECT CAST(power(2, x.x) AS BIGINT) AS p
        FROM (SELECT unnest(range(0, 40)) AS x) x),
      nl AS (SELECT CASE WHEN l / lower < (lower * 2) / l
                         THEN lower ELSE lower * 2 END AS nlist FROM
        (SELECT GREATEST(1.0, sqrt(CAST(nu AS DOUBLE))) AS l,
           (SELECT MAX(p) FROM p2t WHERE p <= CAST(FLOOR(
              GREATEST(1.0, sqrt(CAST(nu AS DOUBLE)))) AS BIGINT)) AS lower
         FROM st)),
      cent AS (SELECT doc_id AS centroid_id, embedding AS centroid FROM (
          SELECT doc_id, embedding, row_number() OVER (ORDER BY doc_id) AS rn
          FROM q) WHERE rn <= (SELECT nlist FROM nl)),
      a0 AS (SELECT q.doc_id, c.centroid_id,
          round(SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM q, cent c, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
      asg AS (SELECT doc_id, centroid_id FROM (SELECT doc_id, centroid_id,
          row_number() OVER (PARTITION BY doc_id ORDER BY d DESC, centroid_id) AS r
        FROM a0) WHERE r = 1),
      prs AS (SELECT a.doc_id AS da, b.doc_id AS db
        FROM asg a JOIN asg b
        ON a.centroid_id = b.centroid_id AND a.doc_id < b.doc_id),
      cs AS (SELECT prs.da, prs.db, ${Round6c.cosSql("x", "y")} AS cos
        FROM prs JOIN embeddings x ON prs.da = x.vec_id
        JOIN embeddings y ON prs.db = y.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      drop0 AS (SELECT DISTINCT db AS doc_id FROM cs WHERE cos >= 0.35),
      sv AS (SELECT source, doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM q WHERE doc_id NOT IN (SELECT doc_id FROM drop0)),
      c AS (SELECT source, doc_id, n_tok,
          SUM(n_tok) OVER (PARTITION BY source
            ORDER BY ${Slots.sql("doc_id", 1000000)}, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        FROM sv)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tok,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM c WHERE cum_tok <= 2000 GROUP BY source ORDER BY source""")),

    // ---- IVF × Matryoshka two-stage (both serving-cost axes composed) --
    // The index-quality table separates two cost levers: scan FEWER
    // candidates (IVF cells, q279) and score CHEAPER candidates
    // (truncated prefix, q295). This row composes them — the standard
    // production serving stack: the production IVF config (nlist=16,
    // nprobe=8) runs entirely on the 32-dim prefix (centroids sliced
    // too: assignment, cell join, and stage-1 ranking all at half the
    // FLOPs and memory bandwidth), keeps a top-m pool per query
    // (m = max(100, n/10)), and re-ranks only the pool at full
    // dimension. Both pruning effects stack, so each knob widens a
    // notch over its solo row (nprobe 8→10, m = max(100, 3n/20) vs
    // n/10 — swept): measured recall@5 0.836 (sf0.01) / 0.852 (sf0.1)
    // at ~(10/16)·0.5 + 3/20 ≈ 0.46× the full-dim exact scan's FLOPs
    // per query — vs 0.844 at ~0.5× for IVF alone and 0.892 at 0.6×
    // for truncation alone: strictly cheaper than either solo row at
    // comparable recall. Scale shape: q279's topology with the sliced
    // vectors, then q295's m-bounded rerank joins.
    "q300_llm_ann_ivf_matryoshka" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) => {
        val m = math.max(100L, 3L * corpus.count() / 20L).toInt
        val pool = Similarity.ivfTopKProbe(
            qs.select(col("qid"), expr("slice(qe, 1, 32)").as("qe")),
            corpus.select(col("cid"), expr("slice(ce, 1, 32)").as("ce")),
            k = m, nlist = 16, nprobe = 10)
          .select("qid", "cid")
        Similarity.topKByCos(Similarity.exactCos(pool, qs, corpus), 5)
          .select("qid", "cid")
      }),
      Some(s"""${Round6c.exactRecallCte},
      qt AS (SELECT id, list_transform(range(1, 33), d -> e[d]) AS e FROM q2),
      ct AS (SELECT id, list_transform(range(1, 33), d -> e[d]) AS e FROM c2),
      cent AS (SELECT id AS centroid_id, e AS centroid FROM ct WHERE id < 16),
      qa0 AS (SELECT q.id, c.centroid_id,
          round(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM qt q, cent c, (SELECT unnest(range(1, 33)) AS i) i GROUP BY 1, 2),
      qa AS (SELECT id, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM qa0) WHERE r <= 10),
      ca0 AS (SELECT b.id, c.centroid_id,
          round(SUM(CAST(b.e[i.i] AS DOUBLE) * CAST(c.centroid[i.i] AS DOUBLE)), 6) AS d
        FROM ct b, cent c, (SELECT unnest(range(1, 33)) AS i) i GROUP BY 1, 2),
      ca AS (SELECT id, centroid_id FROM (SELECT id, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY d DESC, centroid_id) AS r
        FROM ca0) WHERE r = 1),
      tsc AS (SELECT qa.id AS qid, ca.id AS cid,
          round(SUM(CAST(x.e[i.i] AS DOUBLE) * CAST(y.e[i.i] AS DOUBLE)) /
            (sqrt(SUM(CAST(x.e[i.i] AS DOUBLE) * CAST(x.e[i.i] AS DOUBLE))) *
             sqrt(SUM(CAST(y.e[i.i] AS DOUBLE) * CAST(y.e[i.i] AS DOUBLE)))), 6) AS tcos
        FROM qa JOIN ca ON qa.centroid_id = ca.centroid_id AND qa.id <> ca.id
        JOIN qt x ON qa.id = x.id
        JOIN ct y ON ca.id = y.id,
        (SELECT unnest(range(1, 33)) AS i) i
        GROUP BY 1, 2),
      pool AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY tcos DESC, cid) AS rnk
        FROM tsc) WHERE rnk <= (SELECT GREATEST(100, COUNT(*) * 3 // 20)
                                FROM embeddings)),
      re AS (SELECT pool.qid, pool.cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM pool
        JOIN embeddings q ON pool.qid = q.vec_id
        JOIN embeddings c ON pool.cid = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      annr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM re) WHERE rnk <= 5),
      ${Round6c.recallTailSql}""")),

    // ---- advisor-driven graph-beam (the advisor's OTHER branch) --------
    // q294/q299 execute the advisor's IVF branch; this row executes its
    // ESCAPE HATCH: with a 64-cosine-per-query serving budget the
    // >=0.8-ratio IVF scan (nu/2 candidates) blows the budget and
    // `advise` switches to graph-beam, whose candidate count
    // (beam·(d+1)·rounds) is corpus-size-INDEPENDENT — proving the
    // family branching is wired, not just one arm. The advised params
    // (d=4, beam=8, rounds=3) drive the q255/q258 machinery: the
    // dedup-first edge build (lshKnnEdgesDeduped — the advice's
    // dedupFirst flag satisfied by construction on dup-heavy fixtures,
    // property-tested edge-identical to the direct build) + beam search
    // from the fixed min-id entry, through the UNCHANGED recall
    // harness. Measured recall@5: **0.008 / 0.016** — the q293-class
    // honest negative, exactly oracled: three hops of a degree-4 graph
    // from ONE fixed entry reach ≤ ~120 candidates of an ISOTROPIC
    // corpus with no navigable small-world structure, so the walk
    // cannot hill-climb to the true neighbors. The lesson the row
    // pins: the escape hatch's per-query cost is corpus-size-
    // independent, but serving it requires a NAVIGABLE graph (layered
    // entries, higher degree, long-range links — the HNSW recipe);
    // measure through this harness before trusting any graph-ANN
    // config, exactly as q293 said for truncation.
    "q301_llm_ann_beam_advised" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) => {
        val st = corpus.agg(count(lit(1)).as("n"),
          countDistinct(col("ce")).as("nu")).head()
        val n = st.getLong(0)
        val nu = st.getLong(1)
        val dupRate = if (n == 0L) 0.0 else 1.0 - nu.toDouble / n
        val adv = IndexAdvisor.advise(n, dim = 64, dupRate,
          targetRecall = 0.8, candidateBudget = 64L)
        require(adv.family == "graph-beam",
          s"advisor picked ${adv.family}: a 64-cosine budget must " +
            "resolve to the corpus-size-independent family")
        // the graph build is a fixture-keyed artifact (built once per
        // harness run, label pins the dials) — each beam round then
        // plans against a flat parquet scan, never the build tree
        val edges = Round9.lshKnnArtifact(s, dir, corpus,
          adv.params("d").toInt)
        Similarity.beamTopK(qs, corpus, edges, k = 5,
          beam = adv.params("beam").toInt,
          rounds = adv.params("rounds").toInt)
      }),
      Some(s"""${Round6c.exactRecallCte},
      ${stitchedEdgesSql(d = 4, nPlanes = 6, nTables = 1)},
      ent AS (SELECT MIN(vec_id) AS cid FROM embeddings),
      bent AS (SELECT q2.id AS qid, ent.cid FROM q2 CROSS JOIN ent),
      ${Round11.beamAdcP(rounds = 3, beam = 8, p = "b", edge = "e",
        entry = "bent", psc = "ex0")},
      annr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM bs3) WHERE rnk <= 5),
      ${Round6c.recallTailSql}""")),

    // ---- centroid-seeded beam (the q301 fix: make the walk START near
    // the query) ---------------------------------------------------------
    // q301 measured the fixed-entry beam at 0.008/0.016 recall@5 and
    // diagnosed WHY: a 3-hop degree-4 walk from one arbitrary entry
    // cannot navigate an isotropic corpus. This row changes ONE
    // variable — the entry points: each query seeds its beam from its 2
    // nearest of the 16 IVF centroids (16 extra dots/query, the HNSW
    // upper-layer idea expressed with the quantizer the engine already
    // has), with the SAME graph, SAME advised beam/rounds, SAME
    // harness. The recall delta vs q301 isolates the navigability-of-
    // entry effect the way q295 isolated pool size; per-query cost
    // stays corpus-size-independent (+nlist dots). Exactly oracled —
    // the entry CTE is the q279 quantizer replay, the rounds are the
    // shared beam chain.
    "q302_llm_ann_beam_seeded" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) => {
        val cents = broadcast(corpus.orderBy("cid").limit(16)
          .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
        val entries = Similarity.centroidEntries(qs, cents)
        val edges = Round9.lshKnnArtifact(s, dir, corpus, 4)
        Similarity.beamTopKFrom(qs, corpus, edges, entries, k = 5,
          beam = 8, rounds = 3)
      }),
      Some(s"""${Round6c.exactRecallCte},
      ${stitchedEdgesSql(d = 4, nPlanes = 6, nTables = 1)},
      ${Round11.graphEntrySql("")},
      ${Round11.beamAdcP(rounds = 3, beam = 8, p = "b", edge = "e",
        entry = "bent", psc = "ex0")},
      annr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM bs3) WHERE rnk <= 5),
      ${Round6c.recallTailSql}""")),

    // ---- multi-table-stitched graph beam (the CONNECTIVITY fix) --------
    // q302 fixed the entries and still saturated: sweeping degree 8→32,
    // beam 16, rounds 4 all measured recall flat at 0.068, which
    // diagnoses the real defect — a single-table LSH-kNN graph is
    // DISCONNECTED by construction (an edge never crosses a bucket
    // boundary: ≤ 2^6 components), so the walk is trapped in its
    // entries' components no matter how it searches. This row fixes
    // CONNECTIVITY: edges stitched across 4 independent LSH tables
    // (lshKnnEdgesMultiTable — the q280 OR-construction applied to the
    // graph build; degree ≤ 16, per-table build still bucket-bounded),
    // same centroid-seeded entries, same advised beam/rounds. The
    // q301→q302→q303 recall ladder isolates one variable per row:
    // entry placement ×~4, connectivity the rest of the way — the
    // measured decomposition of WHY HNSW-class graphs work. Exactly
    // oracled (per-table edge CTEs + the shared beam chain).
    "q303_llm_ann_beam_stitched" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) => {
        val cents = broadcast(corpus.orderBy("cid").limit(16)
          .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
        val entries = Similarity.centroidEntries(qs, cents)
        val edges = Round9.stitchedArtifact(s, dir, corpus, "")
        Similarity.beamTopKFrom(qs, corpus, edges, entries, k = 5,
          beam = 8, rounds = 3)
      }),
      Some(s"""${Round6c.exactRecallCte},
      ${stitchedEdgesSql(d = 4, nPlanes = 6, nTables = 4)},
      ${Round11.graphEntrySql("")},
      ${Round11.beamAdcP(rounds = 3, beam = 8, p = "b", edge = "e",
        entry = "bent", psc = "ex0")},
      annr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM bs3) WHERE rnk <= 5),
      ${Round6c.recallTailSql}"""))
  )
}
