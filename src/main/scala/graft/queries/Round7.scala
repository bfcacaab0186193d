package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.{Ranks, Similarity}
import graft.sources.{MemCatalog, Tables}
import graft.streaming.EventStreams
import graft.util.Slots

/** Round-7 batch: closing the ANN recall gap the round-6 harness
  * measured (best config was IVF nprobe=1 at 0.46 average recall@5 —
  * honest but not production-usable). Two standard recall knobs, both
  * scored through the SAME recall harness (Round6c.recallHarness) so
  * the index-quality table gains directly comparable rows:
  *
  *   - q279: IVF with nprobe = 8 (probe the 8 nearest centroids — the
  *     canonical IVF recall/cost dial). Measured avg recall@5 at sf0.1:
  *     **0.844** (vs 0.46 at nprobe=1), at ~nprobe/nlist of the corpus
  *     scanned per query.
  *   - q280: multi-table LSH (L = 8 independent 4-plane tables, the
  *     OR-construction). Measured avg recall@5 at sf0.1: **0.728** (vs
  *     0.08 for one 6-plane table) — the comparison row showing WHY the
  *     IVF family wins on this corpus.
  *
  * Determinism per SURVEY.md §2.3: every ranking on rounded (6dp)
  * cosines/dots with id tie-breaks; bucket sign bits on the HOF fold
  * that DuckDB's list_reduce replays exactly (the q47 recipe).
  */
object Round7 {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  /** Shared oracle of q286/q288 — the leakage-free split ground truth
    * (per-doc component over the >= 0.5 Jaccard graph, Lehmer split
    * draw); declared BEFORE `defs` (object-init order, CLAUDE.md). */
  private val leakfreeSplitOracle: String = LlmOps.componentsClosureCte + """,
      cc AS (SELECT a AS doc_id, least(a, MIN(b)) AS comp FROM r GROUP BY a),
      d2 AS (SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS grp
        FROM documents d LEFT JOIN cc USING (doc_id))
      SELECT doc_id, grp,
        CASE WHEN (grp % 2147483647) * 48271 % 2147483647 % 100 < 10 THEN 'test'
             WHEN (grp % 2147483647) * 48271 % 2147483647 % 100 < 20 THEN 'val'
             ELSE 'train' END AS split
      FROM d2 ORDER BY doc_id"""

  val defs: Map[String, QueryDef] = Map(

    // ---- IVF multi-probe recall@5 (the recall fix q278 demanded) -------
    // Round 6's index-quality table (q275/q276/q278) measured the best
    // config — IVF nlist=16, nprobe=1 — at 0.46 average recall@5: the
    // monitoring loop's verdict was "not production-usable". This query
    // is the fix, through the SAME harness: probe the 8 nearest
    // centroids per query (the standard IVF dial; candidates stay
    // dedup-free because corpus buckets are disjoint). Measured at
    // sf0.1: avg recall@5 = 0.844 — the evaluate-then-fix cycle closed
    // at production quality. Scale shape identical to q278: bounded
    // query set, centroid table broadcast, one corpus-sized exact pass
    // (the measurement's own cost), candidate work ~nprobe/nlist of the
    // corpus per query, k-bounded joins.
    "q279_llm_ann_ivf_probe" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) =>
        graft.operators.Similarity.ivfTopKProbe(qs, corpus, k = 5,
          nlist = 16, nprobe = 8)),
      Some(s"""${Round6c.exactRecallCte},
      cent AS (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM embeddings WHERE vec_id < 16),
      qa0 AS (${Round6c.dotScoreSql("q.id", "q.e", "q2 q", "cent")}),
      qa AS (${Round6c.dotRankSql("id, centroid_id", "id", "qa0", "8")}),
      ca0 AS (${Round6c.dotScoreSql("q.id", "q.e", "c2 q", "cent")}),
      ca AS (${Round6c.dotRankSql("id, centroid_id", "id", "ca0", "1")}),
      scored AS (SELECT qa.id AS qid, ca.id AS cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM qa JOIN ca ON qa.centroid_id = ca.centroid_id AND qa.id <> ca.id
        JOIN embeddings q ON qa.id = q.vec_id
        JOIN embeddings c ON ca.id = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      annr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM scored) WHERE rnk <= 5),
      ${Round6c.recallTailSql}""")),

    // ---- multi-table LSH recall@5 (the L-table OR-construction) --------
    // The other standard LSH recall knob next to q276's multi-probe:
    // L = 8 INDEPENDENT 4-plane tables (seeds 42..49; table 0 of the
    // 6-plane family is exactly q275's index) and the union of
    // same-bucket candidates across tables, deduped on (qid, cid)
    // BEFORE any cosine is computed. Recall compounds as 1-(1-p)^L:
    // measured at sf0.1 avg recall@5 = 0.728 vs 0.08 single-table —
    // and the side-by-side with q279 (IVF nprobe=8, 0.844) is what an
    // operator tunes from. Scale shape: the corpus is bucketed L times
    // (L narrow (key, id) index rows per vector — the multi-table
    // index build), candidate dedup is one hash shuffle, scoring joins
    // the broadcast query set + one hash join on cid.
    "q280_llm_ann_multitable" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) =>
        graft.operators.Similarity.lshMultiTableTopK(qs, corpus, k = 5,
          nPlanes = 4, dim = 64, nTables = 8)),
      Some({
        val qtb = (0 until 8).map { t =>
          s"""SELECT id, ${Round6c.bucketSql(Similarity.hyperplanes(4, 64, 42L + t))} + ${t * 16} AS tb
            FROM q2"""
        }.mkString(" UNION ALL ")
        val ctb = (0 until 8).map { t =>
          s"""SELECT id, ${Round6c.bucketSql(Similarity.hyperplanes(4, 64, 42L + t))} + ${t * 16} AS tb
            FROM c2"""
        }.mkString(" UNION ALL ")
        s"""${Round6c.exactRecallCte},
        qtb AS ($qtb),
        ctb AS ($ctb),
        cand AS (SELECT DISTINCT qtb.id AS qid, ctb.id AS cid
          FROM qtb JOIN ctb USING (tb) WHERE qtb.id <> ctb.id),
        scored AS (SELECT cand.qid, cand.cid, ${Round6c.cosSql("q", "c")} AS cos
          FROM cand JOIN embeddings q ON cand.qid = q.vec_id
          JOIN embeddings c ON cand.cid = c.vec_id,
          (SELECT unnest(range(1, 65)) AS i) i
          GROUP BY 1, 2),
        annr AS (SELECT qid, cid FROM (SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
          FROM scored) WHERE rnk <= 5),
        ${Round6c.recallTailSql}"""
      })),

    // ---- Lloyd-refined IVF recall@5 (the quantizer-quality row) --------
    // q77/q278/q279 seed centroids from the first nlist vectors with the
    // scaladoc caveat "a production build would k-means them" — this row
    // makes that claim real and SCORED: one int64-exact Lloyd round (the
    // q225 kernel: floor(x·1e6) coordinates, exact squared distances,
    // floor-mean updates — bit-portable cross-engine) refines the seeds
    // before the same nprobe=8 probe. Measured at sf0.1: 0.852 avg
    // recall@5 — the table's best row — though the honest tuning lesson
    // (OPERATORS.md) is that on THIS corpus recall is dominated by the
    // nprobe/nlist ratio, not quantizer fit (0.844 unrefined): measure
    // before paying for k-means rounds. Scale shape: each Lloyd round =
    // one broadcast-join assignment pass + a (nlist × dim)-sized
    // floor-mean aggregate; everything else is q279's shape.
    "q285_llm_ann_ivf_lloyd" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) =>
        graft.operators.Similarity.ivfLloydTopK(qs, corpus, k = 5,
          nlist = 16, nprobe = 8, rounds = 1)),
      Some(s"""${Round6c.exactRecallCte},
      e AS (${Round6c.quantSql("vec_id", "embedding", "embeddings")}),
      lc0 AS (SELECT vec_id AS ccid, i, x AS c FROM e WHERE vec_id < 16),
      ld1 AS (${Round6c.l2ScoreSql(Seq("e.vec_id", "lc0.ccid"), "x", "c",
        "e JOIN lc0 USING (i)")}),
      la1 AS (${Round6c.l2RankSql("vec_id, ccid", "vec_id", "ccid", "ld1", "1")}),
      lc1 AS (${Round6c.lloydSql("ccid", "i", "x", "e JOIN la1 USING (vec_id)")}),
      ld2 AS (${Round6c.l2ScoreSql(Seq("e.vec_id", "lc1.ccid"), "x", "c",
        "e JOIN lc1 USING (i)")}),
      ca AS (${Round6c.l2RankSql("vec_id, ccid", "vec_id", "ccid", "ld2", "1")}),
      qa AS (${Round6c.l2RankSql("vec_id, ccid", "vec_id", "ccid",
        "ld2 WHERE vec_id < 50", "8")}),
      scored AS (SELECT qa.vec_id AS qid, ca.vec_id AS cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM qa JOIN ca ON qa.ccid = ca.ccid AND qa.vec_id <> ca.vec_id
        JOIN embeddings q ON qa.vec_id = q.vec_id
        JOIN embeddings c ON ca.vec_id = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      annr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM scored) WHERE rnk <= 5),
      ${Round6c.recallTailSql}""")),

    // ---- ANN MRR (the second index-quality number) ---------------------
    // Recall@k says whether the TRUE neighbors appear; MRR says how
    // HIGH the single best one lands — the pair every retrieval
    // deployment tracks together. Per query: the exact top-1 neighbor
    // (brute force, q46 kernel), its rank inside the production
    // config's top-10 (q279: IVF nlist=16 nprobe=8), and the
    // reciprocal rank (1/rank — IEEE-exact for integer ranks; 0 when
    // the true top-1 is missing from the ANN list). Scale shape is the
    // recall harness's: one corpus-sized exact pass on the bounded
    // query sample (the measurement's cost), k-bounded everything else.
    "q289_llm_ann_mrr" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val corpus = emb
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        // exact top-1 = rank-1 of the shared fixture-keyed exact top-5
        // artifact (one corpus-sized build per run, q303-recipe)
        val exact1 = Round6c.exactTop5(s, dir).filter(col("rnk") === 1)
          .select(col("qid"), col("cid").as("true_top1"))
        val ann = graft.operators.Similarity.ivfTopKProbe(qs, corpus,
            k = 10, nlist = 16, nprobe = 8)
          .select(col("qid"), col("cid").as("true_top1"), col("rnk"))
        exact1.join(ann, Seq("qid", "true_top1"), "left")
          .select(col("qid"), col("true_top1"),
            coalesce(col("rnk"), lit(0L)).as("ann_rank"),
            when(col("rnk").isNotNull,
              lit(1.0) / col("rnk").cast("double")).otherwise(lit(0.0)).as("rr"))
          .orderBy("qid")
      },
      Some(s"""${Round6c.exactRecallCte},
      top1 AS (SELECT qid, cid AS true_top1 FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM ex0) WHERE rnk = 1),
      cent AS (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM embeddings WHERE vec_id < 16),
      qa0 AS (${Round6c.dotScoreSql("q.id", "q.e", "q2 q", "cent")}),
      qa AS (${Round6c.dotRankSql("id, centroid_id", "id", "qa0", "8")}),
      ca0 AS (${Round6c.dotScoreSql("q.id", "q.e", "c2 q", "cent")}),
      ca AS (${Round6c.dotRankSql("id, centroid_id", "id", "ca0", "1")}),
      scored AS (SELECT qa.id AS qid, ca.id AS cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM qa JOIN ca ON qa.centroid_id = ca.centroid_id AND qa.id <> ca.id
        JOIN embeddings q ON qa.id = q.vec_id
        JOIN embeddings c ON ca.id = c.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2),
      annr AS (SELECT qid, cid, rnk FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM scored) WHERE rnk <= 10)
      SELECT t.qid, t.true_top1,
        CAST(COALESCE(a.rnk, 0) AS BIGINT) AS ann_rank,
        CASE WHEN a.rnk IS NOT NULL THEN 1.0 / CAST(a.rnk AS DOUBLE)
             ELSE 0.0 END AS rr
      FROM top1 t LEFT JOIN annr a ON t.qid = a.qid AND t.true_top1 = a.cid
      ORDER BY t.qid""")),

    // ---- dimension-truncation recall (Matryoshka serving question) -----
    // The other axis of the index-quality table: instead of scanning
    // fewer candidates (LSH/IVF), score CHEAPER candidates — rank on
    // the first 32 of 64 dimensions (the Matryoshka-representation
    // serving trick: half the memory bandwidth and FLOPs per
    // comparison) and measure recall@5 against the full-dimension
    // exact ranking through the SAME harness. Deterministic slice +
    // the q46 kernel; the truncated side is still a full corpus scan,
    // so this row isolates the DIMENSION effect from the candidate-
    // pruning effect the other rows measure. Scale shape = q46's.
    "q293_llm_ann_matryoshka" -> QueryDef(
      (s, dir) => Round6c.recallHarness(s, dir, (qs, corpus) =>
        graft.operators.Similarity.cosineTopK(
          qs.select(col("qid"), expr("slice(qe, 1, 32)").as("qe")),
          corpus.select(col("cid"), expr("slice(ce, 1, 32)").as("ce")),
          k = 5)),
      Some(s"""${Round6c.exactRecallCte},
      scored AS (SELECT q2.id AS qid, c2.id AS cid, ${Round6c.cosSql("q", "c")} AS cos
        FROM q2 JOIN c2 ON q2.id <> c2.id
        JOIN embeddings q ON q2.id = q.vec_id
        JOIN embeddings c ON c2.id = c.vec_id,
        (SELECT unnest(range(1, 33)) AS i) i
        GROUP BY 1, 2),
      annr AS (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM scored) WHERE rnk <= 5),
      ${Round6c.recallTailSql}""")),

    // ---- skew-robust ranking windows (q21's hybrid twin, SAME oracle) --
    // The round-6 skew probe named windows-over-hot-keys the one class
    // AQE cannot mitigate (a window partition is indivisible); q259
    // covered running sums — this extends the two-phase bin/offset
    // scheme to row_number/rank/dense_rank (Ranks.rankedBinned). Tie
    // groups never span bins (equal leading keys share a range bin), so
    // local ranks + bounded per-(part,bin) spine offsets compose
    // EXACTLY — scored against q21's unmodified oracle. The threshold
    // here (20 rows) deliberately sends part of the fixture down EACH
    // path so the union of both is what the oracle checks; production
    // uses ~1e6 (only keys too big for one task pay the binning).
    "q281_win_rank_binned" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        Ranks.rankedBinned(o, "o_custkey", "-o_totalprice",
            Seq(col("o_totalprice").desc, col("o_orderkey")),
            bins = 16, hotThreshold = 20L)
          .filter(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      },
      Relational.defs("q21_win_rank").oracle),

    // ---- skew-robust lag/lead (q22's hybrid twin, SAME oracle) ---------
    // The analytic member of the family: hot keys bin by the leading
    // order key, every row reads its neighbor inside its own (part,
    // bin) window except bin-boundary rows, which patch from a bounded
    // per-bin first/last-row spine (previous/next NON-EMPTY bin via
    // lag/lead over the spine itself). Nulls at true partition edges
    // fall out naturally (the spine lag is null at the first bin).
    // Scored against q22's unmodified oracle with a both-paths
    // threshold, like q281.
    "q282_win_lag_binned" -> QueryDef(
      (s, dir) => {
        val e = graft.sources.Events.load(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("sec"))
        Ranks.lagLeadBinned(e, "user_id", "sec",
            Seq(col("sec"), col("event_id")),
            Seq("event_type", "sec", "event_id"),
            bins = 16, hotThreshold = 60L)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("lag_event_type").as("prev_type"),
            (col("sec") - col("lag_sec")).as("gap_sec"),
            col("lead_event_id").as("next_id"))
          .orderBy("event_id")
      },
      Relational.defs("q22_win_lag_lead").oracle),

    // ---- distributed global ntile (q25's twin, SAME oracle) ------------
    // q25's own comment concedes its plan: a GLOBAL ntile is a
    // data-sized single-partition sort. This twin computes the same
    // tiles with Ranks.ntileBinned over a constant partition key forced
    // down the binned path (the global window IS the degenerate hot
    // key): range-bin by the order key, local row_number per bin +
    // bounded spine offsets, then ntile as a pure (rn, count)
    // expression replaying Spark's uneven-bucket rule — no task ever
    // sorts more than one range bin. PlanGuard's single-partition-
    // exchange guard is the reason this shape exists.
    "q283_win_ntile_binned" -> QueryDef(
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal"), lit(0).as("g"))
        Ranks.ntileBinned(c, "g", "-c_acctbal",
            Seq(col("c_acctbal").desc, col("c_custkey")), n = 4,
            bins = 32, hotThreshold = 1L)
          .select(col("c_custkey"), col("c_acctbal"), col("tile"))
          .orderBy("c_custkey")
      },
      Relational.defs("q25_win_ntile").oracle),

    // ---- end-to-end incremental pipeline (B1 staleness × B5 sync × -----
    // ---- idempotent MERGE), scored ------------------------------------
    // The production incremental-ETL composition the orchestration
    // layer exists for, as ONE scored query: the events fixture arrives
    // as two append-only ingest files; a PipelineRunner graph (sync →
    // summary) runs THREE times. Run 1 processes file 1 (checkpointed
    // AvailableNow file stream → per-batch latest-per-user → the q223
    // monotonic-guard MERGE, ordered by EVENT TIME so batch boundaries
    // can't matter); run 2 is triggered by the ingest dir's changed
    // content FINGERPRINT (de-clocked staleness — no mtime, no sleeps)
    // and — the incremental claim, ASSERTED in the declared semantics —
    // its stream reads EXACTLY the second file's rows (the checkpoint
    // tracks processed files); run 3 finds nothing stale and
    // skips every job. The final summary target is bit-identical to the
    // one-shot batch answer: scored against q223's unmodified oracle.
    // At 100 TB this is the difference between touching one day's files
    // and rescanning the lake — with the same code path promotable to a
    // continuous stream by swapping the trigger.
    "q284_etl_incremental_pipeline" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val root = graft.util.Scratch.dir("q284")
        val ingest = new java.io.File(root, "ingest")
        ingest.mkdirs()
        MemCatalog.recreate(s, "user_latest_inc",
          "(user_id BIGINT, last_sec BIGINT, last_eid BIGINT, last_type STRING)")
        val ev = graft.sources.Events.load(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"), col("sec"))
        // append-mode writes keep ingest/_SUCCESS present (the commit
        // marker fingerprint staleness requires) and each landing adds
        // a part file — changing the dep's content fingerprint; the
        // file stream ignores _-prefixed files and sees only part files
        def landSlice(m: Int): Long = {
          val slice = ev.filter(pmod(col("event_id"), lit(2)) === m)
          slice.coalesce(1).write.mode("append").parquet(ingest.toString)
          slice.count()
        }
        var lastSyncRows = -1L
        def sync(ss: SparkSession): Unit = {
          val src = ss.readStream.schema(ev.schema).parquet(ingest.toString)
          val q = EventStreams.drain(src, checkpoint = Some(s"$root/cp")) {
            (b, _) =>
              val w = Window.partitionBy("user_id")
                .orderBy(col("sec").desc, col("event_id").desc)
              b.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
                .createOrReplaceTempView("q284_batch")
              b.sparkSession.sql(
                """MERGE INTO graftmem.user_latest_inc t USING q284_batch b
                  ON t.user_id = b.user_id
                  WHEN MATCHED AND (b.sec > t.last_sec OR
                      (b.sec = t.last_sec AND b.event_id > t.last_eid))
                    THEN UPDATE SET last_sec = b.sec, last_eid = b.event_id,
                      last_type = b.event_type
                  WHEN NOT MATCHED THEN INSERT (user_id, last_sec, last_eid, last_type)
                    VALUES (b.user_id, b.sec, b.event_id, b.event_type)""")
              ()
          }
          lastSyncRows = q.recentProgress.map(_.numInputRows).sum
        }
        val jobs = Seq(
          graft.pipeline.PipelineJob("sync", "sync_marker", Seq("ingest"))(
            (ss, _) => { sync(ss); ss.range(1).toDF("ok") }),
          graft.pipeline.PipelineJob("summary", "summary", Seq("sync_marker"))(
            (ss, _) => ss.sql(
              "SELECT user_id, last_sec, last_type FROM graftmem.user_latest_inc")))
        val runner = new graft.pipeline.PipelineRunner(s, root)
        landSlice(0)
        val r1 = runner.run(jobs)
        require(r1.ran.toSet == Set("sync", "summary"),
          s"run 1 must build everything, ran=${r1.ran}")
        val n1 = landSlice(1)
        val r2 = runner.run(jobs)
        require(r2.ran.toSet == Set("sync", "summary"),
          s"run 2 must be triggered by the new ingest file, ran=${r2.ran}")
        require(lastSyncRows == n1,
          s"incremental sync must read ONLY the new file: read $lastSyncRows rows, file 2 has $n1")
        val r3 = runner.run(jobs)
        require(r3.ran.isEmpty, s"run 3 must skip everything, ran=${r3.ran}")
        s.read.parquet(s"$root/summary").orderBy("user_id")
      },
      Round5.defs("q223_stream_merge_upsert").oracle),

    // ---- leakage-free train/val/test split (near-dup-cluster-aware) ----
    // The reason dedup GROUPS exist in a training pipeline: a plain
    // random split leaks near-duplicates across train and eval (the
    // benchmark-contamination failure mode, in-corpus). This op splits
    // at the GROUP level: q76's connected components over the ≥ 0.5
    // Jaccard pair graph (singletons = their own group), then a
    // deterministic seedless Lehmer hash of the group id draws the
    // split — every member of a near-dup cluster lands in the same
    // split BY CONSTRUCTION (a spec test joins the pair graph against
    // the assignment and asserts zero split-crossing pairs). Scale
    // shape: the pair graph + CC are the q76/q91 machinery (band
    // equi-joins, O(log n) star rounds available); the split draw is
    // one per-row expression; ~80/10/10 in expectation, exact fractions
    // data-dependent (hash, not quota — quota-exact mixtures are q155's
    // family).
    "q286_llm_leakfree_split" -> QueryDef(
      (s, dir) => {
        val comps = graft.operators.Dedup
          .components(LlmOps.jaccardPairsShared(s, dir))
          .select(col("id").as("doc_id"), col("comp"))
        t(s, dir, "documents")
          .join(comps, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), col("doc_id")).as("grp"))
          .withColumn("pct",
            expr("(grp % 2147483647) * 48271 % 2147483647 % 100"))
          .select(col("doc_id"), col("grp"),
            when(col("pct") < 10, lit("test"))
              .when(col("pct") < 20, lit("val"))
              .otherwise(lit("train")).as("split"))
          .orderBy("doc_id")
      },
      Some(leakfreeSplitOracle)),

    // ---- leakage-free split, dedup-first (q286's scale twin) -----------
    // q286 computes the pair graph over ALL docs — the pair-CLASS cost
    // (a 100-copies corpus multiplies edges ×10,000, the q177 lesson).
    // This twin groups bit-identical (lang, text) docs first, runs the
    // Jaccard pair graph + O(log n) star CC over REPRESENTATIVES only,
    // and expands components through the duplicate groups.
    // Correctness: a member shares its rep's shingle set and lang, so
    // a cross-group edge exists iff the rep edge does — full-graph
    // components ARE the expanded rep components, and the component
    // minimum is the minimum rep (every doc ≥ its group's rep = min of
    // the group). Unshingleable docs (< 3 words or null text) are NOT
    // grouped — q286 gives them no edges, so each stays its own
    // singleton group here too. SAME oracle as q286; unique-pair CC
    // work is replication-invariant, the expansion is linear in docs.
    "q288_llm_leakfree_split_dedup" -> QueryDef(
      (s, dir) => {
        val d = t(s, dir, "documents")
        // lang.isNotNull: q286's pair join blocks on lang, so null-lang
        // docs get NO edges there (each a singleton). groupBy would
        // treat NULL langs as EQUAL — two identical-text null-lang docs
        // would share a group here but not in q286. Keep them singletons.
        val shingleable = col("text").isNotNull && col("lang").isNotNull &&
          size(split(col("text"), " ")) >= 3
        val g = d.filter(shingleable)
          .groupBy("lang", "text")
          .agg(min("doc_id").as("rep"), collect_list("doc_id").as("ids"))
          .persist()
        val pairs = graft.operators.Dedup.jaccardPairs(
          g.select(col("rep").as("doc_id"), col("lang"), col("text")),
          "doc_id", "text", n = 3, threshold = 0.5, blockCols = Seq("lang"))
        val comps = graft.operators.Dedup.componentsStar(pairs)
          .select(col("id").as("rep"), col("comp"))
        val members = g.join(comps, Seq("rep"), "left")
          .select(explode(col("ids")).as("doc_id"),
            coalesce(col("comp"), col("rep")).as("grp"))
        val singles = d.filter(!shingleable)
          .select(col("doc_id"), col("doc_id").as("grp"))
        members.unionByName(singles)
          .withColumn("pct",
            expr("(grp % 2147483647) * 48271 % 2147483647 % 100"))
          .select(col("doc_id"), col("grp"),
            when(col("pct") < 10, lit("test"))
              .when(col("pct") < 20, lit("val"))
              .otherwise(lit("train")).as("split"))
          .orderBy("doc_id")
      },
      Some(leakfreeSplitOracle)),

    // ---- streaming semantic dedup (embedding near-dup at ingest) -------
    // q265's bounded-state ingest shape applied to EMBEDDINGS: new
    // vectors arrive as a stream, each micro-batch is assigned to its
    // nearest of 16 coarse centroids (broadcast, rounded-dot rank — the
    // q278 quantizer), joined against the standing corpus's IVF cells
    // (cluster-bucketed comparison, the q264 SemDeDup argument: never
    // all-pairs), and cosine ≥ 0.35 alerts (the q264 SemDeDup threshold) MERGE idempotently into an
    // alerts table. ZERO stateful streaming operators — per-batch
    // completeness holds because assignment is row-local and the corpus
    // side is static. Exactly oracled: quantizer, cell join, and
    // rounded cosines all replay in SQL.
    "q291_stream_semdedup" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cents = broadcast(emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid")))
        // shared rank-1 cell assignment (Similarity.assignToCentroids):
        // the same expression every IVF/semdedup caller and the oracles
        // replay — value-determinism depends on there being ONE copy
        def assign(df: DataFrame, id: String, vec: String): DataFrame =
          Similarity.assignToCentroids(df, id, vec, cents)
        graft.plans.NativeExpressions.register(s)
        val corpus = assign(emb.filter(Slots.Probe.out)
            .select(col("vec_id").as("db"), col("embedding").as("eb")), "db", "eb")
          .withColumn("nb", Similarity.norm("eb"))
          .persist()
        MemCatalog.recreate(s, "semdedup_alerts", "(da BIGINT, db BIGINT, cos DOUBLE)")
        val probe = EventStreams.fixtureStream(s, dir, "embeddings")
          .filter(Slots.Probe.in)
          .select(col("vec_id").as("da"), col("embedding").as("ea"))
        EventTime.withShufflePartitions(s, 8) {
          EventStreams.drain(probe) { (batch, _) =>
            EventStreams.insertNew(assign(batch, "da", "ea")
                .withColumn("na", Similarity.norm("ea"))
                .join(corpus, Seq("centroid_id"))
                .select(col("da"), col("db"),
                  Similarity.cos("ea", "eb", col("na"), col("nb")).as("cos"))
                .filter(col("cos") >= 0.35),
              "semdedup_alerts", "da", "db")
          }
        }
        corpus.unpersist()
        s.sql("SELECT da, db, cos FROM graftmem.semdedup_alerts ORDER BY da, db")
      },
      Some(s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding AS centroid
        FROM embeddings WHERE vec_id < 16),
      qa0 AS (${Round6c.dotScoreSql("e.vec_id", "e.embedding", "embeddings e", "cent",
        where = Slots.Probe.inSql("e.vec_id"))}),
      qa AS (${Round6c.dotRankSql("vec_id, centroid_id", "vec_id", "qa0", "1")}),
      ca0 AS (${Round6c.dotScoreSql("e.vec_id", "e.embedding", "embeddings e", "cent",
        where = Slots.Probe.outSql("e.vec_id"))}),
      ca AS (${Round6c.dotRankSql("vec_id, centroid_id", "vec_id", "ca0", "1")}),
      al AS (SELECT qa.vec_id AS da, ca.vec_id AS db, ${Round6c.cosSql("x", "y")} AS cos
        FROM qa JOIN ca ON qa.centroid_id = ca.centroid_id
        JOIN embeddings x ON qa.vec_id = x.vec_id
        JOIN embeddings y ON ca.vec_id = y.vec_id,
        (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY 1, 2)
      SELECT da, db, cos FROM al WHERE cos >= 0.35 ORDER BY da, db""")),

    // ---- curriculum ordering + shard interleaving ----------------------
    // The data-ordering op of curriculum training: rank documents by a
    // deterministic difficulty score (average word length in exact
    // integer thousandths — one int division, no floats), cut into 4
    // curriculum stages, and deal each stage round-robin across 8
    // shards so every shard sees the same easy→hard progression.
    // Composition showcase for the round's skew-safe windows: the
    // stage cut is ntileBinned over a CONSTANT key (the global-ntile
    // degenerate-hot case — no data-sized single-partition sort) and
    // the within-stage deal is rankedBinned with stage as the
    // partition key — a BOUNDED-cardinality partition (4 stages), i.e.
    // exactly the single-task-per-group trap the hybrid's binned path
    // exists for (hotThreshold=1 forces it). Output: per-doc stage,
    // shard, and position-in-shard. Oracle = plain ntile/row_number
    // windows — bit-identical by the rank-family composition proofs.
    "q290_llm_curriculum" -> QueryDef(
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            expr("n_chars * 1000 DIV size(split(text, ' '))").as("difficulty"))
        val staged = Ranks.ntileBinned(
            d.withColumn("g", lit(0)), "g", "difficulty",
            Seq(col("difficulty"), col("doc_id")), n = 4,
            bins = 32, hotThreshold = 1L)
          .withColumnRenamed("tile", "stage")
        val dealt = Ranks.rankedBinned(staged, "stage", "difficulty",
            Seq(col("difficulty"), col("doc_id")),
            bins = 32, hotThreshold = 1L)
        dealt.select(col("doc_id"), col("difficulty"), col("stage"),
            ((col("rn") - 1) % 8).as("shard"),
            expr("(rn - 1) DIV 8").as("pos"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, n_chars,
          n_chars * 1000 // len(string_split(text, ' ')) AS difficulty
        FROM documents),
      st AS (SELECT doc_id, difficulty,
          CAST(ntile(4) OVER (ORDER BY difficulty, doc_id) AS BIGINT) AS stage
        FROM d),
      r AS (SELECT doc_id, difficulty, stage,
          row_number() OVER (PARTITION BY stage ORDER BY difficulty, doc_id) AS rn
        FROM st)
      SELECT doc_id, difficulty, stage,
        CAST((rn - 1) % 8 AS BIGINT) AS shard,
        (rn - 1) // 8 AS pos
      FROM r ORDER BY doc_id""")),

    // ---- Gopher-style in-document repetition signals -------------------
    // The repetition rules of the Gopher/FineWeb quality suite that the
    // text-analysis family (q48 length/punct/stopwords) didn't cover:
    // duplicate-trigram fraction, most-frequent-bigram share, and the
    // longest same-word run — the signals that catch boilerplate and
    // keyboard-mash documents. All row-local HOF expressions in EXACT
    // integer thousandths (no float ratios), and the run length is
    // computed ORDER-FREE (change-position differences via
    // transform/filter over index sequences) because a sequential
    // struct fold would hit DuckDB's struct_pack accumulator-mutation
    // bug (CLAUDE.md) — the formulation is identical in both engines.
    // Scale: embarrassingly parallel, whole-stage codegen, zero
    // shuffles before the output sort.
    "q292_llm_gopher_repetition" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("w", split(col("text"), " "))
        .withColumn("n", size(col("w")))
        .filter(col("n") >= 3)
        .withColumn("tris", expr(
          """transform(sequence(1, n - 2), i -> concat(
             element_at(w, i), CHAR(1), element_at(w, i + 1), CHAR(1), element_at(w, i + 2)))"""))
        .withColumn("bis", expr(
          """transform(sequence(1, n - 1), i -> concat(
             element_at(w, i), CHAR(1), element_at(w, i + 1)))"""))
        .withColumn("dup_tri_milli", expr(
          "(size(tris) - size(array_distinct(tris))) * 1000L DIV size(tris)"))
        // max bigram frequency = longest run in the SORTED bigram array
        // (same change-position trick) — O(n log n) per row; the naive
        // distinct×filter scan is O(n²) and measured 3.4× slower at 10×
        .withColumn("bs", expr("array_sort(bis)"))
        .withColumn("bchg", expr(
          """filter(sequence(1, size(bs)),
             i -> i = 1 OR element_at(bs, i) != element_at(bs, i - 1))"""))
        .withColumn("top_bi_milli", expr(
          """array_max(transform(sequence(1, size(bchg)), j ->
             (CASE WHEN j < size(bchg) THEN element_at(bchg, j + 1)
                   ELSE size(bs) + 1 END) - element_at(bchg, j)))
             * 1000L DIV size(bis)"""))
        .withColumn("chg", expr(
          """filter(sequence(1, n),
             i -> i = 1 OR element_at(w, i) != element_at(w, i - 1))"""))
        .withColumn("max_run", expr(
          """array_max(transform(sequence(1, size(chg)), j ->
             (CASE WHEN j < size(chg) THEN element_at(chg, j + 1)
                   ELSE n + 1 END) - element_at(chg, j)))""").cast("long"))
        .select(col("doc_id"), col("n").cast("long").as("n_words"),
          col("dup_tri_milli"), col("top_bi_milli"), col("max_run"))
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
          len(string_split(text, ' ')) AS n
        FROM documents WHERE text IS NOT NULL),
      f AS (SELECT doc_id, w, n,
          list_transform(range(1, n - 1), i ->
            w[i] || chr(1) || w[i + 1] || chr(1) || w[i + 2]) AS tris,
          list_transform(range(1, n), i -> w[i] || chr(1) || w[i + 1]) AS bis,
          list_filter(range(1, n + 1), i -> i = 1 OR w[i] != w[i - 1]) AS chg
        FROM d WHERE n >= 3),
      f2 AS (SELECT *, list_sort(bis) AS bs FROM f),
      f3 AS (SELECT *, list_filter(range(1, len(bs) + 1),
          i -> i = 1 OR bs[i] != bs[i - 1]) AS bchg FROM f2)
      SELECT doc_id, CAST(n AS BIGINT) AS n_words,
        (len(tris) - len(list_distinct(tris))) * 1000 // len(tris) AS dup_tri_milli,
        list_max(list_transform(range(1, len(bchg) + 1), j ->
          (CASE WHEN j < len(bchg) THEN bchg[j + 1] ELSE len(bis) + 1 END)
          - bchg[j])) * 1000 // len(bis) AS top_bi_milli,
        CAST(list_max(list_transform(range(1, len(chg) + 1), j ->
          (CASE WHEN j < len(chg) THEN chg[j + 1] ELSE n + 1 END) - chg[j]))
          AS BIGINT) AS max_run
      FROM f3 ORDER BY doc_id""")),

    // ---- dataset snapshot diff (version audit) -------------------------
    // The "what changed between v1 and v2" report next to the
    // time-travel reads (q-series MemDeltaCatalog): per-key status over
    // a full-outer join with null-safe column comparison. The two
    // snapshots are deterministic derivations of the fixture (v1 drops
    // the doc_id%10==3 slice; v2 appends 'X' to the text of the
    // doc_id%10==7 slice), so added/removed/changed/same are all
    // exercised and exactly oracled. One hash shuffle per side — and
    // with both snapshots bucketed by the key the join is zero-shuffle
    // (the storage-partitioned-join machinery).
    "q287_etl_dataset_diff" -> QueryDef(
      (s, dir) => {
        val d = t(s, dir, "documents")
        val v1 = d.filter(pmod(col("doc_id"), lit(10)) =!= 3)
        val v2 = d.withColumn("text",
          when(pmod(col("doc_id"), lit(10)) === 7,
            concat(col("text"), lit("X"))).otherwise(col("text")))
        graft.operators.Diff.snapshotDiff(v1, v2,
            keys = Seq("doc_id"), compare = Seq("text", "lang", "n_chars"))
          .orderBy("doc_id")
      },
      Some("""WITH v1 AS (SELECT doc_id, text, lang, n_chars FROM documents
        WHERE doc_id % 10 <> 3),
      v2 AS (SELECT doc_id,
          CASE WHEN doc_id % 10 = 7 THEN text || 'X' ELSE text END AS text,
          lang, n_chars FROM documents)
      SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        CASE WHEN v1.doc_id IS NULL THEN 'added'
             WHEN v2.doc_id IS NULL THEN 'removed'
             WHEN v1.text IS DISTINCT FROM v2.text
               OR v1.lang IS DISTINCT FROM v2.lang
               OR v1.n_chars IS DISTINCT FROM v2.n_chars THEN 'changed'
             ELSE 'same' END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      ORDER BY doc_id"""))
  )
}
