package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.{Graph, Similarity}
import graft.sources.Tables
import graft.util.Slots

/** Round-4 catalog widening.
  *
  * Graph kernels over pipeline-derived co-occurrence graphs (q169
  * degree-oriented triangles, q170 integer-exact PageRank); tokenizer /
  * training-data ops (q171 BPE pair-merge, q176 OOV rate, q190
  * token-budget mixture, q192 cross-split contamination, q193 padding
  * waste); exactly-scored near-dup from portable hashes (q172 SimHash
  * pigeonhole, q177 MinHash-LSH verified, q182 PPJoin prefix filter,
  * q173 sorted-neighborhood, and the dup-robust dedup-first twins q188/
  * q189); embedding ops (q186 hard-negative mining, q187 dim stats);
  * time series (q175 exact EWMA, q185 moving median, q191 path
  * trigrams); relational/ops surface (q174 Z-order via the codegen'd
  * morton2 expression, q178 incremental rollup, q179 Kendall tau-b,
  * q180 null-aware NOT IN, q181 scored stream-stream LEFT OUTER
  * interval join, q183 cascade-delete audit, q184 duplicated-
  * fingerprint rate, q194 content-checksum manifest, q195 robust
  * median/MAD outliers, q196 inter-arrival distribution, q197 near-dup
  * precision/recall eval, q198 distributed 2-D skyline, q199 A/B lift,
  * q200 end-to-end curation composite, q201 ER decision scoring, q202
  * PII density, q203 cross-lingual contamination, q204 completeness
  * audit, q205 last-touch attribution, q206 dup-cluster histogram,
  * q207 GROUP BY ALL).
  */
object Round4b {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Supplier co-occurrence graph, kNN-sparsified: suppliers filling the
    * same order, each node keeping only its 10 strongest neighbors (by
    * co-occurrence count, deterministic tie-break). Per-order pair
    * fan-out is O(k²) with k = suppliers per order — bounded by order
    * size, not corpus size — and the top-10 cut bounds node degree, so
    * downstream graph kernels never meet the dense-graph wedge blowup
    * (an un-sparsified co-occurrence graph approaches a clique as the
    * corpus grows: at sf0.1 it already carried avg degree ~400 and made
    * triangle counting 19 s; the kNN graph holds degree <= ~20 at any
    * scale). This is the standard construction for similarity graphs at
    * 100 TB for exactly this reason.
    */
  /** Supplier co-occurrence pair counts (u < v, w) over lineitem — a
    * fixture-keyed GRAPH-BUILD artifact (the FixtureArtifact rule):
    * the order-key self-join + pair aggregation is the expensive stage
    * both graph queries share (q169 triangles derives its top-10
    * capped edge set from it; q227 SSSP its symmetric weighted edges —
    * co-occurrence counts are symmetric, so the a<b half IS the whole
    * relation). Built once per harness run, read back as a flat scan.
    */
  private[queries] def supplierCoPairs(s: SparkSession,
      dir: String): DataFrame =
    graft.util.FixtureArtifact.parquet(s, dir, "lineitem.parquet",
      "supplier_copairs") {
      val co = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      co.as("a").join(co.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_suppkey") < col("b.l_suppkey"))
        .groupBy(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
        .agg(count(lit(1)).as("w"))
    }

  private def supplierCoEdges(s: SparkSession, dir: String): DataFrame = {
    val pc = supplierCoPairs(s, dir)
    val sym = pc.select(col("u").as("s"), col("v").as("d"), col("w"))
      .unionAll(pc.select(col("v").as("s"), col("u").as("d"), col("w")))
    val wTop = Window.partitionBy("s").orderBy(col("w").desc, col("d"))
    sym.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 10)
      .select(least(col("s"), col("d")).as("u"),
        greatest(col("s"), col("d")).as("v"))
      .distinct()
  }

  /** 60-bit SimHash signatures from a (doc_id, text) relation — the
    * q172 pipeline (portable Lehmer-mixed polynomial token hash, bit
    * votes, one shuffle per aggregation). Shared by q172 (all docs) and
    * q188 (unique-text representatives only).
    */
  private def simhashSigs(docs: DataFrame): DataFrame = {
    val pows = Seq(27512614111L, 887503681L, 28629151L, 923521L,
      29791L, 961L, 31L, 1L)
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
    val tok = docs
      .select(col("doc_id"), explode(split(norm, " ")).as("w"))
      .filter(length(col("w")) >= 2).distinct()
    val poly = pows.zipWithIndex.map { case (c, j) =>
      ascii(substring(col("w"), j + 1, 1)).cast("long") * lit(c)
    }.reduce(_ + _)
    tok.select(col("doc_id"),
        (poly * lit(48271L) % lit(1152921504606846883L)).as("hm"))
      .select(col("doc_id"), col("hm"),
        explode(sequence(lit(0), lit(59))).as("j"))
      .groupBy("doc_id", "j")
      .agg(sum(expr("2 * (shiftright(hm, j) % 2) - 1")).as("v"))
      .groupBy("doc_id")
      .agg(sum(expr("CASE WHEN v > 0 THEN shiftleft(1L, j) ELSE 0L END")).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** All (da < db, Hamming <= maxDist) pairs over (doc_id, s) simhash
    * signatures via the 4x15-bit pigeonhole equi-join (q172 notes).
    */
  /** The q172 SimHash Hamming<=3 candidate pairs as a fixture-keyed
    * artifact — shared by q172 (the pairs themselves) and q197 (the
    * eval's candidate side); the signature build + pigeonhole join is
    * the expensive stage, built once per harness run. */
  private def simhashHamming3(s: SparkSession, dir: String): DataFrame =
    graft.util.FixtureArtifact.parquet(s, dir, "documents.parquet",
      "simhash_h3_pairs")(
      hammingPairs(simhashSigs(
        t(s, dir, "documents").select(col("doc_id"), col("text")))))

  private def hammingPairs(sh: DataFrame, maxDist: Int = 3): DataFrame = {
    val blocks = sh
      .select(col("doc_id"), col("s"), explode(sequence(lit(0), lit(3))).as("b"))
      .select(col("doc_id"), col("b"),
        expr("shiftright(s, b * 15) & 32767").as("bv"))
    val cand = blocks.as("x").join(blocks.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    cand.join(sh.as("sa"), col("da") === col("sa.doc_id"))
      .join(sh.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        expr("bit_count(sa.s ^ sb.s)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Shared simhash CTE prefix (ends at `ham` = candidate pairs with
    * their Hamming distance); q172/q188 append the pair select, q197
    * appends the precision/recall evaluation.
    */
  private lazy val simhashCte: String =
    """WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(trim(regexp_replace(
          regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS w
        FROM documents),
      th AS (SELECT doc_id,
          (list_sum(list_transform(range(1, 9), j ->
             CASE WHEN j <= length(w) THEN ascii(w[j:j]) ELSE 0 END
             * [27512614111,887503681,28629151,923521,29791,961,31,1][j]))
           * 48271) % 1152921504606846883 AS hm
        FROM tok WHERE length(w) >= 2),
      votes AS (SELECT doc_id, j.j AS j,
          SUM(2 * ((hm // (1 << j.j)) % 2) - 1) AS v
        FROM th, (SELECT unnest(range(0, 60)) AS j) j GROUP BY 1, 2),
      sh AS (SELECT doc_id,
          SUM(CASE WHEN v > 0 THEN (1 << j) ELSE 0 END) AS s
        FROM votes GROUP BY doc_id),
      blocks AS (SELECT doc_id, b.b AS b, (s // (1 << (b.b * 15))) % 32768 AS bv
        FROM sh, (SELECT unnest(range(0, 4)) AS b) b),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM blocks a JOIN blocks b ON a.b = b.b AND a.bv = b.bv
          AND a.doc_id < b.doc_id),
      ham AS (SELECT da, db, bit_count(xor(x.s, y.s)) AS h
        FROM cand JOIN sh x ON cand.da = x.doc_id
        JOIN sh y ON cand.db = y.doc_id)"""

  private lazy val simhashOracle: String = simhashCte + """
      SELECT da, db, CAST(h AS BIGINT) AS hamming FROM ham
      WHERE h <= 3 ORDER BY da, db"""

  /** The full q177 MinHash-LSH + exact-verify pipeline over a
    * (doc_id, text) frame: portable 60-bit word-trigram shingles, 16
    * universal-hash min-signatures riding ONE shuffle, 4-band pigeonhole
    * candidates, exact-Jaccard verify. Returns (da, db, jaccard >= 0.5)
    * UNORDERED. Shared by q177 (all docs) and q257 (unique-text reps).
    */
  private def minhashVerifiedPairs(docsIn: DataFrame): DataFrame = {
    val pows = Seq(27512614111L, 887503681L, 28629151L, 923521L,
      29791L, 961L, 31L, 1L)
    val M = 1048576L // 2^20 word-digest domain
    val P = 1048573L // prime permutation modulus
    val docs = docsIn
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
    val poly = pows.zipWithIndex.map { case (c, j) =>
      ascii(substring(col("w"), j + 1, 1)).cast("long") * lit(c)
    }.reduce(_ + _)
    val wh = docs
      .select(col("doc_id"), posexplode(col("w")).as(Seq("i", "w")))
      .withColumn("h", poly % lit(M))
    val wl = Window.partitionBy("doc_id").orderBy("i")
    val sh = wh
      .withColumn("x",
        col("h") * lit(1099511627776L) +
          lead(col("h"), 1).over(wl) * lit(M) +
          lead(col("h"), 2).over(wl))
      .filter(col("x").isNotNull)
      .select(col("doc_id"), col("x")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val us = sh.withColumn("u", col("x") % lit(P))
    val sig = us.groupBy("doc_id").agg(
      min((col("u") * lit(37L + 101L * 0) + lit(17L + 97L * 0)) % lit(P)).as("s0"),
      (1 until 16).map(j =>
        min((col("u") * lit(37L + 101L * j) + lit(17L + 97L * j)) % lit(P))
          .as(s"s$j")): _*)
    val bandKey = (b: Int) =>
      (col(s"s${4 * b}") % 32768) * lit(35184372088832L) +
        (col(s"s${4 * b + 1}") % 32768) * lit(1073741824L) +
        (col(s"s${4 * b + 2}") % 32768) * lit(32768L) +
        col(s"s${4 * b + 3}") % 32768
    val bk = sig.select(col("doc_id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"), bandKey(b).as("k"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.b").as("b"), col("bk.k").as("k"))
    val cand = bk.as("p").join(bk.as("q"),
        col("p.b") === col("q.b") && col("p.k") === col("q.k") &&
          col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("da"), col("q.doc_id").as("db"))
      .distinct()
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("sa"), col("da") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("db") === col("sb.doc_id") && col("sa.x") === col("sb.x"))
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
    inter
      .join(sz.as("za"), col("da") === col("za.doc_id"))
      .join(sz.as("zb"), col("db") === col("zb.doc_id"))
      .withColumn("jac",
        col("i").cast("double") / (col("za.n") + col("zb.n") - col("i")))
      .filter(col("jac") >= 0.5)
      .select(col("da"), col("db"), round(col("jac"), 6).as("jaccard"))
  }

  private lazy val minhashVerifiedOracle: String = {
    val POWS = "[27512614111,887503681,28629151,923521,29791,961,31,1]"
    val wh = s"""list_sum(list_transform(range(1, 9), j ->
       CASE WHEN j <= length(W) THEN ascii(W[j:j]) ELSE 0 END * $POWS[j])) % 1048576"""
    val perms = (0 until 16).map(j =>
      s"MIN((${37 + 101 * j} * u + ${17 + 97 * j}) % 1048573) AS s$j").mkString(", ")
    val bands = (0 until 4).map(b =>
      s"(s${4 * b} % 32768) * 35184372088832 + (s${4 * b + 1} % 32768) * 1073741824" +
        s" + (s${4 * b + 2} % 32768) * 32768 + (s${4 * b + 3} % 32768) AS k$b").mkString(", ")
    val bsel = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS b, k$b AS k FROM bnd").mkString(" UNION ALL ")
    s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    whs AS (SELECT doc_id, list_transform(w, W -> $wh) AS h FROM sp),
    sh0 AS (SELECT doc_id, h[i.i] * 1099511627776 + h[i.i+1] * 1048576 + h[i.i+2] AS x
      FROM whs, ${LlmOps.shingleIdx("whs", "h")} WHERE i.i + 2 <= len(h)),
    sh AS (SELECT DISTINCT doc_id, x FROM sh0),
    us AS (SELECT doc_id, x % 1048573 AS u FROM sh),
    sig AS (SELECT doc_id, $perms FROM us GROUP BY doc_id),
    bnd AS (SELECT doc_id, $bands FROM sig),
    bk AS ($bsel),
    cand AS (SELECT DISTINCT a.doc_id AS da, b2.doc_id AS db
      FROM bk a JOIN bk b2 ON a.b = b2.b AND a.k = b2.k
        AND a.doc_id < b2.doc_id),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT c.da, c.db, COUNT(*) AS i
      FROM cand c JOIN sh p ON c.da = p.doc_id
      JOIN sh q2 ON c.db = q2.doc_id AND p.x = q2.x
      GROUP BY 1, 2)
    SELECT da, db, round(i / (x.n + y.n - i), 6) AS jaccard
    FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
    WHERE i / (x.n + y.n - i) >= 0.5 ORDER BY da, db"""
  }

  /** One SQL text, two engines (q207): the table names are the only
    * difference between the Spark query and its oracle. WIDTH-RULE:
    * DECIMAL(18,2) — lossless for 2-decimal prices and keeps the
    * unscaled SUM int64-backed to ~9.2e16 (DuckDB promotes past
    * precision 18 to int128, whose ->double cast diverges from Java by
    * 1 ulp once the unscaled value crosses 2^53; scale 6 left only ~6x
    * headroom at sf0.1 — see util/Det.scala).
    */
  private def q207Sql(orders: String, customer: String): String =
    s"""SELECT c.c_mktsegment AS seg, o.o_orderstatus AS status,
      COUNT(*) AS n,
      CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM $orders o JOIN $customer c ON o.o_custkey = c.c_custkey
    GROUP BY ALL ORDER BY ALL"""

  val defs: Map[String, QueryDef] = Map(
    // ---- triangle counting (degree-oriented) ---------------------------
    // Community-density kernel over the supplier co-occurrence graph.
    // Graph.triangleCounts orients edges by (degree, id) so per-node
    // wedge work is O(sqrt(m)) — the shape that survives skewed graphs
    // at 100 TB (see operators/Graph.scala scale notes).
    "q169_graph_triangles" -> QueryDef(
      (s, dir) => Graph.triangleCounts(supplierCoEdges(s, dir), "u", "v")
        .select(col("n").cast("long").as("supp"),
          col("n_tri").cast("long").as("n_tri"))
        .orderBy("supp"),
      Some("""WITH co AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      pc AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
        FROM co a JOIN co b ON a.l_orderkey = b.l_orderkey
          AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2),
      sym AS (SELECT u AS s, v AS d, w FROM pc
        UNION ALL SELECT v, u, w FROM pc),
      top AS (SELECT s, d FROM (SELECT s, d,
          row_number() OVER (PARTITION BY s ORDER BY w DESC, d) AS rn
        FROM sym) WHERE rn <= 10),
      e AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v FROM top),
      deg AS (SELECT n, COUNT(*) AS d FROM
        (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
      o AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
                   CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
            FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
      tri AS (SELECT o1.s AS a, o1.t AS b, o2.t AS c
        FROM o o1 JOIN o o2 ON o1.s = o2.s AND o1.t <> o2.t
        JOIN o o3 ON o3.s = o1.t AND o3.t = o2.t)
      SELECT CAST(n AS BIGINT) AS supp, CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY n ORDER BY supp""")),

    // ---- PageRank (fixed iterations, exact integer arithmetic) ---------
    // Influence ranking over the nation->nation trade-flow graph
    // (customer nation buys from supplier nation, weighted by lineitem
    // count). Ranks live in integer micro-units with floor division —
    // bit-exact under any partitioning, which doubles cannot promise
    // (see operators/Graph.scala).
    "q170_graph_pagerank" -> QueryDef(
      (s, dir) => {
        val flow = t(s, dir, "lineitem").as("l")
          .join(t(s, dir, "orders").as("o"),
            col("l.l_orderkey") === col("o.o_orderkey"))
          .join(t(s, dir, "customer").as("c"),
            col("o.o_custkey") === col("c.c_custkey"))
          .join(t(s, dir, "supplier").as("sp"),
            col("l.l_suppkey") === col("sp.s_suppkey"))
          .filter(col("c.c_nationkey") =!= col("sp.s_nationkey"))
          .groupBy(col("c.c_nationkey").as("src"),
            col("sp.s_nationkey").as("dst"))
          .agg(count(lit(1)).as("w"))
        Graph.pageRankInt(flow, "src", "dst", "w", iters = 3)
          .select(col("n").cast("long").as("nationkey"),
            col("r").cast("long").as("rank_scaled"))
          .orderBy("nationkey")
      },
      Some("""WITH flow AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2),
      outw AS (SELECT src, SUM(w) AS tw FROM flow GROUP BY src),
      nodes AS (SELECT DISTINCT n FROM
        (SELECT src AS n FROM flow UNION ALL SELECT dst FROM flow)),
      r0 AS (SELECT n, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
      c1 AS (SELECT f.dst AS n, SUM((r.r // o.tw) * f.w + ((r.r % o.tw) * f.w) // o.tw) AS m
             FROM flow f JOIN r0 r ON f.src = r.n
             JOIN outw o ON f.src = o.src GROUP BY 1),
      r1 AS (SELECT nodes.n, 150000000000 + (85 * COALESCE(c1.m, 0)) // 100 AS r
             FROM nodes LEFT JOIN c1 ON nodes.n = c1.n),
      c2 AS (SELECT f.dst AS n, SUM((r.r // o.tw) * f.w + ((r.r % o.tw) * f.w) // o.tw) AS m
             FROM flow f JOIN r1 r ON f.src = r.n
             JOIN outw o ON f.src = o.src GROUP BY 1),
      r2 AS (SELECT nodes.n, 150000000000 + (85 * COALESCE(c2.m, 0)) // 100 AS r
             FROM nodes LEFT JOIN c2 ON nodes.n = c2.n),
      c3 AS (SELECT f.dst AS n, SUM((r.r // o.tw) * f.w + ((r.r % o.tw) * f.w) // o.tw) AS m
             FROM flow f JOIN r2 r ON f.src = r.n
             JOIN outw o ON f.src = o.src GROUP BY 1),
      r3 AS (SELECT nodes.n, 150000000000 + (85 * COALESCE(c3.m, 0)) // 100 AS r
             FROM nodes LEFT JOIN c3 ON nodes.n = c3.n)
      SELECT CAST(n AS BIGINT) AS nationkey, CAST(r AS BIGINT) AS rank_scaled
      FROM r3 ORDER BY nationkey""")),

    // ---- BPE pair-merge induction (tokenizer-training kernel) ----------
    // One round of byte-pair-encoding vocabulary induction: count
    // adjacent character pairs over the corpus, merge the most frequent
    // pair everywhere, and report the post-merge top pairs. The scale
    // move is classic BPE: operate on the DISTINCT-WORD table weighted
    // by frequency — all per-word work is bounded by vocabulary size
    // (~100k entries at any corpus size), not corpus size, so the only
    // corpus-scale operation is the initial word count (one shuffle).
    // Per-word pair fan-out is bounded by word length (<= 30).
    "q171_llm_bpe_merge" -> QueryDef(
      (s, dir) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
        val vocab = t(s, dir, "documents")
          .select(explode(split(norm, " ")).as("w"))
          .filter(length(col("w")).between(2, 30))
          .groupBy("w").agg(count(lit(1)).as("f"))
          .withColumn("chars", expr("filter(split(w, ''), x -> x != '')"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        def adjPairs(df: DataFrame, sy: String): DataFrame = df
          .select(col("f"), explode(expr(
            s"transform(sequence(0, size($sy) - 2), i -> struct($sy[i] AS a, $sy[i+1] AS b))"))
            .as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("f").as("cnt"))
        val best = adjPairs(vocab, "chars")
          .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
          .select(col("a").as("ba"), col("b").as("bb"))
        // Boundary-anchored merge: pad the joined sequence with spaces
        // and replace ' ba bb ' so the pair can never match a suffix of
        // a longer symbol (e.g. (a,b) inside 'xa b'). Applied TWICE:
        // consecutive occurrences share a boundary space that the first
        // non-overlapping scan consumes ('a b a b' -> first pass merges
        // occurrences 1,3,..; every survivor then follows a replacement
        // ending in a space, so the second pass takes the rest) —
        // exactly left-to-right non-overlapping BPE for one round.
        val mergeExpr =
          "' ' || array_join(chars, ' ') || ' '"
        val pat = "' ' || ba || ' ' || bb || ' '"
        val rep = "' ' || ba || bb || ' '"
        val merged = vocab.crossJoin(broadcast(best))
          .select(col("f"), split(trim(expr(
            s"replace(replace($mergeExpr, $pat, $rep), $pat, $rep)")),
            " ").as("sy"))
        adjPairs(merged, "sy")
          .select(col("a"), col("b"), col("cnt").cast("long").as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b")).limit(10)
      },
      Some("""WITH w0 AS (SELECT unnest(string_split(trim(regexp_replace(
          regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS w
        FROM documents),
      vocab AS (SELECT w, COUNT(*) AS f FROM w0
        WHERE length(w) BETWEEN 2 AND 30 GROUP BY w),
      p1 AS (SELECT w[i.i:i.i] AS a, w[i.i+1:i.i+1] AS b, SUM(f) AS cnt
        FROM vocab, (SELECT unnest(range(1, 31)) AS i) i
        WHERE i.i + 1 <= length(w) GROUP BY 1, 2),
      best AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
      m AS (SELECT trim(replace(replace(
               ' ' || array_to_string(string_split_regex(w, ''), ' ') || ' ',
               (SELECT ' ' || a || ' ' || b || ' ' FROM best),
               (SELECT ' ' || a || b || ' ' FROM best)),
               (SELECT ' ' || a || ' ' || b || ' ' FROM best),
               (SELECT ' ' || a || b || ' ' FROM best))) AS seq, f
            FROM vocab),
      syms AS (SELECT string_split(seq, ' ') AS sy, f FROM m),
      p2 AS (SELECT sy[i.i] AS a, sy[i.i+1] AS b, SUM(f) AS cnt
        FROM syms, (SELECT unnest(range(1, 31)) AS i) i
        WHERE i.i + 1 <= len(sy) GROUP BY 1, 2)
      SELECT a, b, CAST(cnt AS BIGINT) AS cnt FROM p2
      ORDER BY cnt DESC, a, b LIMIT 10""")),

    // ---- SimHash near-dup, exactly scored (pigeonhole Hamming join) ----
    // The oracled twin of rows-only q45: a 60-bit SimHash built from a
    // PORTABLE token hash (8-char base-31 polynomial, Lehmer-mixed mod a
    // prime < 2^60 — exact int64 arithmetic in both engines, unlike
    // xxhash64), then all pairs within Hamming distance 3 found by the
    // Charikar pigeonhole trick: split the 60 bits into 4 blocks of 15;
    // any pair at distance <= 3 agrees exactly on >= 1 block, so the
    // candidate join is an equi-join on (block idx, block value) — no
    // all-pairs scan anywhere. Bucket population ~ n/2^15 per block
    // value; residual skew in a bucket IS the near-dup cluster being
    // discovered. The 60x bit fan-out before the vote aggregation is a
    // bounded constant and partial-aggregates map-side.
    "q172_llm_simhash_hamming" -> QueryDef(
      (s, dir) => simhashHamming3(s, dir).orderBy("da", "db"),
      Some(simhashOracle)),

    // ---- sorted-neighborhood entity resolution -------------------------
    // The Hernández–Stolfo sorted-neighborhood method: sort records by a
    // blocking key (lang + 20-char normalized prefix), then compare each
    // record only to its w=5 successors in sort order. Candidate count is
    // exactly n*w — linear in corpus size by construction, versus the
    // O(block²) of equality blocking on skewed keys. On a cluster the
    // sort is one range-partitioned exchange and the neighbor join
    // shuffles on the same key, so pairs co-locate. Emits every window
    // pair with its edit distance (downstream thresholds as needed);
    // distances on the 60-char prefix keep the per-pair cost constant.
    // The neighbor join equi-joins on (lang, rn div w) with the probe
    // side exploded into its own and the next band — any pair at rank
    // distance <= w shares one of those buckets — so the join never
    // degenerates to per-lang all-pairs (lang alone has a handful of
    // values; at corpus scale that equi-key would put the whole corpus
    // in a few build partitions).
    "q173_llm_sorted_neighborhood" -> QueryDef(
      (s, dir) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
        val k = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), norm.as("t"))
          .withColumn("rn", row_number().over(Window.partitionBy("lang")
            .orderBy(substring(col("t"), 1, 20), col("doc_id"))))
          .withColumn("g", expr("rn div 5"))
        val a = k.withColumn("jg", explode(array(col("g"), col("g") + 1)))
        a.as("a").join(k.as("b"),
            col("a.lang") === col("b.lang") && col("a.jg") === col("b.g") &&
              (col("b.rn") - col("a.rn")).between(1, 5))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            levenshtein(substring(col("a.t"), 1, 60),
              substring(col("b.t"), 1, 60)).cast("long").as("lev"))
          .orderBy("da", "db")
      },
      Some("""WITH n AS (SELECT doc_id, lang, trim(regexp_replace(
          regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')) AS t
        FROM documents),
      k AS (SELECT doc_id, lang, t, row_number() OVER (
          PARTITION BY lang ORDER BY t[1:20], doc_id) AS rn FROM n),
      pr AS (SELECT a.doc_id AS da, b.doc_id AS db,
          levenshtein(a.t[1:60], b.t[1:60]) AS lev
        FROM k a JOIN k b ON a.lang = b.lang AND b.rn - a.rn BETWEEN 1 AND 5)
      SELECT da, db, CAST(lev AS BIGINT) AS lev FROM pr ORDER BY da, db""")),

    // ---- Z-order (Morton) clustering for multi-dimension skipping ------
    // Interleave the bits of two query dimensions (ship-date day, supplier
    // key) into one Morton code; sorting/range-partitioning by that code
    // clusters rows so EVERY file's min/max envelope is tight in BOTH
    // dimensions — the layout trick (Delta OPTIMIZE ZORDER, Iceberg
    // sort orders) that makes parquet row-group skipping work for 2-D
    // predicates where a lexicographic sort only prunes the leading
    // column. The z-value is a pure row-local bit expression (codegen'd,
    // no shuffle); the query reports per-tile row counts and min/max
    // envelopes — the skipping statistics a reader would prune with.
    "q174_zorder_cluster" -> QueryDef(
      (s, dir) => {
        // z via the codegen'd native expression (plans.MortonInterleave:
        // two 4-round parallel-prefix bit spreads, branch-free in
        // whole-stage codegen); the oracle recomputes the identical
        // interleave as composed arithmetic, cross-validating the
        // expression bit-for-bit on every row.
        graft.plans.NativeExpressions.register(s)
        t(s, dir, "lineitem")
          .select(
            (datediff(col("l_shipdate"), lit("1970-01-01")) % 4096)
              .cast("long").as("x"),
            (col("l_suppkey") % 4096).cast("long").as("y"))
          .withColumn("z", expr("morton2(x, y)"))
          .groupBy(expr("z div 262144").cast("long").as("tile"))
          .agg(count(lit(1)).as("n"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
          .orderBy("tile")
      },
      Some {
        val zExpr = (0 until 12).map { i =>
          s"((x // ${1L << i}) % 2) * ${1L << (2 * i)}" +
            s" + ((y // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
        }.mkString(" + ")
        s"""WITH d AS (SELECT
          -- epoch(TIMESTAMP) is DOUBLE and DuckDB's // is NOT floor
          -- division on doubles — cast to BIGINT before the bit math
          CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400 % 4096 AS x,
          l_suppkey % 4096 AS y FROM lineitem),
        zv AS (SELECT x, y, $zExpr AS z FROM d)
        SELECT CAST(z // 262144 AS BIGINT) AS tile,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
          CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
        FROM zv GROUP BY 1 ORDER BY tile"""
      }),

    // ---- EWMA (exponentially weighted moving average), exact -----------
    // Per-user exponential smoothing of event values, the streaming-
    // telemetry primitive (anomaly baselines, rate smoothing). alpha=1/2
    // truncated at 8 taps, computed entirely in scaled int64: cents
    // weighted by powers of two and summed — bit-exact on any
    // partitioning (a float EWMA would drift between engines and between
    // cluster layouts). One window per user; lag taps share the single
    // (user_id)-ordered exchange.
    "q175_ts_ewma" -> QueryDef(
      (s, dir) => {
        val ev = graft.sources.Events.load(s, dir)
          .select(col("event_id"), col("user_id"), col("sec"),
            floor(col("value") * 100).cast("long").as("v"))
        val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        val ewma = (0 to 7).map { k =>
          coalesce(lag(col("v"), k).over(w), lit(0L)) * lit(1L << (7 - k))
        }.reduce(_ + _)
        ev.withColumn("ewma_c256", ewma)
          .select("event_id", "user_id", "sec", "ewma_c256")
          .orderBy("event_id")
      },
      Some(s"""WITH e AS (SELECT event_id, user_id,
          ${graft.util.Det.epochSecSql("ts")} AS sec,
          CAST(floor(value * 100) AS BIGINT) AS v FROM events),
      w AS (SELECT event_id, user_id, sec,
          ${(0 to 7).map(k =>
            s"COALESCE(lag(v, $k) OVER (PARTITION BY user_id ORDER BY sec, event_id), 0) * ${1L << (7 - k)}")
            .mkString(" + ")} AS ewma_c256
        FROM e)
      SELECT event_id, user_id, sec, ewma_c256 FROM w ORDER BY event_id""")),

    // ---- vocabulary coverage / OOV rate (tokenizer evaluation) ---------
    // Against the corpus's own top-1000 token vocabulary, score each
    // document's out-of-vocabulary token rate — the tokenizer-coverage
    // eval run before committing a vocab. The vocab is top-k BY
    // CONSTRUCTION (bounded), so the membership join is a broadcast —
    // the per-token side never shuffles. Rate = one exact int/int
    // division (identical IEEE double both engines).
    "q176_llm_oov_rate" -> QueryDef(
      (s, dir) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
        // NOT persisted, deliberately: the exploded token relation is
        // corpus×avg-doc-len rows, and a MEMORY_AND_DISK cache of it
        // only helps while it fits — measured on the key-shifted probe:
        // with the cache 0.26 s at 10× but 9.9 s at 100× (38×/decade,
        // spill-bound); without it 1.19 s → 9.15 s (7.7×/decade,
        // sublinear). Corpus-sized caches don't survive scale; the two
        // consumers (vocab top-k, per-doc join) each re-derive the
        // explode from the codegen'd columnar scan instead.
        val tok = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(norm, " ")).as("w"))
          .filter(length(col("w")) >= 1)
        val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("w")).limit(1000)
          .select(col("w"), lit(1).as("iv"))
        tok.join(broadcast(vocab), Seq("w"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tok"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(
          regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS w
        FROM documents),
      tk AS (SELECT doc_id, w FROM tok WHERE length(w) >= 1),
      vocab AS (SELECT w FROM (SELECT w, COUNT(*) AS cnt FROM tk GROUP BY w
        ORDER BY cnt DESC, w LIMIT 1000)),
      j AS (SELECT t.doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
        FROM tk t LEFT JOIN vocab v ON t.w = v.w)
      SELECT doc_id, COUNT(*) AS n_tok, CAST(SUM(oov) AS BIGINT) AS n_oov,
        CAST(SUM(oov) AS DOUBLE) / COUNT(*) AS oov_rate
      FROM j GROUP BY doc_id ORDER BY doc_id""")),

    // ---- MinHash-LSH near-dup, exactly scored end-to-end ---------------
    // The oracled twin of rows-only q44: the full LSH dedup pipeline —
    // shingle, minhash, band, bucket-join, exact-verify — built ONLY
    // from portable exact-int64 hashes (8-char base-31 word polynomial;
    // shingle = three 20-bit word digests packed into 60 bits; 16
    // universal-hash permutations (a*u+b) mod 1048573; 4 bands of 4
    // rows packed into 60-bit keys), so DuckDB reproduces every stage
    // bit-for-bit and the finding is scored exactly, not rows-only.
    // Scale shape is the real one: candidates come ONLY from equal
    // (band, key) buckets — one bounded shuffle — and the exact-Jaccard
    // verify joins only candidate pairs back to their shingle sets.
    // The 16 min-aggregates ride ONE shuffle of the (doc, shingle)
    // relation with map-side partial mins (no 16x explode).
    "q177_llm_minhash_verified" -> QueryDef(
      (s, dir) => minhashVerifiedPairs(
          t(s, dir, "documents").select("doc_id", "text"))
        .orderBy("da", "db"),
      Some(minhashVerifiedOracle)),

    // ---- dedup-first MinHash-verified pairs (duplication-robust) -------
    // Completes the dedup-first family for the LAST pair-output op that
    // lacked a twin (q43->q189 Jaccard, q172->q188 SimHash; found by
    // the round-6 100x probe, where q177 measured 742 s on the
    // 100-copies corpus — answer growth, not plan failure, but the
    // production path should not pay it). Identical texts have
    // identical shingle sets, hence identical signatures and band keys,
    // so running the full q177 pipeline over unique-text
    // REPRESENTATIVES loses nothing: cross-group matches inherit the
    // rep pair's jaccard; intra-group pairs (copies of one text) are
    // jaccard 1.0 by construction and are emitted only for texts that
    // actually shingle (>= 3 words, non-null — q177's own filter), so
    // the expansion reproduces q177's output EXACTLY and scores against
    // the SAME oracle. The quadratic residual is confined to the final
    // explode of the (inherently quadratic) answer.
    "q257_llm_minhash_dedup" -> QueryDef(
      (s, dir) => {
        val g = t(s, dir, "documents")
          .groupBy("text")
          .agg(min(col("doc_id")).as("doc_id"),
            collect_list(col("doc_id")).as("ids"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val repPairs = minhashVerifiedPairs(g.select(col("doc_id"), col("text")))
        val ga = g.select(col("doc_id").as("da"), col("ids").as("idsa"))
        val gb = g.select(col("doc_id").as("db"), col("ids").as("idsb"))
        val cross = repPairs.join(ga, "da").join(gb, "db")
          .select(explode(col("idsa")).as("x"), col("idsb"), col("jaccard"))
          .select(col("x"), explode(col("idsb")).as("y"), col("jaccard"))
          .select(least(col("x"), col("y")).as("da"),
            greatest(col("x"), col("y")).as("db"), col("jaccard"))
        val intra = g.filter(size(col("ids")) > 1 &&
            col("text").isNotNull &&
            size(split(col("text"), " ")) >= 3)
          .select(explode(col("ids")).as("x"), col("ids"))
          .select(col("x"), explode(col("ids")).as("y"))
          .filter(col("x") < col("y"))
          .select(col("x").as("da"), col("y").as("db"),
            lit(1.0).as("jaccard"))
        cross.unionByName(intra).orderBy("da", "db")
      },
      Some(minhashVerifiedOracle)),

    // ---- incremental rollup: merge stored daily partials ----------------
    // The incremental-view-maintenance pattern: per-day partial
    // aggregate STATE (count / sum / min / max — all mergeable) is what
    // a daily pipeline materializes; months are then rebuilt by merging
    // partials without rescanning the fact table, and avg is derived at
    // read time from (sum, count). The query computes the monthly
    // result THROUGH the daily-state detour and is scored against the
    // direct monthly aggregation — proving the state merge is lossless.
    // Quantities are integral, so partials stay in exact int64.
    "q178_agg_incremental_rollup" -> QueryDef(
      (s, dir) => {
        val daily = t(s, dir, "lineitem")
          .groupBy(col("l_shipdate").cast("date").as("day"),
            col("l_returnflag").as("flag"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("long")).as("sq"),
            min(col("l_quantity")).as("mn"),
            max(col("l_quantity")).as("mx"))
        daily
          .groupBy(trunc(col("day"), "month").as("month"), col("flag"))
          .agg(sum("cnt").cast("long").as("n"),
            sum("sq").cast("long").as("sum_qty"),
            min("mn").as("min_qty"), max("mx").as("max_qty"))
          .withColumn("avg_qty",
            col("sum_qty").cast("double") / col("n"))
          .orderBy("month", "flag")
      },
      Some("""SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        l_returnflag AS flag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY 1, 2 ORDER BY month, flag""")),

    // ---- Kendall tau-b rank correlation (contingency-table form) -------
    // Exact rank correlation the way it scales: when both variables
    // have bounded domains (quantity: 50 values, discount: 11), the
    // n² pair counting collapses onto the 550-cell contingency table —
    // one corpus shuffle to build the cells, then concordant/discordant
    // pair products over cells × cells (a bounded broadcast nested
    // loop, ~300k cell pairs REGARDLESS of corpus size). All subtotals
    // are exact int64 through n ~ 2^31 rows (pair counts < 2^62); the
    // single final division/sqrt is IEEE-identical in both engines.
    // A rank-window Spearman would need a per-group total sort and its
    // squared-rank sums overflow int64 by sf~40 — this formulation is
    // the one that survives 100 TB.
    "q179_stat_kendall_tau" -> QueryDef(
      (s, dir) => {
        val cell = t(s, dir, "lineitem")
          .groupBy(col("l_quantity").as("q"), col("l_discount").as("d"))
          .agg(count(lit(1)).as("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = cell.agg(sum("c").as("n"))
        val conc = cell.as("a").join(broadcast(cell.as("b")),
            col("a.q") < col("b.q") && col("a.d") < col("b.d"))
          .agg(sum(col("a.c") * col("b.c")).as("cv"))
        val disc = cell.as("a").join(broadcast(cell.as("b")),
            col("a.q") < col("b.q") && col("a.d") > col("b.d"))
          .agg(sum(col("a.c") * col("b.c")).as("dv"))
        val tq = cell.groupBy("q").agg(sum("c").as("c2"))
          .agg(sum(expr("c2 * (c2 - 1) div 2")).as("tq"))
        val td = cell.groupBy("d").agg(sum("c").as("c2"))
          .agg(sum(expr("c2 * (c2 - 1) div 2")).as("td"))
        n.crossJoin(conc).crossJoin(disc).crossJoin(tq).crossJoin(td)
          .select(col("n").cast("long").as("n"),
            col("cv").cast("long").as("concordant"),
            col("dv").cast("long").as("discordant"),
            ((col("cv") - col("dv")).cast("double") /
              (sqrt(expr("CAST(n * (n - 1) div 2 - tq AS DOUBLE)")) *
                sqrt(expr("CAST(n * (n - 1) div 2 - td AS DOUBLE)"))))
              .as("tau_b"))
      },
      Some("""WITH cell AS (SELECT l_quantity AS q, l_discount AS d, COUNT(*) AS c
        FROM lineitem GROUP BY 1, 2),
      n AS (SELECT SUM(c) AS n FROM cell),
      conc AS (SELECT SUM(a.c * b.c) AS v FROM cell a
        JOIN cell b ON a.q < b.q AND a.d < b.d),
      disc AS (SELECT SUM(a.c * b.c) AS v FROM cell a
        JOIN cell b ON a.q < b.q AND a.d > b.d),
      tq AS (SELECT SUM(c2 * (c2 - 1) // 2) AS t FROM
        (SELECT SUM(c) AS c2 FROM cell GROUP BY q)),
      td AS (SELECT SUM(c2 * (c2 - 1) // 2) AS t FROM
        (SELECT SUM(c) AS c2 FROM cell GROUP BY d))
      SELECT CAST(n.n AS BIGINT) AS n, CAST(conc.v AS BIGINT) AS concordant,
        CAST(disc.v AS BIGINT) AS discordant,
        CAST(conc.v - disc.v AS DOUBLE) /
          (sqrt(CAST(n.n * (n.n - 1) // 2 - tq.t AS DOUBLE)) *
           sqrt(CAST(n.n * (n.n - 1) // 2 - td.t AS DOUBLE))) AS tau_b
      FROM n, conc, disc, tq, td""")),

    // ---- stream-stream LEFT OUTER interval join (scored) ---------------
    // The outer completion of q152: purchases with NO click within 5
    // minutes must still emit (with nulls) — which in a stream-stream
    // join only happens when the watermark passes the row's match
    // window (state eviction), unlike inner matches which emit on
    // arrival. Under Trigger.AvailableNow the final no-data micro-batch
    // advances the watermark to min(max event time of each side) - delay
    // and flushes evicted state (verified empirically: nulls emit up to
    // exactly that boundary). The eviction boundary itself is an engine
    // internal, so the scored region applies a 900 s safety margin
    // below the computable final watermark — identically in the oracle —
    // and matched rows are scored unconditionally.
    "q181_stream_interval_left_outer" -> QueryDef(
      (s, dir) => {
        import graft.streaming.EventStreams.eventFileStream
        val mk = (tpe: String) => eventFileStream(s, dir)
          .filter(col("event_type") === tpe)
          .select(col("user_id").as(s"${tpe(0)}_user"),
            col("tss").as(s"${tpe(0)}_ts"), col("event_id").as(s"${tpe(0)}_id"))
        val l = mk("purchase").withWatermark("p_ts", "1 hour")
        val r = mk("click").withWatermark("c_ts", "1 hour")
        val joined = l.join(r,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") &&
            col("c_ts") <= col("p_ts") + expr("INTERVAL 300 SECONDS"),
          "left_outer")
        val sink = EventTime.withShufflePartitions(s, 8) {
          graft.streaming.EventStreams.runToParquet(
            joined, "q181_stream_interval_left_outer_sink")
        }
        // final watermark = min(per-side max event time) - 1 h; score
        // unmatched rows only when their whole match window sits >= 900 s
        // below it (Spark provably evicted + emitted them by then)
        val ev = graft.sources.Events.load(s, dir)
          .filter(col("event_type").isin("purchase", "click"))
          .groupBy("event_type").agg(max("sec").as("m"))
          .agg((min("m") - 3600L).as("wm"))
        sink
          .groupBy(col("p_id").as("event_id"))
          .agg(min(unix_timestamp(col("p_ts"))).as("p_sec"),
            count(col("c_id")).as("n_clicks"),
            min(col("c_id")).as("first_click"))
          .crossJoin(broadcast(ev))
          .filter(col("n_clicks") > 0 || col("p_sec") + 300L <= col("wm") - 900L)
          .select(col("event_id"), col("n_clicks"), col("first_click"))
          .orderBy("event_id")
      },
      Some(s"""WITH e AS (SELECT event_id, user_id, event_type,
          ${graft.util.Det.epochSecSql("ts")} AS sec FROM events),
      p AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'purchase'),
      c AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'click'),
      wm AS (SELECT MIN(m) - 3600 AS wm FROM (
        SELECT MAX(sec) AS m FROM p UNION ALL SELECT MAX(sec) FROM c)),
      j AS (SELECT p.event_id, p.sec AS p_sec, COUNT(c.event_id) AS n_clicks,
          MIN(c.event_id) AS first_click
        FROM p LEFT JOIN c ON p.user_id = c.user_id
          AND c.sec BETWEEN p.sec AND p.sec + 300
        GROUP BY 1, 2)
      SELECT event_id, n_clicks, first_click FROM j, wm
      WHERE n_clicks > 0 OR p_sec + 300 <= wm.wm - 900
      ORDER BY event_id""")),

    // ---- prefix-filtered set-similarity join (PPJoin family) -----------
    // Same operator and SAME ORACLE as q43's inverted-index Jaccard
    // pairs, different physical strategy: docs join only on their
    // floor(n/2)+1 globally-rarest shingles after a size-ratio filter
    // (provably lossless for J >= 0.5 under a global shingle order —
    // see Dedup.jaccardPairsPrefix). At corpus scale the full inverted
    // index is dominated by COMMON shingles — huge, skewed candidate
    // lists; the prefix index never materializes them. Two strategies,
    // one ground truth (the q63/q159 and q143/q160 pattern).
    "q182_llm_neardup_prefix" -> QueryDef(
      (s, dir) => graft.operators.Dedup.jaccardPairsPrefix(
          t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5, blockCols = Seq("lang"))
        .orderBy("da", "db"),
      LlmOps.defs("q43_llm_neardup_jaccard").oracle),

    // ---- cascade delete audit (GDPR erasure propagation) ---------------
    // Right-to-erasure over a normalized star: deleting a customer set
    // (here: BUILDING-segment customers with negative balance) must
    // cascade through orders to lineitems. The audit emits per-table
    // survivor/deleted counts plus a referential-integrity check that
    // no surviving child row points at a deleted parent — all computed
    // with anti/semi joins (the deletion set stays a predicate; nothing
    // rewrites until the counts are approved). Joins shuffle on the
    // natural FK keys; the deletion set is NOT broadcast-hinted because
    // it grows with the data.
    "q183_cascade_delete_audit" -> QueryDef(
      (s, dir) => {
        val del = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") < 0)
          .select(col("c_custkey"))
        val delOrders = t(s, dir, "orders")
          .join(del, col("o_custkey") === col("c_custkey"), "left_semi")
          .select(col("o_orderkey"))
        val delLines = t(s, dir, "lineitem")
          .join(delOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
        def audit(tbl: String, all: DataFrame, deleted: DataFrame): DataFrame =
          all.agg(count(lit(1)).as("total")).crossJoin(
            deleted.agg(count(lit(1)).as("deleted")))
            .select(lit(tbl).as("tbl"), col("total"), col("deleted"))
        audit("customer", t(s, dir, "customer"), del)
          .unionAll(audit("lineitem", t(s, dir, "lineitem"), delLines))
          .unionAll(audit("orders", t(s, dir, "orders"), delOrders))
          .withColumn("surviving", col("total") - col("deleted"))
          .orderBy("tbl")
      },
      Some("""WITH del AS (SELECT c_custkey FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal < 0),
      delo AS (SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del)),
      dell AS (SELECT l_orderkey FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
      c AS (SELECT 'customer' AS tbl, (SELECT COUNT(*) FROM customer) AS total,
              (SELECT COUNT(*) FROM del) AS deleted
        UNION ALL SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem),
              (SELECT COUNT(*) FROM dell)
        UNION ALL SELECT 'orders', (SELECT COUNT(*) FROM orders),
              (SELECT COUNT(*) FROM delo))
      SELECT tbl, total, deleted, total - deleted AS surviving
      FROM c ORDER BY tbl""")),

    // ---- duplicated-fingerprint rate (memorization-risk metric) --------
    // For each document: what fraction of its winnowing fingerprints
    // (q161 pipeline, shared implementation AND shared oracle CTE)
    // also occurs in at least one other document? High rates flag
    // boilerplate/templated content and cross-document duplication that
    // inflates memorization risk in training data. One shuffle on fp to
    // count sharers, one join back, one per-doc aggregate — fp is
    // content-derived, so the work parallelizes by fingerprint.
    "q184_llm_dup_fingerprint_rate" -> QueryDef(
      (s, dir) => {
        val fps = Round4.winnowFingerprints(s, dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sharers = fps.groupBy("fp").agg(count(lit(1)).as("ndocs"))
        fps.join(sharers, "fp")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_fp"),
            sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared"))
          .withColumn("dup_rate",
            col("n_shared").cast("double") / col("n_fp"))
          .orderBy("doc_id")
      },
      Some(Round4.winnowCte + """,
      fps AS (SELECT DISTINCT doc_id, fp FROM w),
      sharers AS (SELECT fp, COUNT(*) AS ndocs FROM fps GROUP BY fp)
      SELECT f.doc_id, COUNT(*) AS n_fp,
        CAST(SUM(CASE WHEN s.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        CAST(SUM(CASE WHEN s.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
          AS dup_rate
      FROM fps f JOIN sharers s ON f.fp = s.fp
      GROUP BY f.doc_id ORDER BY f.doc_id""")),

    // ---- moving median (exact, fixed frame) ----------------------------
    // Robust per-user smoothing: the median of the last 5 event values,
    // exact in integer cents — sort the 5-element frame and take the
    // middle, emitted once the frame is full. The frame rides the same
    // per-user ordered exchange as any lag window; per-row cost is a
    // constant 5-element sort (no percentile state). Medians resist the
    // outliers that pull q175's EWMA — the pairing telemetry pipelines
    // actually deploy.
    "q185_ts_moving_median" -> QueryDef(
      (s, dir) => {
        val ev = graft.sources.Events.load(s, dir)
          .select(col("event_id"), col("user_id"), col("sec"),
            floor(col("value") * 100).cast("long").as("v"))
        val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        ev.withColumn("rn", row_number().over(w))
          .withColumn("arr", array((4 to 0 by -1).map(k =>
            lag(col("v"), k).over(w)): _*))
          .filter(col("rn") >= 5)
          .select(col("event_id"), col("user_id"), col("sec"),
            element_at(array_sort(col("arr")), 3).as("med_c"))
          .orderBy("event_id")
      },
      Some(s"""WITH e AS (SELECT event_id, user_id,
          ${graft.util.Det.epochSecSql("ts")} AS sec,
          CAST(floor(value * 100) AS BIGINT) AS v FROM events),
      m AS (SELECT event_id, user_id, sec,
          row_number() OVER w AS rn,
          [lag(v, 4) OVER w, lag(v, 3) OVER w, lag(v, 2) OVER w,
           lag(v, 1) OVER w, v] AS arr
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id))
      SELECT event_id, user_id, sec, list_sort(arr)[3] AS med_c
      FROM m WHERE rn >= 5 ORDER BY event_id"""))  ,

    // ---- hard-negative mining (contrastive-training pairs) -------------
    // For each anchor in a bounded minibatch (vec_id < 100 — mining
    // always runs per anchor batch at scale), the single most-similar
    // vector with a DIFFERENT label: the hard negative that makes
    // contrastive losses learn. The anchor batch broadcasts (bounded by
    // construction); the corpus side never shuffles until the per-
    // anchor top-1 window, which WindowGroupLimit prunes map-side
    // before the exchange. Cosines ride the codegen'd vec_dot and rank
    // on the rounded value with an id tie-break (the q46 recipe).
    "q186_emb_hard_negatives" -> QueryDef(
      (s, dir) => {
        graft.plans.NativeExpressions.register(s)
        val emb = t(s, dir, "embeddings")
        val anchors = emb.filter(col("vec_id") < 100)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("embedding").as("qe"))
        val pairs = emb.join(broadcast(anchors), col("label") =!= col("qlabel"))
          .withColumn("cos", Similarity.cos("qe", "embedding"))
        pairs
          .withColumn("rnk", row_number().over(Window.partitionBy("qid")
            .orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rnk") === 1)
          .select(col("qid"), col("qlabel").cast("long").as("qlabel"),
            col("vec_id").as("neg_id"),
            col("label").cast("long").as("neg_label"), col("cos"))
          .orderBy("qid")
      },
      Some("""WITH a AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe
        FROM embeddings WHERE vec_id < 100),
      pairs AS (SELECT a.qid, a.qlabel, e.vec_id AS neg_id, e.label AS neg_label,
          round(SUM(CAST(a.qe[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)) /
            (sqrt(SUM(CAST(a.qe[i.i] AS DOUBLE) * CAST(a.qe[i.i] AS DOUBLE))) *
             sqrt(SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))), 6) AS cos
        FROM a, embeddings e, (SELECT unnest(range(1, 65)) AS i) i
        WHERE e.label <> a.qlabel
        GROUP BY 1, 2, 3, 4),
      r AS (SELECT qid, qlabel, neg_id, neg_label, cos,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neg_id) AS rnk
        FROM pairs)
      SELECT qid, CAST(qlabel AS BIGINT) AS qlabel, neg_id,
        CAST(neg_label AS BIGINT) AS neg_label, cos
      FROM r WHERE rnk = 1 ORDER BY qid""")),

    // ---- dedup-first SimHash (duplication-robust strategy) -------------
    // Same operator and SAME ORACLE as q172, the strategy that survives
    // duplication-heavy corpora (the q159/q160 pattern): group
    // bit-identical TEXTS first, run the signature pipeline and the
    // pigeonhole join over unique-text representatives only, then
    // expand matches through the duplicate groups (cross-group pairs
    // inherit the rep pair's distance; intra-group pairs are Hamming 0
    // by construction). On the 10x-replicated probe corpus q172
    // recomputes every stage over 10 copies and enumerates candidate
    // pairs quadratically in cluster size; here the quadratic part is
    // only the final explode of the (inherently quadratic) answer.
    "q188_llm_simhash_dedup" -> QueryDef(
      (s, dir) => {
        val g = t(s, dir, "documents")
          .groupBy("text")
          .agg(min(col("doc_id")).as("doc_id"),
            collect_list(col("doc_id")).as("ids"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val repPairs = hammingPairs(
          simhashSigs(g.select(col("doc_id"), col("text"))))
        val ga = g.select(col("doc_id").as("da"), col("ids").as("idsa"))
        val gb = g.select(col("doc_id").as("db"), col("ids").as("idsb"))
        val cross = repPairs.join(ga, "da").join(gb, "db")
          .select(explode(col("idsa")).as("x"), col("idsb"), col("hamming"))
          .select(col("x"), explode(col("idsb")).as("y"), col("hamming"))
          .select(least(col("x"), col("y")).as("da"),
            greatest(col("x"), col("y")).as("db"), col("hamming"))
        // Intra pairs only for texts that actually produce a simhash
        // signature (>= 1 alphabetic token of length >= 2 after
        // normalization, non-null text) — degenerate texts get no row
        // in simhashSigs, so the oracle omits them and emitting their
        // intra pairs would diverge (mirrors jaccardPairsDeduped's
        // shingling guard).
        val gNorm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
        val intra = g.filter(size(col("ids")) > 1 &&
            col("text").isNotNull &&
            exists(split(gNorm, " "), w => length(w) >= 2))
          .select(explode(col("ids")).as("x"), col("ids"))
          .select(col("x"), explode(col("ids")).as("y"))
          .filter(col("x") < col("y"))
          .select(col("x").as("da"), col("y").as("db"),
            lit(0L).as("hamming"))
        cross.unionByName(intra).orderBy("da", "db")
      },
      Some(simhashOracle)),

    // ---- dedup-first Jaccard pairs (duplication-robust strategy) -------
    // Completes the dedup-first family (q159 cosine, q160 fuzzy, q188
    // simhash): q43's exact near-dup pairs computed over unique
    // (lang, text) representatives and expanded through duplicate
    // groups — intra-group pairs are Jaccard 1.0 by construction
    // whenever the text shingles at all. Same oracle as q43.
    "q189_llm_neardup_dedup" -> QueryDef(
      (s, dir) => graft.operators.Dedup.jaccardPairsDeduped(
          t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5, blockCols = Seq("lang"))
        .orderBy("da", "db"),
      LlmOps.defs("q43_llm_neardup_jaccard").oracle),

    // ---- token-budget mixture packing ----------------------------------
    // Build a training mixture under a PER-SOURCE TOKEN BUDGET (the
    // constraint real pretraining mixes are specified in): docs are
    // ordered by the deterministic hash priority (q155's recipe —
    // unbiased, reproducible), and each source keeps its prefix while
    // the running token total stays within budget. One window cumsum
    // per source; token counts are whitespace words (exact int64).
    "q190_llm_token_budget" -> QueryDef(
      (s, dir) => {
        val nTok = size(split(col("text"), " ")).cast("long")
        val w = Window.partitionBy("source").orderBy(
          Slots.of(col("doc_id"), 1000000L), col("doc_id"))
        t(s, dir, "documents")
          .select(col("source"), col("doc_id"), nTok.as("n_tok"))
          .withColumn("cum_tok", sum("n_tok").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("cum_tok") <= 1000L)
          .select(col("source"), col("doc_id"), col("n_tok"), col("cum_tok"))
          .orderBy("source", "doc_id")
      },
      Some(s"""WITH d AS (SELECT source, doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      c AS (SELECT source, doc_id, n_tok,
          SUM(n_tok) OVER (PARTITION BY source
            ORDER BY ${Slots.sql("doc_id", 1000000)}, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        FROM d)
      SELECT source, doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
      FROM c WHERE cum_tok <= 1000 ORDER BY source, doc_id""")),

    // ---- session path mining (top event-type trigrams) -----------------
    // Product-analytics kernel: the most common 3-step event sequences
    // across user journeys. Window leads build each user's path
    // trigrams on one (user)-ordered exchange (the q161 lead shape —
    // no per-user collect_list materialization), then one count
    // aggregate; top-20 with a lexical tie-break.
    "q191_evt_path_trigrams" -> QueryDef(
      (s, dir) => {
        val ev = graft.sources.Events.load(s, dir)
          .select(col("user_id"), col("sec"), col("event_id"), col("event_type"))
        val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        ev.withColumn("t2", lead(col("event_type"), 1).over(w))
          .withColumn("t3", lead(col("event_type"), 2).over(w))
          .filter(col("t3").isNotNull)
          .groupBy(concat_ws(">", col("event_type"), col("t2"), col("t3"))
            .as("path"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path")).limit(20)
      },
      Some(s"""WITH e AS (SELECT user_id, event_id, event_type,
          ${graft.util.Det.epochSecSql("ts")} AS sec FROM events),
      p AS (SELECT event_type AS t1,
          lead(event_type, 1) OVER w AS t2,
          lead(event_type, 2) OVER w AS t3
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id))
      SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
      FROM p WHERE t3 IS NOT NULL
      GROUP BY 1 ORDER BY n DESC, path LIMIT 20""")),

    // ---- cross-split contamination check -------------------------------
    // After a hash split (q79's recipe), does any TEST document share a
    // winnowing fingerprint (>= 23-char substring, q161 pipeline) with
    // any TRAIN document? That's eval contamination the split itself
    // can't prevent (near-dups land on both sides of a random split).
    // One fingerprint shuffle joins the two sides; output is the
    // contaminated test docs with their evidence counts.
    "q192_llm_split_contamination" -> QueryDef(
      (s, dir) => {
        val fps = Round4.winnowFingerprints(s, dir)
          .withColumn("is_train",
            Slots.of(col("doc_id"), 10L) < 8)
        val train = fps.filter(col("is_train")).select(col("fp")).distinct()
        fps.filter(!col("is_train"))
          .join(train, Seq("fp"), "left_semi")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared_fp"))
          .orderBy("doc_id")
      },
      Some(Round4.winnowCte + s""",
      fps AS (SELECT DISTINCT doc_id, fp FROM w),
      t AS (SELECT doc_id, fp, ${Slots.sql("doc_id", 10)} < 8 AS is_train
        FROM fps),
      train AS (SELECT DISTINCT fp FROM t WHERE is_train)
      SELECT doc_id, COUNT(*) AS n_shared_fp
      FROM t WHERE NOT is_train AND fp IN (SELECT fp FROM train)
      GROUP BY doc_id ORDER BY doc_id""")),

    // ---- padding-waste profile (batch packing efficiency) --------------
    // For fixed-length training batches, how many pad tokens does each
    // source waste? Bucket every doc's token count up to the next
    // multiple of 64 (the max-len granularity) and aggregate real vs
    // padded tokens per source — the metric that says whether sequence
    // packing (q103) is worth running. Stateless per-row math + one
    // aggregate.
    "q193_llm_padding_waste" -> QueryDef(
      (s, dir) => {
        val nTok = size(split(col("text"), " ")).cast("long")
        t(s, dir, "documents")
          .select(col("source"), nTok.as("n_tok"))
          .withColumn("padded", expr("((n_tok + 63L) div 64L) * 64L"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tok").cast("long").as("real_tok"),
            sum("padded").cast("long").as("padded_tok"))
          .withColumn("waste_rate",
            (col("padded_tok") - col("real_tok")).cast("double") /
              col("padded_tok"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
      p AS (SELECT source, n_tok, ((n_tok + 63) // 64) * 64 AS padded FROM d)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS real_tok,
        CAST(SUM(padded) AS BIGINT) AS padded_tok,
        CAST(SUM(padded) - SUM(n_tok) AS DOUBLE) / SUM(padded) AS waste_rate
      FROM p GROUP BY source ORDER BY source""")),

    // ---- content-checksum integrity manifest ---------------------------
    // Replication/migration verification primitive: per table, a row
    // count plus an ORDER-INDEPENDENT content checksum (sum of each
    // row's 24-bit md5 prefix — commutative, so any partitioning or
    // scan order yields the same value, and a single flipped row
    // changes it). Row fingerprints use only int/string/date columns
    // rendered identically in both engines. At 100 TB this is one scan
    // per table with a map-side partial sum — the cheapest possible
    // "did the copy arrive intact" check.
    "q194_integrity_manifest" -> QueryDef(
      (s, dir) => {
        def manifest(tbl: String, fp: org.apache.spark.sql.Column) = {
          t(s, dir, tbl).select(
            lit(tbl).as("tbl"),
            conv(substring(md5(fp), 1, 6), 16, 10).cast("long").as("h"))
            .groupBy("tbl")
            .agg(count(lit(1)).as("n_rows"), sum("h").as("checksum"))
        }
        manifest("customer", concat_ws("|",
            col("c_custkey"), col("c_name"), col("c_mktsegment")))
          .unionAll(manifest("orders", concat_ws("|",
            col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_orderdate").cast("date"))))
          .unionAll(manifest("supplier", concat_ws("|",
            col("s_suppkey"), col("s_name"), col("s_nationkey"))))
          .orderBy("tbl")
      },
      Some {
        def b(i: Int) = Round3.hexByteSql("hx", i)
        def q(tbl: String, fp: String) =
          s"""SELECT '$tbl' AS tbl, COUNT(*) AS n_rows,
            CAST(SUM(${b(0)} * 65536 + ${b(1)} * 256 + ${b(2)}) AS BIGINT)
              AS checksum
          FROM (SELECT md5($fp) AS hx FROM $tbl)"""
        q("customer", "c_custkey || '|' || c_name || '|' || c_mktsegment") +
          " UNION ALL " +
          q("orders", "o_orderkey || '|' || o_custkey || '|' || o_orderstatus" +
            " || '|' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)") +
          " UNION ALL " +
          q("supplier", "s_suppkey || '|' || s_name || '|' || s_nationkey") +
          " ORDER BY tbl"
      }),

    // ---- robust outlier flagging (median/MAD z-score) ------------------
    // Outlier detection that survives the outliers themselves: per
    // event type, flag values whose modified z-score
    // |v - median| / (1.4826 * MAD) exceeds 3.5 (the Iglewicz–Hoaglin
    // rule). Mean/stddev z-scores (q131) move with the outliers;
    // median and MAD don't. Two median aggregates over integer cents
    // (exact in both engines) + joins back on the bounded type key —
    // the per-group constants broadcast by size estimate.
    "q195_ts_robust_outliers" -> QueryDef(
      (s, dir) => {
        val ev = graft.sources.Events.load(s, dir)
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100).cast("long").as("v"))
        val med = ev.groupBy("event_type").agg(median(col("v")).as("med"))
        val dev = ev.join(med, "event_type")
          .withColumn("adev", abs(col("v") - col("med")))
        val mad = dev.groupBy("event_type").agg(median(col("adev")).as("mad"))
        dev.join(mad, "event_type")
          .filter(col("mad") > 0)
          .withColumn("z", (col("v") - col("med")) / (lit(1.4826) * col("mad")))
          .filter(abs(col("z")) > 3.5)
          .select(col("event_id"), col("event_type"), col("v"),
            round(col("z"), 6).as("z"))
          .orderBy("event_id")
      },
      Some(s"""WITH e AS (SELECT event_id, event_type,
          CAST(floor(value * 100) AS BIGINT) AS v FROM events),
      med AS (SELECT event_type, median(v) AS med FROM e GROUP BY 1),
      dev AS (SELECT e.event_id, e.event_type, e.v, med.med,
          abs(e.v - med.med) AS adev
        FROM e JOIN med ON e.event_type = med.event_type),
      mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1),
      z AS (SELECT dev.event_id, dev.event_type, dev.v,
          (dev.v - dev.med) / (1.4826 * mad.mad) AS z
        FROM dev JOIN mad ON dev.event_type = mad.event_type
        WHERE mad.mad > 0)
      SELECT event_id, event_type, v, round(z, 6) AS z
      FROM z WHERE abs(z) > 3.5 ORDER BY event_id""")),

    // ---- inter-arrival time distribution (per event type) --------------
    // Traffic-shape profiling: the distribution of per-user gaps
    // between consecutive events of each type — p50/p95 inter-arrival
    // plus burst share (gaps <= 1 s). One per-user window builds the
    // gaps; one aggregate per type summarizes. Gaps are whole-second
    // ints; percentiles interpolate identically in both engines (the
    // q17 recipe).
    "q196_evt_interarrival" -> QueryDef(
      (s, dir) => {
        val ev = graft.sources.Events.load(s, dir)
          .select(col("user_id"), col("event_type"), col("sec"), col("event_id"))
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy("sec", "event_id")
        ev.withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
          .filter(col("gap").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_gaps"),
            round(expr("percentile(gap, 0.5)"), 6).as("p50_gap"),
            round(expr("percentile(gap, 0.95)"), 6).as("p95_gap"),
            sum(when(col("gap") <= 1L, 1L).otherwise(0L)).as("n_burst"))
          .withColumn("burst_rate",
            col("n_burst").cast("double") / col("n_gaps"))
          .orderBy("event_type")
      },
      Some(s"""WITH e AS (SELECT user_id, event_type, event_id,
          ${graft.util.Det.epochSecSql("ts")} AS sec FROM events),
      g AS (SELECT event_type,
          sec - lag(sec) OVER (PARTITION BY user_id, event_type
            ORDER BY sec, event_id) AS gap
        FROM e)
      SELECT event_type, COUNT(*) AS n_gaps,
        round(quantile_cont(gap, 0.5), 6) AS p50_gap,
        round(quantile_cont(gap, 0.95), 6) AS p95_gap,
        CAST(SUM(CASE WHEN gap <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_burst,
        CAST(SUM(CASE WHEN gap <= 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
          AS burst_rate
      FROM g WHERE gap IS NOT NULL
      GROUP BY event_type ORDER BY event_type""")),

    // ---- near-dup pipeline evaluation (precision/recall) ---------------
    // Tuning meta-query: how well do the SimHash Hamming<=3 candidates
    // (q172 pipeline) recover the exact >= 0.5 Jaccard ground truth
    // (q43 pipeline)? Joins the two pair sets and reports
    // precision/recall — the measurement loop a pipeline owner runs
    // before trading exactness for scale. Both inputs are the already-
    // verified deterministic pipelines; the eval is two semi-join
    // counts and exact int/int divisions.
    "q197_llm_neardup_eval" -> QueryDef(
      (s, dir) => {
        val truth = LlmOps.jaccardPairsShared(s, dir).select("da", "db")
        val cand = simhashHamming3(s, dir).select("da", "db")
        val hit = truth.join(cand, Seq("da", "db"), "left_semi")
        truth.agg(count(lit(1)).as("n_truth")).crossJoin(
            cand.agg(count(lit(1)).as("n_cand")))
          .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
          .select(col("n_truth"), col("n_cand"), col("n_hit"),
            (col("n_hit").cast("double") / col("n_cand")).as("precision"),
            (col("n_hit").cast("double") / col("n_truth")).as("recall"))
      },
      Some(simhashCte + s""",
      cd AS (SELECT da, db FROM ham WHERE h <= 3),
      s2 AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      tr0 AS (SELECT doc_id, lang, w[i.i] || '_' || w[i.i+1] || '_' || w[i.i+2] AS g
        FROM s2, ${LlmOps.shingleIdx("s2")} WHERE i.i + 2 <= len(w)),
      trs AS (SELECT DISTINCT doc_id, lang, g FROM tr0),
      trz AS (SELECT doc_id, COUNT(*) AS n FROM trs GROUP BY doc_id),
      trp AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        FROM trs a JOIN trs b ON a.g = b.g AND a.lang = b.lang
          AND a.doc_id < b.doc_id GROUP BY 1, 2),
      tr AS (SELECT da, db FROM trp JOIN trz x ON trp.da = x.doc_id
        JOIN trz y ON trp.db = y.doc_id
        WHERE inter / (x.n + y.n - inter) >= 0.5),
      hit AS (SELECT tr.da, tr.db FROM tr
        JOIN cd ON tr.da = cd.da AND tr.db = cd.db)
      SELECT (SELECT COUNT(*) FROM tr) AS n_truth,
        (SELECT COUNT(*) FROM cd) AS n_cand,
        (SELECT COUNT(*) FROM hit) AS n_hit,
        CAST((SELECT COUNT(*) FROM hit) AS DOUBLE) /
          (SELECT COUNT(*) FROM cd) AS precision,
        CAST((SELECT COUNT(*) FROM hit) AS DOUBLE) /
          (SELECT COUNT(*) FROM tr) AS recall""")),

    // ---- 2-D skyline (Pareto frontier), distributed prefix scan --------
    // Orders on the (cheaper, more recent) Pareto frontier: no other
    // order is both cheaper AND newer. The naive formulation is an
    // all-pairs dominance anti-join; the 2-D case collapses to a
    // prefix scan by price. A single global window would serialize
    // into one partition, so this is the DISTRIBUTED prefix-scan
    // shape: rows bucket by price range (bucket count tracks the value
    // DOMAIN, not the row count), each bucket computes its local
    // running max in parallel, a bucket-level window over the tiny
    // bucket summary carries the cross-bucket prefix, and each row
    // combines the two. Equal prices stay in one bucket, so the
    // cross-bucket prefix is always strictly cheaper.
    "q198_skyline_2d" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_totalprice"),
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
          .withColumn("b", floor(col("o_totalprice") / 10000.0).cast("long"))
        val bmax = o.groupBy("b").agg(max("day").as("bday"))
          .withColumn("pmax", max(col("bday")).over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)))
          .select(col("b"), col("pmax"))
        val wIn = Window.partitionBy("b")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, -1)
        o.withColumn("prev_in", max(col("day")).over(wIn))
          .join(bmax, "b")
          .withColumn("best_prev", greatest(
            coalesce(col("prev_in"), lit(Long.MinValue)),
            coalesce(col("pmax"), lit(Long.MinValue))))
          .filter(col("day") > col("best_prev"))
          .select(col("o_orderkey"), col("o_totalprice"), col("day"))
          .orderBy("o_orderkey")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_totalprice,
          CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day
        FROM orders),
      s AS (SELECT o_orderkey, o_totalprice, day,
          MAX(day) OVER (ORDER BY o_totalprice, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_prev
        FROM o)
      SELECT o_orderkey, o_totalprice, day FROM s
      WHERE best_prev IS NULL OR day > best_prev
      ORDER BY o_orderkey""")),

    // ---- A/B lift (two-proportion z, exact counts) ---------------------
    // Deterministic hash split of users into arms, purchase-conversion
    // per arm, and the two-proportion z statistic — every count exact
    // int64, the z a single closed-form double both engines evaluate
    // identically. The experiment-analysis query every event pipeline
    // ends at; one user-level aggregate plus arm rollups.
    "q199_evt_ab_lift" -> QueryDef(
      (s, dir) => {
        val ev = graft.sources.Events.load(s, dir)
        val users = ev.groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase" &&
              col("value") > 150, 1L)
            .otherwise(0L)).as("converted"))
          .withColumn("arm",
            when(Slots.of(col("user_id"), 2L) === 0,
              "A").otherwise("B"))
        val arms = users.groupBy("arm")
          .agg(count(lit(1)).as("n_users"),
            sum("converted").cast("long").as("n_conv"))
        val a = arms.filter(col("arm") === "A")
          .select(col("n_users").as("na"), col("n_conv").as("ca"))
        val b = arms.filter(col("arm") === "B")
          .select(col("n_users").as("nb"), col("n_conv").as("cb"))
        a.crossJoin(b).select(
          col("na"), col("ca"), col("nb"), col("cb"),
          (col("ca").cast("double") / col("na")).as("rate_a"),
          (col("cb").cast("double") / col("nb")).as("rate_b"),
          round((col("cb").cast("double") / col("nb") -
              col("ca").cast("double") / col("na")) /
            sqrt(((col("ca") + col("cb")).cast("double") / (col("na") + col("nb"))) *
              (lit(1.0) - (col("ca") + col("cb")).cast("double") / (col("na") + col("nb"))) *
              (lit(1.0) / col("na") + lit(1.0) / col("nb"))), 6).as("z"))
      },
      Some(s"""WITH u AS (SELECT user_id,
          MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS converted,
          CASE WHEN ${Slots.sql("user_id", 2)} = 0 THEN 'A' ELSE 'B' END AS arm
        FROM events GROUP BY user_id),
      arms AS (SELECT arm, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS c
        FROM u GROUP BY arm),
      a AS (SELECT n AS na, c AS ca FROM arms WHERE arm = 'A'),
      b AS (SELECT n AS nb, c AS cb FROM arms WHERE arm = 'B')
      SELECT na, ca, nb, cb,
        CAST(ca AS DOUBLE) / na AS rate_a,
        CAST(cb AS DOUBLE) / nb AS rate_b,
        round((CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na) /
          sqrt((CAST(ca + cb AS DOUBLE) / (na + nb)) *
            (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) *
            (1.0 / na + 1.0 / nb)), 6) AS z
      FROM a, b""")),

    // ---- end-to-end curation composite (round-4 capstone) --------------
    // The full training-data curation chain in one scored query:
    // (1) quality gate (length + word count), (2) exact dedup (min-id
    // survivor per text), (3) near-dup removal (drop the higher-id doc
    // of every >= 0.5 Jaccard pair among survivors — q43's pipeline on
    // the deduped corpus, per the catalog's own exact-then-near
    // ordering), (4) per-source token budget (q190's hash-priority
    // prefix). Output: the curated manifest per source. Every stage is
    // one of this round's verified operators; the oracle replays the
    // identical chain.
    "q200_llm_curation_pipeline" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(length(col("text")) >= 40 &&
            size(split(col("text"), " ")) >= 8)
        val exact = graft.operators.Dedup.firstPerKey(
          docs, Seq("text"), Seq(col("doc_id")))
        val nd = graft.operators.Dedup.jaccardPairs(
          exact, "doc_id", "text", n = 3, threshold = 0.5,
          blockCols = Seq("lang"))
        val survivors = exact.join(
          nd.select(col("db").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        val nTok = size(split(col("text"), " ")).cast("long")
        val w = Window.partitionBy("source").orderBy(
          Slots.of(col("doc_id"), 1000000L), col("doc_id"))
        survivors
          .select(col("source"), col("doc_id"), nTok.as("n_tok"))
          .withColumn("cum_tok", sum("n_tok").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("cum_tok") <= 2000L)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tok").cast("long").as("n_tok"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("source")
      },
      Some(s"""WITH q AS (SELECT * FROM documents
        WHERE length(text) >= 40 AND len(string_split(text, ' ')) >= 8),
      ex AS (SELECT * FROM (SELECT *, row_number() OVER (
          PARTITION BY text ORDER BY doc_id) AS rn FROM q) WHERE rn = 1),
      sp AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM ex),
      sh0 AS (SELECT doc_id, lang, w[i.i] || '_' || w[i.i+1] || '_' || w[i.i+2] AS g
        FROM sp, ${LlmOps.shingleIdx("sp")} WHERE i.i + 2 <= len(w)),
      sh AS (SELECT DISTINCT doc_id, lang, g FROM sh0),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      p AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.g = b.g AND a.lang = b.lang
          AND a.doc_id < b.doc_id GROUP BY 1, 2),
      drop0 AS (SELECT DISTINCT db AS doc_id FROM p
        JOIN sz x ON p.da = x.doc_id JOIN sz y ON p.db = y.doc_id
        WHERE inter / (x.n + y.n - inter) >= 0.5),
      sv AS (SELECT ex.source, ex.doc_id,
          CAST(len(string_split(ex.text, ' ')) AS BIGINT) AS n_tok
        FROM ex WHERE ex.doc_id NOT IN (SELECT doc_id FROM drop0)),
      c AS (SELECT source, doc_id, n_tok,
          SUM(n_tok) OVER (PARTITION BY source
            ORDER BY ${Slots.sql("doc_id", 1000000)}, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        FROM sv)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tok,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM c WHERE cum_tok <= 2000 GROUP BY source ORDER BY source""")),

    // ---- ER match scoring (weighted field agreement) -------------------
    // Fellegi–Sunter-shaped decision layer over the sorted-neighborhood
    // candidates (q173): each candidate pair scores integer agreement
    // weights per field (same source +2, length within 5 +1, 60-char
    // edit distance <= 10 +2) and classifies match / possible /
    // non-match on fixed thresholds. Completes the ER suite — blocking
    // (q173), comparison (q143/q160), decision (here) — with exact
    // integer scoring on bounded candidates.
    "q201_llm_er_decision" -> QueryDef(
      (s, dir) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), " +", " "))
        val k = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), norm.as("t"),
            length(col("text")).as("len"))
          .withColumn("rn", row_number().over(Window.partitionBy("lang")
            .orderBy(substring(col("t"), 1, 20), col("doc_id"))))
          .withColumn("g", expr("rn div 5"))
        val a = k.withColumn("jg", explode(array(col("g"), col("g") + 1)))
        val score =
          when(col("a.source") === col("b.source"), 2L).otherwise(0L) +
          when(abs(col("a.len") - col("b.len")) <= 5, 1L).otherwise(0L) +
          when(levenshtein(substring(col("a.t"), 1, 60),
            substring(col("b.t"), 1, 60)) <= 10, 2L).otherwise(0L)
        a.as("a").join(k.as("b"),
            col("a.lang") === col("b.lang") && col("a.jg") === col("b.g") &&
              (col("b.rn") - col("a.rn")).between(1, 5))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            score.as("score"))
          .withColumn("cls",
            when(col("score") >= 4, "match")
              .when(col("score") >= 2, "possible").otherwise("non_match"))
          .orderBy("da", "db")
      },
      Some("""WITH n AS (SELECT doc_id, lang, source,
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),
            ' +', ' ', 'g')) AS t,
          length(text) AS len
        FROM documents),
      k AS (SELECT doc_id, lang, source, t, len, row_number() OVER (
          PARTITION BY lang ORDER BY t[1:20], doc_id) AS rn FROM n),
      pr AS (SELECT a.doc_id AS da, b.doc_id AS db,
          (CASE WHEN a.source = b.source THEN 2 ELSE 0 END +
           CASE WHEN abs(a.len - b.len) <= 5 THEN 1 ELSE 0 END +
           CASE WHEN levenshtein(a.t[1:60], b.t[1:60]) <= 10 THEN 2 ELSE 0 END)
            AS score
        FROM k a JOIN k b ON a.lang = b.lang AND b.rn - a.rn BETWEEN 1 AND 5)
      SELECT da, db, CAST(score AS BIGINT) AS score,
        CASE WHEN score >= 4 THEN 'match'
             WHEN score >= 2 THEN 'possible' ELSE 'non_match' END AS cls
      FROM pr ORDER BY da, db""")),

    // ---- PII density profile (governance rollup) -----------------------
    // Corpus-level release gate companion to q80's redaction: per
    // source, how dense are email-shaped and phone-shaped spans, per
    // 1000 characters? (The fixture text is synthetic soup, so counts
    // are near zero — the point is the exactly-scored metric shape:
    // regexp span counting + exact int rates, one scan + one rollup.)
    "q202_llm_pii_density" -> QueryDef(
      (s, dir) => {
        val emails = size(expr(
          "regexp_extract_all(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', 0)"))
          .cast("long")
        val phones = size(expr(
          "regexp_extract_all(text, '[0-9]{3}-[0-9]{4}', 0)")).cast("long")
        t(s, dir, "documents")
          .select(col("source"), length(col("text")).cast("long").as("nc"),
            emails.as("ne"), phones.as("np"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("nc").cast("long").as("n_chars"),
            sum("ne").cast("long").as("n_emails"),
            sum("np").cast("long").as("n_phones"))
          .withColumn("pii_per_kchar",
            (col("n_emails") + col("n_phones")).cast("double") * 1000.0 /
              col("n_chars"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source, CAST(length(text) AS BIGINT) AS nc,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+')) AS BIGINT) AS ne,
          CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS np
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(nc) AS BIGINT) AS n_chars,
        CAST(SUM(ne) AS BIGINT) AS n_emails,
        CAST(SUM(np) AS BIGINT) AS n_phones,
        CAST(SUM(ne) + SUM(np) AS DOUBLE) * 1000.0 / SUM(nc) AS pii_per_kchar
      FROM d GROUP BY source ORDER BY source""")),

    // ---- cross-lingual contamination (shared fingerprints) -------------
    // Winnowing fingerprints shared across documents in DIFFERENT
    // languages — the translated-or-copied-content signal a multilingual
    // corpus audit looks for (same >= 23-char substring surviving in two
    // language buckets). Reuses the q161 fingerprint pipeline and its
    // oracle CTE; one fp-keyed join between language partitions.
    "q203_llm_crosslang_fp" -> QueryDef(
      (s, dir) => {
        // both self-join sides read the fingerprint relation — persist,
        // or the char-window winnow pipeline executes once per side
        val fps = Round4.winnowFingerprints(s, dir)
          .join(t(s, dir, "documents").select("doc_id", "lang"), "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        fps.as("a").join(fps.as("b"),
            col("a.fp") === col("b.fp") && col("a.lang") < col("b.lang"))
          .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
          .agg(countDistinct(col("a.fp")).as("n_shared_fp"),
            countDistinct(col("a.doc_id")).as("n_docs_a"),
            countDistinct(col("b.doc_id")).as("n_docs_b"))
          .orderBy("lang_a", "lang_b")
      },
      Some(Round4.winnowCte + """,
      fps0 AS (SELECT DISTINCT doc_id, fp FROM w),
      fps AS (SELECT f.doc_id, f.fp, d.lang FROM fps0 f
        JOIN documents d ON f.doc_id = d.doc_id)
      SELECT a.lang AS lang_a, b.lang AS lang_b,
        COUNT(DISTINCT a.fp) AS n_shared_fp,
        COUNT(DISTINCT a.doc_id) AS n_docs_a,
        COUNT(DISTINCT b.doc_id) AS n_docs_b
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.lang < b.lang
      GROUP BY 1, 2 ORDER BY lang_a, lang_b""")),

    // ---- column completeness audit (relational data quality) -----------
    // Per-column null/blank rates for an ingest table — the first data-
    // quality report any pipeline emits. One scan, every column counted
    // in the same aggregate (no per-column passes), unpivoted to one
    // row per column for a stable report schema.
    "q204_dq_completeness" -> QueryDef(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val cols = Seq("c_custkey", "c_name", "c_nationkey",
          "c_acctbal", "c_mktsegment")
        val agg = c.agg(count(lit(1)).as("n_rows"),
          cols.flatMap(cn => Seq(
            sum(when(col(cn).isNull, 1L).otherwise(0L)).as(s"${cn}__nn"),
            sum(when(col(cn).cast("string") === "", 1L).otherwise(0L))
              .as(s"${cn}__nb"))): _*)
        val stacked = cols.map(cn => s"'$cn', ${cn}__nn, ${cn}__nb")
          .mkString(", ")
        agg.select(col("n_rows"),
            expr(s"stack(${cols.size}, $stacked) AS (col_name, n_null, n_blank)"))
          .select(col("col_name"), col("n_rows"), col("n_null"), col("n_blank"),
            ((col("n_rows") - col("n_null")).cast("double") / col("n_rows"))
              .as("completeness"))
          .orderBy("col_name")
      },
      Some {
        val cols = Seq("c_custkey", "c_name", "c_nationkey",
          "c_acctbal", "c_mktsegment")
        val branches = cols.map(cn =>
          s"""SELECT '$cn' AS col_name, COUNT(*) AS n_rows,
            CAST(SUM(CASE WHEN $cn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
            CAST(SUM(CASE WHEN CAST($cn AS VARCHAR) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank
          FROM customer""").mkString(" UNION ALL ")
        s"""SELECT col_name, n_rows, n_null, n_blank,
          CAST(n_rows - n_null AS DOUBLE) / n_rows AS completeness
        FROM ($branches) ORDER BY col_name"""
      }),

    // ---- last-touch attribution (as-of over event streams) -------------
    // Marketing attribution: every purchase credited to the user's most
    // recent preceding click/view (strictly before the purchase by
    // sort order at equal seconds). Reuses AsOfJoin.asOfCode — the
    // union + running-max single-shuffle shape (q12/q113 use it on
    // orders; this is the event-stream instance). The attributed
    // (sec, event_id) is recovered from the packed code by integer
    // division. sec*1e9 + id stays under 2^63 (q113's bound).
    "q205_evt_last_touch" -> QueryDef(
      (s, dir) => {
        val ev = graft.sources.Events.load(s, dir)
        val probes = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("sec"), col("event_id"))
        val sources = ev.filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), col("sec"),
            (col("sec") * lit(1000000000L) + col("event_id")).as("code"))
        graft.operators.AsOfJoin
          .asOfCode(probes, sources, "user_id", "sec", "event_id")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            expr("match_code div 1000000000L").as("touch_sec"),
            expr("match_code % 1000000000L").as("touch_id"))
          .orderBy("purchase_id")
      },
      Some(s"""WITH e AS (SELECT event_id, user_id, event_type,
          ${graft.util.Det.epochSecSql("ts")} AS sec FROM events),
      p AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'purchase'),
      c AS (SELECT user_id, sec, sec * 1000000000 + event_id AS code
        FROM e WHERE event_type IN ('click', 'view')),
      m AS (SELECT p.event_id AS purchase_id, p.user_id,
          MAX(c.code) AS match_code
        FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.sec <= p.sec
        GROUP BY 1, 2)
      SELECT purchase_id, user_id,
        match_code // 1000000000 AS touch_sec,
        match_code % 1000000000 AS touch_id
      FROM m ORDER BY purchase_id""")),

    // ---- duplicate-cluster size distribution ---------------------------
    // Corpus-shape statistic the dedup-first strategies (q188/q189)
    // exploit: how big are the exact-duplicate clusters, per source?
    // Two cheap aggregates (text -> cluster, size -> histogram) —
    // a monitoring query worth running before choosing between the
    // all-docs and dedup-first near-dup paths.
    "q206_llm_dup_cluster_hist" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .groupBy("source", "text")
        .agg(count(lit(1)).as("sz"))
        .groupBy("source", "sz")
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("source", "sz"),
      Some("""WITH g AS (SELECT source, COUNT(*) AS sz FROM documents
        GROUP BY source, text)
      SELECT source, sz, COUNT(*) AS n_clusters
      FROM g GROUP BY 1, 2 ORDER BY source, sz""")),

    // ---- modern SQL surface: GROUP BY ALL / ORDER BY ALL ---------------
    // The DuckDB-pioneered shorthand Spark adopted in 3.4: every
    // non-aggregate select item groups implicitly, and ORDER BY ALL
    // sorts by the whole select list. The SAME SQL TEXT runs in both
    // engines — the query and its oracle are character-identical, which
    // is itself the point (dialect convergence on the analytics
    // surface).
    "q207_sql_group_by_all" -> QueryDef(
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("orders_v")
        t(s, dir, "customer").createOrReplaceTempView("customer_v")
        s.sql(q207Sql("orders_v", "customer_v"))
          .select(col("seg"), col("status"),
            col("n").cast("long").as("n"), col("total_price"))
      },
      Some(q207Sql("orders", "customer"))),

    // ---- per-dimension embedding statistics (embedding QC) -------------
    // Distribution health per embedding dimension — dead dims (zero
    // variance), scale drift, and outliers are the standard pre-train
    // checks on an embedding column. One posexplode (corpus × 64 rows,
    // bounded constant fan-out) then one partial+final aggregate per
    // dim; float values are cast to double once and means go through
    // the exact-decimal Det path so results are partitioning-stable.
    "q187_emb_dim_stats" -> QueryDef(
      (s, dir) => {
        import graft.util.Det
        t(s, dir, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("p", "vf")))
          .select((col("p") + 1).cast("long").as("dim"),
            col("vf").cast("double").as("v"))
          .groupBy("dim")
          .agg(count(lit(1)).as("n"),
            Det.davg(col("v")).as("mean"),
            (Det.dsum(col("v") * col("v")) / count(lit(1))).as("mean_sq"),
            min("v").as("min_v"), max("v").as("max_v"))
          .orderBy("dim")
      },
      Some(s"""WITH x AS (SELECT i.i AS dim,
          CAST(embedding[i.i] AS DOUBLE) AS v
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i)
      SELECT CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
        ${graft.util.Det.davgSql("v")} AS mean,
        ${graft.util.Det.dsumSql("v * v")} / COUNT(*) AS mean_sq,
        MIN(v) AS min_v, MAX(v) AS max_v
      FROM x GROUP BY dim ORDER BY dim""")),

    // ---- null-aware anti join (NOT IN with nullable sides) -------------
    // `x NOT IN (subquery)` under SQL three-valued logic: if the
    // subquery produces ANY null the result is empty-or-unknown for
    // non-members, and a null probe never qualifies — semantics a plain
    // LeftAnti join gets wrong. Spark plans the single-column form as
    // BroadcastHashJoin LeftAnti with isNullAwareAntiJoin=true. Here
    // the probe side is made nullable (NULLIF) while the subquery side
    // is kept null-free (IS NOT NULL guard), so the result is the
    // non-degenerate branch: all non-null probes absent from the set.
    "q180_join_not_in" -> QueryDef(
      (s, dir) => {
        t(s, dir, "supplier").createOrReplaceTempView("q180_supplier")
        t(s, dir, "lineitem").createOrReplaceTempView("q180_lineitem")
        s.sql("""SELECT s_suppkey, s_name FROM q180_supplier
          WHERE nullif(s_suppkey, 7) NOT IN
            (SELECT l_suppkey FROM q180_lineitem
             WHERE l_returnflag = 'R' AND l_quantity >= 50
               AND l_extendedprice > 90000 AND l_suppkey IS NOT NULL)
          ORDER BY s_suppkey""")
          .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"))
      },
      Some("""SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name FROM supplier
      WHERE nullif(s_suppkey, 7) NOT IN
        (SELECT l_suppkey FROM lineitem
         WHERE l_returnflag = 'R' AND l_quantity >= 50
           AND l_extendedprice > 90000 AND l_suppkey IS NOT NULL)
      ORDER BY s_suppkey"""))
  )
}
