package graft

import org.apache.spark.sql.functions._
import graft.operators._

class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  test("asOfCode: latest source at-or-before each probe, per key") {
    val probes = Seq((1L, 10L, 100L), (1L, 5L, 101L), (2L, 7L, 102L))
      .toDF("k", "t", "pid")
    val sources = Seq((1L, 4L, 41L), (1L, 10L, 110L), (2L, 8L, 88L))
      .toDF("k", "t", "code")
    val out = AsOfJoin.asOfCode(probes, sources, "k", "t", "pid")
      .collect().map(r => (r.getLong(0), Option(r.get(2)))).toMap
    assert(out(100L).contains(110L)) // source at t=10 counts (at-or-before)
    assert(out(101L).contains(41L))  // only t=4 is <= 5
    assert(out(102L).isEmpty)        // t=8 source is after probe t=7
  }

  test("asOf: payload forward-fill with nulls before first source") {
    val left = Seq((1L, 5L, "p1"), (1L, 20L, "p2")).toDF("k", "t", "pname")
    val right = Seq((1L, 10L, 7L)).toDF("k", "t", "rid")
    val out = AsOfJoin.asOf(left, right, "k", "t", "rid", Seq("rid"))
      .orderBy("t").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("rid")))
    assert(out(1).getLong(out(1).fieldIndex("rid")) == 7L)
  }

  test("Sessionize.bySeconds splits on gap >= threshold") {
    val df = Seq((1L, 0L, 1L), (1L, 100L, 2L), (1L, 2000L, 3L), (2L, 0L, 4L))
      .toDF("u", "sec", "id")
    val s = Sessionize.bySeconds(df, "u", "sec", "id", 1800L)
      .select("id", "session_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(1L) == 0 && s(2L) == 0) // gap 100 < 1800: same session
    assert(s(3L) == 1)               // gap 1900 >= 1800: new session
    assert(s(4L) == 0)               // separate key restarts numbering
  }

  test("Dedup.exact keeps min tiebreak per key") {
    val df = Seq(("a", 2L), ("a", 1L), ("b", 9L)).toDF("k", "id")
    val out = Dedup.exact(df, Seq("k"), "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 1L, "b" -> 9L))
  }

  test("jaccardPairs finds the planted near-dup and only it") {
    val base = "a b c d e f g h i j k l m n o p"
    val near = "a b c d e f g h i j k l m n o q" // one word changed
    val other = "z y x w v u t s r q p o n m l k"
    val docs = Seq((1L, base, "en"), (2L, near, "en"), (3L, other, "en"),
      (4L, base, "de")).toDF("doc_id", "text", "lang")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, Seq("lang"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L))) // 4 is blocked by lang, 3 dissimilar
  }

  test("components assigns min-reachable id across chained pairs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val comps = Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("ApproxNtile: monotone value-based buckets, near-equal sizes") {
    val cust = graft.sources.Tables.load(spark, sf, "customer")
    val n = 4
    val bucketed = ApproxNtile(cust, "c_acctbal", n)
    val stats = bucketed.groupBy("tile")
      .agg(count(lit(1)).as("cnt"), min("c_acctbal").as("lo"),
        max("c_acctbal").as("hi"))
      .orderBy("tile").collect()
    assert(stats.length == n)
    // buckets are ordered by value: each bucket's max <= next bucket's min
    stats.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(3) <= b.getDouble(2)) // prev hi <= next lo
    }
    // near-equal sizes (exact cutpoints, near-unique doubles)
    val total = cust.count()
    stats.foreach { r =>
      assert(math.abs(r.getLong(1) - total / n) <= total / n / 4 + 1,
        s"bucket sizes skewed: ${stats.mkString(",")}")
    }
    // no single-partition exchange in the plan (the point of the operator)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"))
  }

  test("componentsStar matches components on chains, stars, and merges") {
    // long chain (worst case for label propagation), a star, a diamond
    // merge, and an isolated pair
    val pairs = (
      (1L to 9L).map(i => (i, i + 1)) ++ // chain 1..10
        Seq((20L, 21L), (20L, 22L), (20L, 23L)) ++ // star
        Seq((30L, 31L), (31L, 33L), (30L, 32L), (32L, 33L)) ++ // diamond
        Seq((40L, 41L))
    ).toDF("da", "db")
    val expect = Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.componentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(got(10L) == 1L && got(23L) == 20L && got(33L) == 30L && got(41L) == 40L)
  }

  test("componentsStar handles reversed/duplicated edge input") {
    val pairs = Seq((2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L), (3L, 3L))
      .toDF("da", "db")
    val got = Dedup.componentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("contaminated flags only docs overlapping the benchmark set") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),  // shares shingles with benchmark
      (2L, "z y x w v u t s")). // disjoint
      toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e q r s")).toDF("doc_id", "text")
    val hits = Dedup.contaminated(corpus, bench, "doc_id", "text", 3, 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(1L)) // doc 1 shares a_b_c, b_c_d, c_d_e
    assert(hits(1L) == 3L)
  }

  test("minHashCandidates surfaces exact duplicates") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "completely different words with nothing shared at all here now"
    val docs = Seq((1L, t1), (2L, t1), (3L, t2)).toDF("doc_id", "text")
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text", 3, 32, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)))
  }

  test("simHash: identical texts hash equal, disjoint texts differ") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta iota kappa")).toDF("id", "text")
    val hs = df.select(col("id"),
        Dedup.simHash(functions.TextFunctions.tokens(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L))
    assert(hs(1L) != hs(3L))
  }

  test("cosinePairs finds same-block high-cosine pairs only") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.99f, 0.14f), 0),
      (3L, Seq(0.0f, 1.0f), 0), (4L, Seq(1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val pairs = Similarity.cosinePairs(emb, "vec_id", "embedding", "label", 0.9)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L))) // 3 is orthogonal, 4 blocked by label
  }

  test("cosineTopK ranks an identical vector first") {
    val q = Seq((100L, Seq(1.0f, 0.0f, 0.0f))).toDF("qid", "qe")
    val c = Seq((1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.9f, 0.1f, 0.0f))).toDF("cid", "ce")
    val top = Similarity.cosineTopK(q, c, 2).orderBy("rnk")
      .select("cid", "cos").collect()
    assert(top(0).getLong(0) == 1L && top(0).getDouble(1) == 1.0)
    assert(top(1).getLong(0) == 3L)
  }

  test("exactCos and maxsim match a JVM reference; a tie ranks the lower cid first") {
    graft.plans.NativeExpressions.register(spark)
    val rnd = new scala.util.Random(7)
    val base = Vector.tabulate(50)(_ => Vector.fill(8)(rnd.nextGaussian().toFloat))
    // planted exact tie: cids 50 and 51 are the same vector, twice qid 0's
    val vecs = base ++ Seq.fill(2)(base(0).map(_ * 2.0f))
    // the reference arithmetic: doubles summed in ascending index order,
    // math.sqrt norms, and Spark's round (BigDecimal HALF_UP)
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def quot(a: Seq[Float], b: Seq[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def half(x: Double, scale: Int): BigDecimal =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)

    val queries = vecs.take(5).zipWithIndex
      .map { case (v, i) => (i.toLong, v: Seq[Float]) }.toDF("qid", "qe")
    val corpus = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v: Seq[Float]) }.toDF("cid", "ce")
    val pairs = queries.select("qid").crossJoin(corpus.select("cid"))
    val scored = Similarity.exactCos(pairs, queries, corpus)
    val got = scored.collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
    val want = (for (q <- 0 until 5; c <- vecs.indices)
      yield (q, c) -> half(quot(vecs(q), vecs(c)), 6).toDouble).toMap
    assert(got == want)
    assert(want((0, 0)) == want((0, 50)) && want((0, 50)) == want((0, 51)))

    val top = Similarity.topKByCos(scored, 3).filter(col("qid") === 0L)
      .orderBy("rnk").select("cid").as[Long].collect().toSeq
    assert(top == Seq(0L, 50L, 51L))

    // maxsim: docs of 4 tokens (doc = id div 4); query docs 0 and 1
    val tok = vecs.zipWithIndex.map { case (v, i) => (i / 4, i, v) }
    val qtok = tok.filter(_._1 < 2).map { case (d, t, v) => (d.toLong, t.toLong, v: Seq[Float]) }
      .toDF("qd", "qt", "qe").withColumn("qn", Similarity.norm("qe"))
    val ctok = tok.map { case (d, _, v) => (d.toLong, v: Seq[Float]) }
      .toDF("cd", "ce").withColumn("cn", Similarity.norm("ce"))
    val ms = Similarity.maxsim(qtok.crossJoin(ctok)).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2)).toMap
    val wantMs = (for (qd <- 0 until 2; cd <- tok.map(_._1).distinct) yield {
      val score = tok.filter(_._1 == qd).map { case (_, _, qv) =>
        tok.filter(_._1 == cd).map { case (_, _, cv) =>
          half(quot(qv, cv) * 1000000.0, 0).toLong }.max }.sum
      (qd, cd) -> score
    }).toMap
    assert(ms == wantMs)
  }

  test("quantCoords, l2Nearest and lloydMean match a JVM reference; a tie ranks the lower cell first") {
    val rnd = new scala.util.Random(11)
    val vecs = Vector.tabulate(40)(_ => Vector.fill(8)(rnd.nextGaussian().toFloat))
    // the reference arithmetic: floor(x·1e6) longs, Long squared
    // distances, and the floor of the double mean of a Long sum
    def quant(v: Seq[Float]): Vector[Long] =
      v.map(x => Math.floor(x.toDouble * 1000000L).toLong).toVector
    def dist(a: Seq[Long], b: Seq[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    // planted tie: cells 9 and 7 hold the same coords
    val cells = Map(5L -> quant(vecs(0)), 9L -> quant(vecs(1)), 7L -> quant(vecs(1)))

    val pts = Similarity.quantCoords(vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v: Seq[Float]) }.toDF("pid", "pe"), "pid", "pe")
    val gotQ = pts.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val wantQ = (for ((v, p) <- vecs.zipWithIndex; i <- v.indices)
      yield (p.toLong, i + 1) -> quant(v)(i)).toMap
    assert(gotQ == wantQ)

    val cellDf = cells.toSeq.flatMap { case (id, cv) =>
      cv.zipWithIndex.map { case (x, i) => (id, i + 1, x) } }.toDF("cell", "i", "c")
    val near = Similarity.l2Nearest(pts.join(cellDf, Seq("i")), Seq("pid"), "cell", 2)
    val gotN = near.select("pid", "cell", "dist", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val ranked = vecs.indices.map { p =>
      p -> cells.toSeq.map { case (id, cv) => (dist(quant(vecs(p)), cv), id) }.sorted }
    val wantN = ranked.flatMap { case (p, rs) =>
      rs.take(2).zipWithIndex.map { case ((d, id), k) => (p.toLong, id, d, k + 1L) } }.toSet
    assert(gotN == wantN)
    assert(gotN.contains((1L, 7L, 0L, 1L)) && gotN.contains((1L, 9L, 0L, 2L)))

    val asg = near.filter(col("rn") === 1).select("pid", "cell")
    val gotM = Similarity.lloydMean(pts.join(asg, Seq("pid")), "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val wantM = ranked.groupBy(_._2.head._2).flatMap { case (id, members) =>
      val qs = members.map { case (p, _) => quant(vecs(p)) }
      (0 until 8).map(i => (id, i + 1) ->
        Math.floor(qs.map(_(i)).sum.toDouble / qs.size).toLong) }
    assert(gotM == wantM)
    assert(wantM.keySet.map(_._1) == Set(5L, 7L))
  }

  test("TopK.perGroup keeps k best rows per group, deterministically") {
    val df = Seq(("a", 3L), ("a", 1L), ("a", 2L), ("b", 9L)).toDF("g", "v")
    val top = TopK.perGroup(df, Seq("g"), Seq(col("v").desc), 2)
      .orderBy("g", "rnk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(top.toSeq == Seq(("a", 3L, 1L), ("a", 2L, 2L), ("b", 9L, 1L)))
  }

  test("saltedJoin equals the plain join") {
    val fact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (3L, 30L))
      .toDF("k", "fid")
    val dim = Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("k", "name")
    val plain = fact.join(dim, "k").collect().map(_.toString).sorted.toSeq
    val salted = Skew.saltedJoin(fact, dim, "k", "fid", 8)
      .select("k", "fid", "name").collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
  }

  test("ivfTopKProbe at nprobe=1 is deterministic and finds the identical vector") {
    val vecs = (0 until 30).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 3 + j).toFloat)))
    val q = Seq((999L, vecs(7)._2)).toDF("qid", "qe")
    val c = vecs.toDF("cid", "ce")
    val a = Similarity.ivfTopKProbe(q, c, 3, nlist = 4, nprobe = 1).orderBy("rnk")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    val b = Similarity.ivfTopKProbe(q, c, 3, nlist = 4, nprobe = 1).orderBy("rnk")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(a.sameElements(b))
    assert(a.head._1 == 7L && a.head._2 == 1.0) // its own bucket holds it
  }

  test("lshTopK self-consistency: buckets are deterministic") {
    val vecs = (0 until 20).map(i =>
      (i.toLong, Seq.tabulate(8)(j => ((i * 7 + j) % 5 - 2).toFloat)))
    val q = vecs.toDF("qid", "qe")
    val c = vecs.toDF("cid", "ce")
    val a = Similarity.lshTopK(q, c, 3, 4, 8).collect().map(_.toString).sorted
    val b = Similarity.lshTopK(q, c, 3, 4, 8).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("ivfTopKProbe: probing all centroids recovers brute force") {
    // nprobe = nlist means every query sees every (disjoint) corpus
    // bucket — the candidate set IS the corpus, so the approximate
    // top-k must equal cosineTopK exactly.
    val vecs = (0 until 30).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 3 + j).toFloat)))
    val q = vecs.take(4).map { case (i, v) => (i + 100L, v) }.toDF("qid", "qe")
    val c = vecs.toDF("cid", "ce")
    val exact = Similarity.cosineTopK(q, c, 3)
      .select("qid", "cid", "rnk").collect().map(_.toString).sorted
    val all = Similarity.ivfTopKProbe(q, c, 3, nlist = 5, nprobe = 5)
      .select("qid", "cid", "rnk").collect().map(_.toString).sorted
    assert(all.sameElements(exact))
  }

  test("ivfTopKProbe: nprobe=1 equals the rank-1 window assignment") {
    // assignToCentroids takes rank 1 as an argmax aggregate; the
    // reference here is the row_number window over the same rounded
    // dot, (d DESC, centroid_id) — the two must bucket identically
    graft.plans.NativeExpressions.register(spark)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 3 + j).toFloat)))
    val q = vecs.take(6).map { case (i, v) => (i + 100L, v) }.toDF("qid", "qe")
    val c = vecs.toDF("cid", "ce")
    val cents = c.orderBy("cid").limit(4)
      .select(col("cid").as("centroid_id"), col("ce").as("centroid"))
    def rank1(df: org.apache.spark.sql.DataFrame, id: String, vec: String) =
      df.crossJoin(cents)
        .withColumn("d", round(expr(s"vec_dot($vec, centroid)"), 6))
        .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(id).orderBy(col("d").desc, col("centroid_id"))))
        .filter(col("r") === 1).select(col(id), col("centroid_id"))
    val cand = rank1(q, "qid", "qe").join(rank1(c, "cid", "ce"), "centroid_id")
      .select("qid", "cid")
    val base = Similarity.topKByCos(Similarity.exactCos(cand, q, c), 3)
      .select("qid", "cid", "cos", "rnk").collect().map(_.toString).sorted
    val one = Similarity.ivfTopKProbe(q, c, 3, nlist = 4, nprobe = 1)
      .select("qid", "cid", "cos", "rnk").collect().map(_.toString).sorted
    assert(base.nonEmpty && one.sameElements(base))
  }

  test("ivfLloydTopK: probing all centroids recovers brute force") {
    // as with ivfTopKProbe: nprobe = nlist makes the candidate set the
    // whole corpus regardless of what the Lloyd round did to the cells
    val vecs = (0 until 30).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 3 + j).toFloat)))
    val q = vecs.take(4).map { case (i, v) => (i + 100L, v) }.toDF("qid", "qe")
    val c = vecs.toDF("cid", "ce")
    val exact = Similarity.cosineTopK(q, c, 3)
      .select("qid", "cid", "rnk").collect().map(_.toString).sorted
    val all = Similarity.ivfLloydTopK(q, c, 3, nlist = 5, nprobe = 5)
      .select("qid", "cid", "rnk").collect().map(_.toString).sorted
    assert(all.sameElements(exact))
  }

  test("lshMultiTableTopK: one table equals lshTopK; best cos monotone in L") {
    val vecs = (0 until 40).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 5 + j * 2).toFloat)))
    val q = vecs.take(6).toDF("qid", "qe")
    val c = vecs.toDF("cid", "ce")
    // table 0 uses seed 42 = lshTopK's planes, so L=1 is identical
    val mt1 = Similarity.lshMultiTableTopK(q, c, 3, 4, 8, nTables = 1)
      .collect().map(_.toString).sorted
    val single = Similarity.lshTopK(q, c, 3, 4, 8)
      .collect().map(_.toString).sorted
    assert(mt1.sameElements(single))
    // more tables only ADD candidates, so each query's best found
    // cosine is non-decreasing in L
    def best(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.filter(col("rnk") === 1).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b1 = best(Similarity.lshMultiTableTopK(q, c, 3, 4, 8, 1))
    val b4 = best(Similarity.lshMultiTableTopK(q, c, 3, 4, 8, 4))
    b1.foreach { case (qid, cos) => assert(b4.getOrElse(qid, -2.0) >= cos) }
  }

  test("Diff.snapshotDiff: all four statuses, null-safe comparison") {
    val v1 = Seq((1L, Some("a"), 10L), (2L, Some("b"), 20L),
      (3L, None: Option[String], 30L), (4L, Some("d"), 40L))
      .toDF("k", "t", "n")
    val v2 = Seq((1L, Some("a"), 10L), (2L, Some("B"), 20L),
      (3L, None: Option[String], 30L), (5L, Some("e"), 50L))
      .toDF("k", "t", "n")
    val got = Diff.snapshotDiff(v1, v2, Seq("k"), Seq("t", "n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 1 unchanged; 2 changed; 3 has null==null per column -> same;
    // 4 only in v1 -> removed; 5 only in v2 -> added
    assert(got == Map(1L -> "same", 2L -> "changed", 3L -> "same",
      4L -> "removed", 5L -> "added"))
  }

  test("Diff.snapshotDiff: empty compare list is a key-presence-only diff") {
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("k", "t")
    val v2 = Seq((2L, "CHANGED"), (3L, "c")).toDF("k", "t")
    val got = Diff.snapshotDiff(v1, v2, Seq("k"), Seq.empty)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // no compare columns -> 'changed' never emitted; key 2 is 'same'
    assert(got == Map(1L -> "removed", 2L -> "same", 3L -> "added"))
  }

  test("two-phase windows keep NULL order-key rows (bin -1, nulls first)") {
    // the ADVICE hazard: a NULL ordNum used to produce a NULL bin that
    // the (part, bin) equi-join silently dropped. Null keys now map to
    // bin -1, matching Spark's ASC NULLS FIRST window ordering.
    import org.apache.spark.sql.expressions.Window
    val df = Seq((0L, Some(5L), 0L, 1L), (0L, None, 1L, 2L),
      (0L, Some(1L), 2L, 3L), (0L, None, 3L, 4L), (0L, Some(9L), 4L, 5L),
      (0L, Some(2L), 5L, 6L), (1L, None, 6L, 7L), (1L, Some(3L), 7L, 8L))
      .toDF("p", "o", "i", "v")
    def key(r: org.apache.spark.sql.Row) = r.toString
    val wr = Window.partitionBy("p").orderBy(col("o"), col("i"))
    val plainRanks = df.select(col("p"), col("o"), col("i"),
        row_number().over(wr).cast("long").as("rn"),
        rank().over(wr).cast("long").as("rnk"),
        dense_rank().over(wr).cast("long").as("drnk"))
      .collect().map(key).sorted.toSeq
    val binnedRanks = Ranks.rankedBinned(df, "p", "o",
        Seq(col("o"), col("i")), bins = 4, hotThreshold = 2L)
      .select("p", "o", "i", "rn", "rnk", "drnk")
      .collect().map(key).sorted.toSeq
    assert(plainRanks == binnedRanks)
    val plainLag = df.select(col("p"), col("o"), col("i"),
        lag(col("v"), 1).over(wr).as("lag_v"),
        lead(col("v"), 1).over(wr).as("lead_v"))
      .collect().map(key).sorted.toSeq
    val binnedLag = Ranks.lagLeadBinned(df, "p", "o",
        Seq(col("o"), col("i")), Seq("v"), bins = 4, hotThreshold = 2L)
      .select("p", "o", "i", "lag_v", "lead_v")
      .collect().map(key).sorted.toSeq
    assert(plainLag == binnedLag)
    val ws = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val plainRun = df.select(col("p"), col("o"), col("i"),
        sum("v").over(ws).as("run_v"))
      .collect().map(key).sorted.toSeq
    val binnedRun = Ranks.runningSumsBinned(df, "p", "o",
        Seq("o", "i"), Seq("v"), bins = 4, hotThreshold = 2L)
      .select("p", "o", "i", "run_v")
      .collect().map(key).sorted.toSeq
    assert(plainRun == binnedRun)
  }

  test("leak-free split: no near-dup pair crosses splits") {
    // the q286 invariant: for every >= 0.5 Jaccard pair, both docs get
    // the same split label (group-level draw makes it structural; this
    // guards the wiring)
    val assign = queries.Round7.defs("q286_llm_leakfree_split")
      .fn(spark, sf)
      .select(col("doc_id"), col("split"))
    val pairs = queries.LlmOps.jaccardPairsShared(spark, sf)
      .select(col("da"), col("db"))
    val crossing = pairs
      .join(assign.withColumnRenamed("doc_id", "da")
        .withColumnRenamed("split", "sa"), Seq("da"))
      .join(assign.withColumnRenamed("doc_id", "db")
        .withColumnRenamed("split", "sb"), Seq("db"))
      .filter(col("sa") =!= col("sb")).count()
    assert(pairs.count() > 0, "fixture must contain near-dup pairs")
    assert(crossing == 0L, s"$crossing pairs cross split boundaries")
  }

  test("leak-free split: dedup-first twin is row-identical to the all-docs form") {
    val a = queries.Round7.defs("q286_llm_leakfree_split")
      .fn(spark, sf).collect().map(_.toString).toSeq
    val b = queries.Round7.defs("q288_llm_leakfree_split_dedup")
      .fn(spark, sf).collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("q294 advisor-driven IVF: dedup-first path on replicated corpus == direct scoring") {
    // 5x-replicated embeddings (copies verbatim, ids shifted — the
    // make_scale_probe recipe): dupRate 0.8 trips the advisor's
    // dedup-first rule, and because group reps keep the ORIGINAL lowest
    // ids, the advised rep-scored + own-recovered + expanded path must
    // be row-identical to q279's direct all-copies scoring at the same
    // (nlist=16, nprobe=8) — the replication-invariance equivalence.
    import graft.operators.IndexAdvisor
    val base = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val n0 = base.count()
    val syn = (0 to 4).map(i => base.select(
        (col("vec_id") + lit(i * n0)).as("vec_id"), col("embedding"), col("label")))
      .reduce(_ unionByName _)
    val dirPath = java.nio.file.Files.createTempDirectory("q294syn")
    try {
      val dir = dirPath.toString
      syn.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val adv = IndexAdvisor.advise(5 * n0, 64, 0.8, 0.8, math.max(1L, (n0 + 1) / 2))
      assert(adv.dedupFirst && adv.family == "ivf" && adv.params("nlist") == 16L)
      val advisedRows = queries.Round8.defs("q294_llm_ann_ivf_advised")
        .fn(spark, dir).collect()
      val direct = queries.Round7.defs("q279_llm_ann_ivf_probe")
        .fn(spark, dir).collect().map(_.toString).toSeq
      assert(advisedRows.map(_.toString).toSeq == direct)
      // recall on the replicated corpus must stay production-grade (the
      // own-group recovery: a query's own copies are its exact top
      // neighbors and the dedup path must still return them)
      val rec = advisedRows.map(_.getDouble(2)).sum / advisedRows.length
      assert(rec >= 0.8, s"replicated-corpus recall $rec < 0.8")
    } finally {
      spark.catalog.clearCache() // harness + dedup path persist internally
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dirPath)
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("q298 dedup-first semdedup scorer == direct scoring on dup-heavy vectors") {
    // bit-identical vectors share assignment (rounded dot + centroid-id
    // tie-break) and cosine, so rep scoring + two-sided expansion must
    // reproduce the direct all-copies scorer row-for-row on a 3x
    // replicated corpus — the q264-disease guard for the ingest path
    graft.plans.NativeExpressions.register(spark)
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val all = (0 to 2).map(i => emb.select(
        (col("vec_id") + lit(10000000L * i)).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _) // shift multiple of 10 keeps each copy's slot
    val slot = pmod(col("vec_id") * lit(2654435761L), lit(10L))
    val cents = broadcast(emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid")))
    def assign(df: org.apache.spark.sql.DataFrame, id: String,
        vec: String): org.apache.spark.sql.DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(id).orderBy(col("__d").desc, col("centroid_id"))
      df.crossJoin(cents)
        .withColumn("__d", round(expr(s"vec_dot($vec, centroid)"), 6))
        .withColumn("__r", row_number().over(w))
        .filter(col("__r") === 1).drop("__d", "__r", "centroid")
    }
    val corpusAll = all.filter(slot =!= 0)
      .select(col("vec_id").as("db"), col("embedding").as("eb"))
    val probes = all.filter(slot === 0)
      .select(col("vec_id").as("da"), col("embedding").as("ea"))
    val direct = assign(probes, "da", "ea")
      .withColumn("na", expr("sqrt(vec_dot(ea, ea))"))
      .join(assign(corpusAll, "db", "eb")
        .withColumn("nb", expr("sqrt(vec_dot(eb, eb))")), Seq("centroid_id"))
      .select(col("da"), col("db"),
        round(expr("vec_dot(ea, eb)") / (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= 0.35)
      .collect().map(_.toString).toSet
    val cgrp = corpusAll.groupBy("eb")
      .agg(min("db").as("rep"), collect_list("db").as("ids")).persist()
    val repsAssigned = assign(cgrp.select(col("rep").as("pb"), col("eb")),
        "pb", "eb")
      .withColumn("nb", expr("sqrt(vec_dot(eb, eb))"))
    val cmem = cgrp.select(col("rep").as("pb"), explode(col("ids")).as("db"))
    val got = queries.Round8.scoreSemDedupBatchDeduped(
        probes, cents, repsAssigned, cmem)
      .collect().map(_.toString).toSet
    cgrp.unpersist()
    assert(got.nonEmpty && got == direct)
  }

  test("q305 advised ingest index: advised scorer == direct scoring on replicated corpus") {
    // the q298 equivalence, re-proven with the ADVISED centroid set on
    // a 3x-replicated corpus: nu (hence the advised nlist and the
    // centroid set) is replication-invariant, dupRate 2/3 trips the
    // advisor's dedup-first flag — which is exactly the structure the
    // scorer implements — and rep scoring + expansion must equal the
    // direct all-copies scorer with the same advised cells
    graft.plans.NativeExpressions.register(spark)
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val all = (0 to 2).map(i => emb.select(
        (col("vec_id") + lit(10000000L * i)).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    val slot = pmod(col("vec_id") * lit(2654435761L), lit(10L))
    val corpusAll = all.filter(slot =!= 0)
      .select(col("vec_id").as("db"), col("embedding").as("eb"))
    val st = corpusAll.agg(count(lit(1)).as("n"),
      countDistinct(col("eb")).as("nu")).head()
    val (n, nu) = (st.getLong(0), st.getLong(1))
    val dupRate = 1.0 - nu.toDouble / n
    val adv = IndexAdvisor.advise(n, 64, dupRate, 0.8,
      candidateBudget = math.max(1L, (nu + 1L) / 2L))
    assert(adv.family == "ivf" && adv.dedupFirst,
      s"replicated corpus must advise dedup-first ivf: $adv")
    val nlist = adv.params("nlist").toInt
    // nu is replication-invariant, so nlist matches the base corpus's
    val baseNu = emb.filter(slot =!= 0)
      .select(countDistinct(col("embedding"))).head().getLong(0)
    assert(IndexAdvisor.advise(baseNu, 64, 0.0, 0.8,
      math.max(1L, (baseNu + 1L) / 2L)).params("nlist") == nlist.toLong)
    val cents = broadcast(emb.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid")))
    val probes = all.filter(slot === 0)
      .select(col("vec_id").as("da"), col("embedding").as("ea"))
    def assign(df: org.apache.spark.sql.DataFrame, id: String, vec: String) =
      Similarity.assignToCentroids(df, id, vec, cents)
    val direct = assign(probes, "da", "ea")
      .withColumn("na", expr("sqrt(vec_dot(ea, ea))"))
      .join(assign(corpusAll, "db", "eb")
        .withColumn("nb", expr("sqrt(vec_dot(eb, eb))")), Seq("centroid_id"))
      .select(col("da"), col("db"),
        round(expr("vec_dot(ea, eb)") / (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= 0.35)
      .collect().map(_.toString).toSet
    val cgrp = corpusAll.groupBy("eb")
      .agg(min("db").as("rep"), collect_list("db").as("ids")).persist()
    val repsAssigned = assign(cgrp.select(col("rep").as("pb"), col("eb")),
        "pb", "eb")
      .withColumn("nb", expr("sqrt(vec_dot(eb, eb))"))
    val cmem = cgrp.select(col("rep").as("pb"), explode(col("ids")).as("db"))
    val got = queries.Round8.scoreSemDedupBatchDeduped(
        probes, cents, repsAssigned, cmem)
      .collect().map(_.toString).toSet
    cgrp.unpersist()
    assert(got.nonEmpty && got == direct)
  }

  test("q299 advisor-driven curation is duplication-robust (dedup-first branch == original)") {
    // 3x-replicated docs+embeddings (ids shifted, payloads verbatim):
    // dupRate 0.667 trips the advisor's dedup-first branch, every copy
    // is dropped by its own rep (same cell, cos 1.0, smaller id), nu —
    // and so the advised nlist and the centroid set — are unchanged,
    // so the curated manifest must be IDENTICAL to the original run
    // (which takes the direct branch): the measure→advise→build loop
    // makes the whole chain replication-invariant by construction.
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    def repl(df: org.apache.spark.sql.DataFrame, idCol: String) =
      (0 to 2).map(i => df.withColumn(idCol, col(idCol) + lit(10000000L * i)))
        .reduce(_ unionByName _)
    val dirPath = java.nio.file.Files.createTempDirectory("q299syn")
    try {
      val dir = dirPath.toString
      repl(docs, "doc_id").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      repl(emb, "vec_id").write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val original = queries.Round8.defs("q299_llm_curation_advised")
        .fn(spark, sf).collect().map(_.toString).toSeq
      val replicated = queries.Round8.defs("q299_llm_curation_advised")
        .fn(spark, dir).collect().map(_.toString).toSeq
      assert(original.nonEmpty && replicated == original)
    } finally {
      spark.catalog.clearCache()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dirPath)
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("IndexAdvisor: family thresholds, budget respected, dedup-first flag") {
    import graft.operators.IndexAdvisor
    // corpus within budget -> brute force, recall 1.0
    val b = IndexAdvisor.advise(1000L, 64, 0.0, 0.9, candidateBudget = 2000L)
    assert(b.family == "brute" && !b.dedupFirst)
    // production recall, big corpus, ample budget -> IVF at nprobe = nlist/2
    val ivf = IndexAdvisor.advise(10000000L, 64, 0.05, 0.85, 5000000L)
    assert(ivf.family == "ivf" &&
      ivf.params("nprobe") == ivf.params("nlist") / 2 && !ivf.dedupFirst)
    // same target, budget too small for the IVF ratio -> graph-beam
    // (corpus-size-independent candidates)
    val gb = IndexAdvisor.advise(10000000L, 64, 0.0, 0.85, 100000L)
    assert(gb.family == "graph-beam" && gb.candidatesPerQuery <= 100000L)
    // mid recall + duplication -> multi-table LSH fitting the budget,
    // dedup-first prepended
    val mt = IndexAdvisor.advise(1000000L, 64, 0.2, 0.6, 200000L)
    assert(mt.family == "lsh-multitable" && mt.dedupFirst &&
      mt.candidatesPerQuery <= 200000L)
    // screening tier: cheapest single-table multi-probe within budget
    val sp = IndexAdvisor.advise(1000000L, 64, 0.0, 0.3, 50000L)
    assert(sp.family == "lsh-multiprobe" && sp.candidatesPerQuery <= 50000L)
    // determinism: same stats, same advice
    assert(IndexAdvisor.advise(1000000L, 64, 0.2, 0.6, 200000L) == mt)
  }

  test("IndexAdvisor.adviseCalibrated: measured rows re-derive (and can flip) decisions") {
    import graft.operators.IndexAdvisor
    import graft.operators.IndexAdvisor.RecallRow
    // with the refined-graph row (q304's 0.924) in the table, the
    // graph family is cheapest-meeting-target at ANY large corpus (its
    // cost is corpus-size-independent) — the calibrated advisor now
    // genuinely prefers it, which is the round-9 verdict's point
    val fix = IndexAdvisor.adviseCalibrated(10000000L, 64, 0.05, 0.8,
      5000000L, IndexAdvisor.fixtureRecallTable)
    assert(fix.family == "graph-beam" && fix.params("beam") == 24L)
    // on the graph-free slice of the table, the fixture rows reproduce
    // advise()'s family at the fixture operating point (the original
    // calibration-reproduces-the-literals property)
    val noGraph = IndexAdvisor.fixtureRecallTable
      .filterNot(_.family == "graph-beam")
    val fixIvf = IndexAdvisor.adviseCalibrated(10000000L, 64, 0.05, 0.8,
      5000000L, noGraph)
    assert(fixIvf.family == "ivf" &&
      fixIvf.params("nprobe") == fixIvf.params("nlist") / 2)
    // a corpus with DIFFERENT geometry: multi-table LSH measured 0.85
    // there (vs the fixture's 0.73) — the calibrated advisor flips the
    // 0.8-target family from IVF to the cheaper multi-table config
    val easyGeom = Seq(
      RecallRow("ivf", Map("nlist" -> 16L, "nprobe" -> 8L, "k" -> 5L), 0.844),
      RecallRow("lsh-multitable", Map("nTables" -> 4L, "nPlanes" -> 4L, "k" -> 5L), 0.85))
    val flip = IndexAdvisor.adviseCalibrated(10000000L, 64, 0.0, 0.8,
      5000000L, easyGeom)
    assert(flip.family == "lsh-multitable",
      s"cheaper measured-capable family must win: $flip")
    assert(flip.candidatesPerQuery < fixIvf.candidatesPerQuery)
    // a HARD corpus: IVF at 1/2 only measured 0.6 — nothing meets 0.8,
    // the advisor falls back to the best measured config and says so
    val hardGeom = Seq(
      RecallRow("ivf", Map("nlist" -> 16L, "nprobe" -> 8L, "k" -> 5L), 0.6),
      RecallRow("lsh-multitable", Map("nTables" -> 8L, "nPlanes" -> 4L, "k" -> 5L), 0.4))
    val hard = IndexAdvisor.adviseCalibrated(10000000L, 64, 0.0, 0.8,
      5000000L, hardGeom)
    assert(hard.family == "ivf" && hard.rationale.contains("below target"))
    // structural rules unchanged: within-budget corpus stays brute,
    // heavy duplication still flags dedup-first
    val b = IndexAdvisor.adviseCalibrated(1000L, 64, 0.0, 0.9, 2000L,
      IndexAdvisor.fixtureRecallTable)
    assert(b.family == "brute")
    val dd = IndexAdvisor.adviseCalibrated(10000000L, 64, 0.3, 0.8,
      5000000L, IndexAdvisor.fixtureRecallTable)
    assert(dd.dedupFirst)
    // determinism
    assert(IndexAdvisor.adviseCalibrated(10000000L, 64, 0.0, 0.8,
      5000000L, easyGeom) == flip)
  }

  test("adviseServing: the memory budget flips family to ivfpq") {
    // fits in memory -> plain advise() delegation (the q294 geometry)
    val fits = IndexAdvisor.adviseServing(500L, 64, 0.0, 0.8, 300L, 200000L)
    assert(fits.family == "ivf" && fits.params("nlist") == 16L &&
      fits.params("nprobe") == 8L)
    // same budgets, 4x the vectors -> full-precision index doesn't fit
    val tight = IndexAdvisor.adviseServing(2000L, 64, 0.0, 0.8, 300L, 200000L)
    assert(tight.family == "ivfpq" && tight.params("nlist") == 32L &&
      tight.params("nprobe") == 20L && tight.params("rerank") == 300L)
    // loosening ONLY the memory budget restores the advise() decision
    val loose = IndexAdvisor.adviseServing(2000L, 64, 0.0, 0.8, 300L, 1000000L)
    assert(loose == IndexAdvisor.advise(2000L, 64, 0.0, 0.8, 300L))
    // replication-invariance: bytes are nu-based, dedup-first flagged
    val dup = IndexAdvisor.adviseServing(200000L, 64, 0.99, 0.8, 300L, 200000L)
    assert(dup.family == "ivfpq" && dup.dedupFirst &&
      dup.params("nlist") == 32L)
    // determinism
    assert(IndexAdvisor.adviseServing(2000L, 64, 0.0, 0.8, 300L, 200000L) == tight)
  }

  test("adviseServing: graph branch on the memory axis (DiskANN flip)") {
    // candidate budget binds AND the graph index fits: nu=2000 at a
    // 450 kB budget — full precision (512 kB) doesn't fit, IVFPQ needs
    // 1250 candidates/query > 300, graph-pq fits at 408 kB
    val g = IndexAdvisor.adviseServing(2000L, 64, 0.0, 0.8, 300L, 450000L)
    assert(g.family == "graph-pq" && g.params("d") == 24L &&
      g.candidatesPerQuery == 24L * 25L * 4L)
    // shrinking ONLY the memory budget flips graph-pq -> ivfpq (the
    // graph no longer fits; best fit under memory, rationale says why)
    val pq = IndexAdvisor.adviseServing(2000L, 64, 0.0, 0.8, 300L, 200000L)
    assert(pq.family == "ivfpq" && pq.rationale.contains("graph-pq would"))
    // raising ONLY the candidate budget flips graph-pq -> ivfpq too
    // (when IVFPQ meets the candidate budget it wins on memory)
    val pq2 = IndexAdvisor.adviseServing(2000L, 64, 0.0, 0.8, 1300L, 450000L)
    assert(pq2.family == "ivfpq" && !pq2.rationale.contains("graph-pq"))
    // nothing fits -> loud failure, never an advice claiming a false fit
    intercept[IllegalArgumentException] {
      IndexAdvisor.adviseServing(2000L, 64, 0.0, 0.8, 300L, 10000L)
    }
    // determinism
    assert(IndexAdvisor.adviseServing(2000L, 64, 0.0, 0.8, 300L, 450000L) == g)
  }

  test("adviseCalibratedServing: measured rows under both budgets (q315)") {
    import graft.operators.IndexAdvisor
    import graft.operators.IndexAdvisor.RecallRow
    val rows = Seq(
      RecallRow("ivf", Map("nlist" -> 16L, "nprobe" -> 8L, "k" -> 5L), 0.8),
      RecallRow("ivfpq", Map("nlist" -> 16L, "nprobe" -> 10L,
        "nSub" -> 16L, "nCodes" -> 16L, "k" -> 5L), 0.82))
    // both fit the 200 kB budget at nu=500 -> candidate-cheapest wins
    val a = IndexAdvisor.adviseCalibratedServing(500L, 64, 0.0, 0.5, 450L,
      200000L, rows)
    assert(a.family == "ivf" && a.candidatesPerQuery == 250L)
    // 4x the vectors: the raw IVF index (512 kB) is inadmissible on
    // MEMORY -> ivfpq at the re-derived dials (q310's serve)
    val b = IndexAdvisor.adviseCalibratedServing(2000L, 64, 0.0, 0.5,
      1800L, 200000L, rows)
    assert(b.family == "ivfpq" && b.params("nlist") == 32L &&
      b.params("nprobe") == 20L && b.params("rerank") == 300L)
    // loosening ONLY the memory budget restores the cheaper IVF
    val c0 = IndexAdvisor.adviseCalibratedServing(2000L, 64, 0.0, 0.5,
      1800L, 1000000L, rows)
    assert(c0.family == "ivf")
    // nothing admissible -> loud failure, never a lying fit
    intercept[IllegalArgumentException] {
      IndexAdvisor.adviseCalibratedServing(2000L, 64, 0.0, 0.5, 1800L,
        10000L, Seq(rows.head))
    }
    // brute short-circuits only when the raw vectors fit BOTH budgets
    val br = IndexAdvisor.adviseCalibratedServing(100L, 64, 0.0, 0.9,
      200L, 200000L, rows)
    assert(br.family == "brute")
    // determinism
    assert(IndexAdvisor.adviseCalibratedServing(2000L, 64, 0.0, 0.5,
      1800L, 200000L, rows) == b)
  }

  test("adviseCalibrated: the refined-graph fixture row is choosable") {
    import graft.operators.IndexAdvisor
    // a candidate budget no corpus-sized family can meet at n=1e7:
    // only the graph rows' corpus-size-independent costs fit, and only
    // the REFINED row (q304's 0.924) meets the 0.8 target — the stale
    // pre-refinement 0.296 entry could never be chosen, which is what
    // kept the advisor pessimistic on the graph family (round-9
    // verdict finding #6)
    val a = IndexAdvisor.adviseCalibrated(10000000L, 64, 0.0, 0.8, 3000L,
      IndexAdvisor.fixtureRecallTable)
    assert(a.family == "graph-beam" && a.params("beam") == 24L &&
      a.params("d") == 24L, s"refined graph row must win: $a")
  }

  test("pqCodes + beamPqVisited: complete graph + wide beam = exact top-k") {
    // deterministic 24-node corpus (fixed LCG, nonzero vectors)
    var st = 98765L
    def nx(): Float = { st = st * 6364136223846793005L + 1442695040888963407L
      (((st >>> 33).toInt % 1000) / 500.0f) - 1.0f + 0.001f }
    val vecs = (0L until 24L).map(i => (i, Array.fill(8)(nx())))
    val corpus = vecs.toDF("cid", "ce")
    // codes: one code per (member, subspace), codes drawn from seeds
    val codes = Similarity.pqCodes(corpus, nSub = 4, nCodes = 8, dim = 8)
    assert(codes.count() == 24L * 4L)
    assert(codes.agg(max("code")).head().getLong(0) < 8L)
    // replication-invariance of the encode: duplicating every vector
    // 3x yields exactly the per-member expansion of the same codes
    val dup = corpus.unionByName(corpus.withColumn("cid", col("cid") + 100L))
      .unionByName(corpus.withColumn("cid", col("cid") + 200L))
    val codesDup = Similarity.pqCodes(dup, nSub = 4, nCodes = 8, dim = 8)
      .withColumn("cid", col("cid") % 100L).distinct()
    def ts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ts(codesDup) == ts(codes))
    // serving: with a COMPLETE graph, entries anywhere, and beam >=
    // corpus size, the final pool contains every candidate, so the
    // exact re-rank reproduces brute-force cosineTopK exactly
    val qs = corpus.filter(col("cid") < 5)
      .select(col("cid").as("qid"), col("ce").as("qe"))
    val complete = (for (u <- 0L until 24L; v <- 0L until 24L if u != v)
      yield (u, v)).toDF("u", "v")
    val entries = qs.select(col("qid")).withColumn("cid", lit(0L))
    val got = TopK.perGroup(Similarity.beamPqVisited(qs, corpus, complete,
          codes, entries, beam = 24, rounds = 1, nSub = 4, nCodes = 8,
          dim = 8),
        Seq("qid"), Seq(col("cos").desc, col("cid")), 3)
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = Similarity.cosineTopK(qs, corpus, k = 3)
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exact)
  }

  test("beamTopKFrom refuses k > beam") {
    // the answer is the top-k of the last round, which is the top-k of
    // the final frontier only when k <= beam: a larger k must fail
    // loudly instead of returning beam rows per query
    val corpus = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("cid", "ce")
    val qs = corpus.select(col("cid").as("qid"), col("ce").as("qe"))
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("u", "v")
    val entries = qs.select(col("qid"), lit(0L).as("cid"))
    val e = intercept[IllegalArgumentException] {
      Similarity.beamTopKFrom(qs, corpus, edges, entries, k = 5, beam = 4,
        rounds = 1)
    }
    assert(e.getMessage.contains("k 5 must not exceed beam 4"))
  }

  test("beamPqSemDedupBatch: complete-graph alerts = exact scan; dedup-first expansion") {
    var st = 424242L
    def nx(): Float = { st = st * 6364136223846793005L + 1442695040888963407L
      (((st >>> 33).toInt % 1000) / 500.0f) - 1.0f + 0.001f }
    val corpus = (0L until 20L).map(i => (i, Array.fill(8)(nx())))
      .toDF("cid", "ce")
    val batch = (100L until 106L).map(i => (i, Array.fill(8)(nx())))
      .toDF("da", "ea")
    val codes = Similarity.pqCodes(corpus, nSub = 4, nCodes = 8, dim = 8)
    val complete = (for (u <- 0L until 20L; v <- 0L until 20L if u != v)
      yield (u, v)).toDF("u", "v")
    val cents = broadcast(corpus.orderBy("cid").limit(4)
      .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
    // the batch's own scored walk is the live reference; the standing
    // table below must serve the same alerts
    def walk(b: org.apache.spark.sql.DataFrame) =
      Similarity.beamPqWalkScoredAll(b, corpus, complete, codes, cents,
        beam = 20, rounds = 1, nSub = 4, nCodes = 8, dim = 8)
    def alertsFrom(b: org.apache.spark.sql.DataFrame,
        scored: org.apache.spark.sql.DataFrame) =
      Similarity.beamPqSemDedupBatch(b, scored, threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def alerts(b: org.apache.spark.sql.DataFrame) = alertsFrom(b, walk(b))
    // complete graph + beam >= corpus: the visited list is the whole
    // corpus, so alerts == the exact probe x corpus threshold scan
    val got = alerts(batch)
    val exact = Similarity.cosineTopK(
        batch.select(col("da").as("qid"), col("ea").as("qe")), corpus,
        k = 20)
      .filter(col("cos") >= 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact && got.nonEmpty)
    // dedup-first: duplicated probe payloads expand through the group
    // map — each copy gets exactly its original's alert rows
    val dupBatch = batch.unionByName(
      batch.withColumn("da", col("da") + 1000L))
    val gotDup = alerts(dupBatch)
    assert(gotDup == got ++ got.map { case (a, b) => (a + 1000L, b) })
    // standing scored-walk table serve (q313/q317's shared artifact):
    // value-identical to the live walk, including duplicate expansion
    // and batch-subset semi-join serving
    val sa = walk(dupBatch)
    assert(alertsFrom(dupBatch, sa) == gotDup)
    assert(alertsFrom(batch, sa) == got)
  }

  test("q314 sampled calibration decides like full calibration at both SFs") {
    import graft.operators.IndexAdvisor
    import graft.operators.IndexAdvisor.RecallRow
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val corpus = emb
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val st = corpus.agg(count(lit(1)).as("n"),
        countDistinct(col("ce")).as("nu")).head()
      val n = st.getLong(0); val nu = st.getLong(1)
      // the q306/q314 measurement+decision procedure over a given
      // measurement corpus (full vs the fixed-size Lehmer sample)
      def decide(c: org.apache.spark.sql.DataFrame): String = {
        val exact = Similarity.cosineTopK(qs, c, k = 5)
          .select("qid", "cid").persist()
        val nq = exact.select("qid").distinct().count()
        def m(ann: org.apache.spark.sql.DataFrame): Double = exact
          .join(ann.select("qid", "cid"), Seq("qid", "cid"))
          .count().toDouble / (5.0 * nq)
        val mi = m(Similarity.ivfTopKProbe(qs, c, k = 5, nlist = 16,
          nprobe = 8))
        val ml = m(Similarity.lshMultiTableTopK(qs, c, k = 5, nPlanes = 4,
          dim = 64, nTables = 8))
        exact.unpersist()
        IndexAdvisor.adviseCalibrated(n, 64, 1.0 - nu.toDouble / n, 0.5,
          (nu * 11L + 19L) / 20L, Seq(
            RecallRow("ivf", Map("nlist" -> 16L, "nprobe" -> 8L, "k" -> 5L), mi),
            RecallRow("lsh-multitable",
              Map("nTables" -> 8L, "nPlanes" -> 4L, "k" -> 5L), ml))).family
      }
      val sample = corpus.orderBy(
          pmod(col("cid") * lit(2654435761L), lit(1000003L)), col("cid"))
        .limit(500)
      val full = decide(corpus)
      assert(decide(sample) == full, s"sampled decision must match at $dir")
      // and the flip across SFs is preserved (the q306 geometry)
      if (dir.endsWith("sf0.01")) assert(full == "lsh-multitable")
      else assert(full == "ivf")
    }
  }

  test("graphInsertBatch: batch-split invariant maintenance (q317)") {
    var st = 13579L
    def nx(): Float = { st = st * 6364136223846793005L + 1442695040888963407L
      (((st >>> 33).toInt % 1000) / 500.0f) - 1.0f + 0.001f }
    val corpus = (0L until 20L).map(i => (i, Array.fill(8)(nx())))
      .toDF("cid", "ce")
    val batch = (100L until 106L).map(i => (i, Array.fill(8)(nx())))
      .toDF("da", "ea")
    val codes = Similarity.pqCodes(corpus, nSub = 4, nCodes = 8, dim = 8)
    val complete = (for (u <- 0L until 20L; v <- 0L until 20L if u != v)
      yield (u, v)).toDF("u", "v")
    val cents = broadcast(corpus.orderBy("cid").limit(4)
      .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
    def walk(b: org.apache.spark.sql.DataFrame) =
      Similarity.beamPqWalkScoredAll(b, corpus, complete, codes, cents,
        beam = 20, rounds = 1, nSub = 4, nCodes = 8, dim = 8)
    // the MERGE-accumulate + read-time cap, as the q317 reader does
    // (probe ids here are >= 100 instead of the slot hash); each batch
    // is served from `scored(batch)` — by default the batch's own walk,
    // the live reference
    def finalEdges(batches: Seq[org.apache.spark.sql.DataFrame],
        scored: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = walk) = {
      val acc = batches.map(b =>
          Similarity.graphInsertBatch(b, scored(b), dOut = 3))
        .reduce(_ unionByName _).dropDuplicates("u", "v")
      val wCap = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(col("cos").desc, col("v"))
      acc.withColumn("rn", when(col("u") >= 100L, lit(0))
          .otherwise(row_number().over(wCap)))
        .filter(col("rn") <= 3).select("u", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val whole = finalEdges(Seq(batch))
    val split = finalEdges(Seq(batch.filter(col("da") < 103L),
      batch.filter(col("da") >= 103L)))
    assert(whole == split && whole.nonEmpty)
    // every inserted node has exactly dOut out-edges; standing nodes
    // are capped at dOut accumulated reverse edges
    val outDeg = whole.groupBy(_._1).view.mapValues(_.size)
    assert((100L until 106L).forall(outDeg(_) == 3))
    assert(outDeg.filter(_._1 < 100L).values.forall(_ <= 3))

    // DUPLICATE payloads (the round-10 advice catch): every member of
    // a duplicate group gets its OWN out-edges — identical v-sets,
    // since duplicate members' walks are identical by construction —
    // and the result is invariant to the dup group straddling batches
    val dupRow = batch.filter(col("da") === 100L)
      .select(col("ea")).head().getSeq[Float](0).toArray
    val dups = Seq((106L, dupRow), (107L, dupRow)).toDF("da", "ea")
    val batchD = batch.unionByName(dups)
    val wholeD = finalEdges(Seq(batchD))
    val vs = (u: Long) => wholeD.filter(_._1 == u).map(_._2)
    assert(vs(106L) == vs(100L) && vs(107L) == vs(100L) && vs(100L).nonEmpty,
      "dup members must carry the rep's out-edges")
    val splitD = finalEdges(Seq(batchD.filter(col("da") <= 105L),
      batchD.filter(col("da") > 105L))) // dups in a LATER batch than rep
    assert(wholeD == splitD, "dup group straddling batches must not matter")

    // standing scored-walk table serve (q313/q317's shared artifact):
    // value-identical to the live walk, whole and split
    val sa = walk(batchD)
    assert(finalEdges(Seq(batchD), _ => sa) == wholeD)
    assert(finalEdges(Seq(batchD.filter(col("da") <= 105L),
      batchD.filter(col("da") > 105L)), _ => sa) == wholeD)
  }

  test("nnDescentEdges: degree cap, monotone best edge, exact on complete seed") {
    // deterministic 30-node corpus (fixed LCG, nonzero vectors)
    var st = 12345L
    def nx(): Float = { st = st * 6364136223846793005L + 1442695040888963407L
      (((st >>> 33).toInt % 1000) / 500.0f) - 1.0f + 0.001f }
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(nx())))
    val corpus = vecs.toDF("cid", "ce")
    // (c) COMPLETE seed graph -> one round IS brute-force kNN: the
    // candidate set already contains every pair, so keep-top-d equals
    // cosineTopK's per-node top-d exactly
    val complete = (for (u <- 0L until 30L; v <- 0L until 30L if u != v)
      yield (u, v)).toDF("u", "v")
    val r1 = Similarity.nnDescentEdges(complete, corpus, d = 3, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosineTopK(
        corpus.select(col("cid").as("qid"), col("ce").as("qe")), corpus, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r1 == exact, "complete-seed round must equal brute-force kNN")
    // (a) degree cap holds from a sparse LSH seed, rounds = 2
    val seed = Similarity.lshKnnEdges(corpus, d = 3, nPlanes = 3, dim = 8)
    val r2 = Similarity.nnDescentEdges(seed, corpus, d = 3, rounds = 2)
    val deg = r2.groupBy("u").count().agg(max("count")).head().getLong(0)
    assert(deg <= 3L, s"out-degree must stay <= d, saw $deg")
    // (b) monotone improvement: per-node best out-edge cosine never
    // decreases (old edges are a subset of the candidate set)
    val byId = vecs.toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (byId(a), byId(b))
      val d0 = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      val nx0 = math.sqrt(x.map(p => p.toDouble * p.toDouble).sum)
      val ny0 = math.sqrt(y.map(p => p.toDouble * p.toDouble).sum)
      BigDecimal(d0 / (nx0 * ny0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def bestPerNode(e: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      e.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (u, es) => u -> es.map(p => cos(u, p._2)).max }
    val before = bestPerNode(seed)
    val after = bestPerNode(r2)
    before.foreach { case (u, b) =>
      assert(after.getOrElse(u, -2.0) >= b - 1e-9,
        s"node $u best edge degraded: $b -> ${after.get(u)}") }
  }

  test("nnDescent-refined beam recall >= stitched beam recall (fixture)") {
    // the q303 -> q304 ladder claim on a small slice of the fixture:
    // same entries, same beam dials, refined edges only
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 200)
    val qs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val corpus = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val exact = Similarity.cosineTopK(qs, corpus, k = 5)
      .select("qid", "cid").persist()
    val cents = broadcast(corpus.orderBy("cid").limit(16)
      .select(col("cid").as("centroid_id"), col("ce").as("centroid")))
    val entries = Similarity.assignToCentroids(
        qs.select(col("qid"), col("qe")), "qid", "qe", cents, nKeep = 2)
      .select(col("qid"), col("centroid_id").as("cid"))
    val stitched = Similarity.lshKnnEdgesMultiTable(corpus, d = 4,
      nPlanes = 6, dim = 64, nTables = 4).persist()
    stitched.count()
    val refined = Similarity.nnDescentEdges(stitched, corpus, d = 16, rounds = 2)
      .persist()
    refined.count()
    def hits(e: org.apache.spark.sql.DataFrame): Long =
      exact.join(Similarity.beamTopKFrom(qs, corpus, e, entries,
        k = 5, beam = 8, rounds = 3).select("qid", "cid"),
        Seq("qid", "cid")).count()
    val hs = hits(stitched)
    val hr = hits(refined)
    assert(hr >= hs, s"refined beam recall must not regress: $hs -> $hr")
    assert(hr > 0, "refined beam must find something")
    spark.catalog.clearCache()
  }

  test("pqTopK: full-pool rerank equals brute-force; ADC output shape") {
    // deterministic 30-node corpus (same LCG as the nnDescent test)
    var st = 98765L
    def nx(): Float = { st = st * 6364136223846793005L + 1442695040888963407L
      (((st >>> 33).toInt % 1000) / 500.0f) - 1.0f + 0.001f }
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(nx())))
    val corpus = vecs.toDF("cid", "ce")
    val qs = vecs.take(5).map { case (i, v) => (i, v) }.toDF("qid", "qe")
    // (a) rerank >= corpus size -> the ADC pool contains every non-self
    // candidate (qtab holds every (s, code) pair per query, codes is an
    // inner join on it), so the exact second stage must reproduce
    // brute-force cosineTopK bit-for-bit (same rounding, same tie-break)
    val full = Similarity.pqTopK(qs, corpus, k = 3, nSub = 4, nCodes = 4,
      dim = 8, rerank = 30).orderBy("qid", "rnk").collect().toSeq
    val exact = Similarity.cosineTopK(qs, corpus, k = 3)
      .orderBy("qid", "rnk").collect().toSeq
    assert(full == exact, "full-pool PQ rerank must equal brute-force")
    // (b) raw ADC: k rows per query, no self-pairs, rnk is 1..k
    val adc = Similarity.pqTopK(qs, corpus, k = 3, nSub = 4, nCodes = 4,
      dim = 8).collect()
    assert(adc.forall(r => r.getLong(0) != r.getLong(1)), "no self-pairs")
    val perQ = adc.groupBy(_.getLong(0)).map(_._2.map(_.getLong(3)).sorted.toSeq)
    assert(perQ.forall(_ == Seq(1L, 2L, 3L)), "rnk must be exactly 1..k per query")
    spark.catalog.clearCache()
  }

  test("ivfPqTopK: all-cells full-pool equals brute-force; pruned output shape") {
    var st = 24680L
    def nx(): Float = { st = st * 6364136223846793005L + 1442695040888963407L
      (((st >>> 33).toInt % 1000) / 500.0f) - 1.0f + 0.001f }
    val vecs = (0L until 40L).map(i => (i, Array.fill(8)(nx())))
    val corpus = vecs.toDF("cid", "ce")
    val qs = vecs.take(5).toDF("qid", "qe")
    // (a) nprobe = nlist visits every cell and a corpus-sized pool keeps
    // every candidate -> the exact rerank must reproduce brute-force
    // cosineTopK bit-for-bit (same rounding, same tie-break)
    val full = Similarity.ivfPqTopK(qs, corpus, k = 3, nlist = 4,
        nprobe = 4, nSub = 4, nCodes = 8, dim = 8, rerank = 40)
      .orderBy("qid", "rnk").collect().toSeq
    val exact = Similarity.cosineTopK(qs, corpus, k = 3)
      .orderBy("qid", "rnk").collect().toSeq
    assert(full == exact, "all-cells full-pool IVFPQ must equal brute-force")
    // (b) pruned serve: k rows per query, no self-pairs, rnk 1..k
    val pruned = Similarity.ivfPqTopK(qs, corpus, k = 3, nlist = 4,
      nprobe = 2, nSub = 4, nCodes = 8, dim = 8, rerank = 10).collect()
    assert(pruned.forall(r => r.getLong(0) != r.getLong(1)), "no self-pairs")
    val perQ = pruned.groupBy(_.getLong(0)).map(_._2.map(_.getLong(3)).sorted.toSeq)
    assert(perQ.forall(_ == Seq(1L, 2L, 3L)), "rnk must be exactly 1..k per query")
    spark.catalog.clearCache()
  }

  test("pqSemDedupBatch: pool >= cell size equals the exact same-cell scan") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val base = emb.filter(col("vec_id") < 150)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // duplicate-heavy corpus (two copies of every vector, distinct ids)
    // exercises the rep-level index + member expansion on both sides
    val corpus = base.unionByName(
      base.select((col("cid") + 1000L).as("cid"), col("ce")))
    val batch = emb.filter(col("vec_id") >= 150 && col("vec_id") < 180)
      .select(col("vec_id").as("da"), col("embedding").as("ea"))
      .unionByName(emb.filter(col("vec_id") === 150)
        .select((col("vec_id") + 2000L).as("da"), col("embedding").as("ea")))
    val idx = Similarity.ivfPqIndex(corpus, nlist = 4, nSub = 8,
      nCodes = 8, dim = 64)
    // an unbounded pool covers every cell -> the PQ ingest scorer must
    // reproduce the exact same-cell scan (scoreSemDedupBatchDeduped)
    // bit-for-bit: same assignment, same rounded cosine, same expansion
    val pq = Similarity.pqSemDedupBatch(batch, idx, m = 1000000,
      threshold = 0.35).orderBy("da", "db").collect().toSeq
    val reps = idx.grp.select(col("rep").as("pb"), col("ce").as("eb"))
    val corpusReps = Similarity.assignToCentroids(reps, "pb", "eb", idx.cents)
      .withColumn("nb", expr("sqrt(vec_dot(eb, eb))"))
    val cmem = idx.grp.select(col("rep").as("pb"), explode(col("ids")).as("db"))
    val direct = graft.queries.Round8.scoreSemDedupBatchDeduped(
        batch, idx.cents, corpusReps, cmem)
      .orderBy("da", "db").collect().toSeq
    assert(pq == direct, "full-pool PQ ingest must equal the exact cell scan")
    assert(pq.nonEmpty, "fixture must produce alerts")
    // a binding pool emits a SUBSET (pool-bounded alerts, never extras)
    val bounded = Similarity.pqSemDedupBatch(batch, idx, m = 2,
        threshold = 0.35)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bounded.subsetOf(full), "bounded pool must be a subset")
    spark.catalog.clearCache()
  }

  test("Hierarchy.depths: clean chains resolve; dangling and cyclic get sentinel") {
    // 1 -> 0 (root, d=1); 2 -> 1 (d=2); 3 -> 9 (dangling: 9 not an id);
    // 4 -> 5, 5 -> 4 (cycle, never finishes); 6 -> NULL (null parent);
    // 7 -> 6 (walks INTO a null-parent node mid-chain)
    val edges = Seq(
      (1L, Some(0L)), (2L, Some(1L)), (3L, Some(9L)),
      (4L, Some(5L)), (5L, Some(4L)), (6L, None: Option[Long]),
      (7L, Some(6L)))
      .toDF("id", "parent")
    val out = Hierarchy.depths(edges, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 7, s"no node may vanish: $out")
    assert(out(1L) == 1L && out(2L) == 2L)
    Seq(3L, 4L, 5L, 6L, 7L).foreach(id =>
      assert(out(id) == Hierarchy.Unresolved, s"node $id: $out"))
  }
}
