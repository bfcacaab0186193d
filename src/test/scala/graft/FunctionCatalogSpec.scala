package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** MemCatalog's FunctionCatalog surface: catalog-resolved SQL functions —
  * the magic-method scalar (codegen, no boxing) and the v2 aggregate
  * function with a mergeable state (partition-order independent).
  */
class FunctionCatalogSpec extends SparkTestBase {
  import spark.implicits._

  private def init(): Unit =
    spark.conf.set("spark.sql.catalog.graftmem", "graft.sources.MemCatalog")

  test("catalog scalar function matches its arithmetic twin") {
    init()
    Seq(0L, 1L, 7L, 12345L, 999999L).toDF("k")
      .createOrReplaceTempView("fc_keys")
    val rows = spark.sql(
      """SELECT k, graftmem.hash_bucket(k, 8) AS b,
         ((k * 2654435761) % 8 + 8) % 8 AS expect FROM fc_keys""")
      .collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), r))
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 8))
    // interpreted fallback agrees with the magic method
    import graft.sources.CatalogFunctions.HashBucket
    val f = HashBucket.Bound
    assert(f.produceResult(
      org.apache.spark.sql.catalyst.InternalRow(12345L, 8)) == f.invoke(12345L, 8))
  }

  test("Slots: Column, SQL and Long forms equal the floorMod split") {
    import graft.util.Slots
    // non-negative keys up to the int64 bound of the product (~3.47e9)
    val rnd = new scala.util.Random(7)
    val keys = (Seq(0L, 1L, 2L, 3L, 4L, 7L, 12345L, 999999L, 1000003L,
      Int.MaxValue.toLong, 3000000000L, Slots.MaxKey - 1, Slots.MaxKey) ++
      Seq.fill(2000)((rnd.nextDouble() * Slots.MaxKey).toLong)).distinct
    assert(Slots.MaxKey >= 3470000000L && Slots.MaxKey < 3500000000L)
    val df = keys.toDF("k")
    df.createOrReplaceTempView("slot_keys")
    for (n <- Seq(2L, 3L, 8L, 10L, 20L, 1000L, 1000000L, 1000003L)) {
      val expect = keys.map(k => k -> Math.floorMod(k * 2654435761L, n)).toMap
      val viaCol = df.select(col("k"), Slots.of(col("k"), n)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaSql = spark.sql(s"SELECT k, ${Slots.sql("k", n)} FROM slot_keys")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaCol == expect, s"Column form differs at n=$n")
      assert(viaSql == expect, s"SQL form differs at n=$n")
      keys.foreach(k => assert(Slots.bucket(k, n) == expect(k), s"bucket($k, $n)"))
      keys.foreach(k => assert(
        graft.sources.CatalogFunctions.HashBucket.Bound.invoke(k, n.toInt) == expect(k),
        s"hash_bucket($k, $n)"))
    }
    // a named split's Column and SQL forms select the same rows
    def ids(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.getLong(0)).toSet
    for (split <- Seq(Slots.Probe, Slots.Tomb)) {
      val keyed = df.select(col("k").as(split.key))
      keyed.createOrReplaceTempView("split_keys")
      assert(ids(keyed.filter(split.in)) ==
        ids(spark.sql(s"SELECT * FROM split_keys WHERE ${split.inSql}")))
      assert(ids(keyed.filter(split.out)) ==
        ids(spark.sql(s"SELECT * FROM split_keys WHERE ${split.outSql}")))
      assert(ids(keyed.filter(split.in)) ==
        keys.filter(x => Math.floorMod(x * 2654435761L, split.n) == split.slot).toSet)
    }
  }

  /** Every `src/main` Scala source with its text. */
  private lazy val sources: Seq[(java.io.File, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (cwd ${new java.io.File(".").getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val found = files(root).filter(_.getName.endsWith(".scala")).map(f =>
      f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    assert(found.size > 50)
    found
  }

  test("src/main: one home for the slot multiplier, mains only in Verify, Bench, Probe") {
    val multiplierHomes = sources.collect {
      case (f, text) if text.contains("2654435761") => f.getName }
    assert(multiplierHomes == Seq("Slots.scala"),
      s"the slot multiplier must appear only in Slots.scala: $multiplierHomes")
    val mainObjects = sources.flatMap { case (f, text) =>
      """def\s+main\s*\(""".r.findAllMatchIn(text).map { m =>
        """object\s+(\w+)""".r.findAllMatchIn(text.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse(f.getName)
      }
    }.toSet
    assert(mainObjects == Set("Verify", "Bench", "Probe"),
      s"entry points other than Verify, Bench and Probe: $mainObjects")
  }

  test("src/main: Future and Await only in Jobs.scala") {
    val overlapHomes = sources.collect {
      case (f, text) if Seq("Await.", "Future(", "Future {", "Jobs.ec")
          .exists(text.contains) =>
        f.getPath.replace(java.io.File.separatorChar, '/')
    }
    assert(overlapHomes == Seq("src/main/scala/graft/util/Jobs.scala"),
      s"overlap goes through Jobs.scope, cuts through Jobs.cut: $overlapHomes")
  }

  test("src/main: one home for the exact vector score") {
    // the norm, the rounded cosine and the dot-over-norms quotient, each
    // spelled by hand — only Similarity.norm / cos / maxsim may do so
    val spellings = Seq("""sqrt\(vec_dot\(""", """round\(expr\("vec_dot\(""",
      """vec_dot\([^)]*\)"\)\s*/""").map(_.r)
    val home = "src/main/scala/graft/operators/Similarity.scala"
    val stray = for {
      (f, text) <- sources
      path = f.getPath.replace(java.io.File.separatorChar, '/')
      re <- spellings
      n = re.findAllMatchIn(text).size
      if n > 0 && (path != home || n > 1)
    } yield s"$path: ${re.regex} x$n"
    assert(stray.isEmpty,
      s"score pairs through Similarity.norm/cos/exactCos/maxsim: $stray")
  }

  test("src/main: one home for the SQ8 approximate key") {
    // intdot(q, c) · rc ranks every SQ8 shortlist and the oracles replay
    // it — only Similarity.sq8Key may spell it
    val homes = sources.flatMap { case (f, text) =>
      val n = """vec_dotl\(""".r.findAllMatchIn(text).size
      if (n > 0) Some(s"${f.getName} x$n") else None
    }
    assert(homes == Seq("Similarity.scala x1"),
      s"SQ8 keys go through Similarity.sq8Key / sq8Maxsim: $homes")
  }

  test("src/main: one micro-batch drain, one graftmem table reset") {
    // every AvailableNow loop goes through EventStreams.drain and every
    // graftmem table reset through MemCatalog.recreate
    def homes(needle: String): Seq[String] = sources.flatMap { case (f, text) =>
      val n = text.split(java.util.regex.Pattern.quote(needle), -1).length - 1
      if (n > 0) Some(s"${f.getPath.replace(java.io.File.separatorChar, '/')} x$n")
      else None
    }
    assert(homes(".foreachBatch") ==
      Seq("src/main/scala/graft/streaming/EventStreams.scala x1"),
      "micro-batch loops go through EventStreams.drain")
    assert(homes("DROP TABLE IF EXISTS graftmem.") ==
      Seq("src/main/scala/graft/sources/MemCatalog.scala x1"),
      "graftmem tables are reset through MemCatalog.recreate")
  }

  /** The top-level argument texts of the parameter list that opens at
    * `text(open)`: commas inside brackets, string literals and `${…}`
    * interpolations do not split. */
  private def callArgs(text: String, open: Int): Seq[String] = {
    def skipString(j: Int): Int = // j at the opening quote
      if (text.startsWith("\"\"\"", j)) text.indexOf("\"\"\"", j + 3) + 3
      else {
        var k = j + 1
        while (text(k) != '"')
          k = if (text(k) == '\\') k + 2
            else if (text.startsWith("${", k)) skipBlock(k + 1)
            else k + 1
        k + 1
      }
    def skipBlock(j: Int): Int = { // j at '{'
      var depth = 0
      var k = j
      do {
        text(k) match {
          case '{' => depth += 1; k += 1
          case '}' => depth -= 1; k += 1
          case '"' => k = skipString(k)
          case _ => k += 1
        }
      } while (depth > 0)
      k
    }
    val args = Seq.newBuilder[String]
    var depth = 0
    var start = open + 1
    var k = open + 1
    while (depth >= 0) {
      text(k) match {
        case '"' => k = skipString(k)
        case '(' | '[' | '{' => depth += 1; k += 1
        case ')' | ']' | '}' =>
          depth -= 1
          if (depth < 0) args += text.substring(start, k)
          k += 1
        case ',' if depth == 0 =>
          args += text.substring(start, k); k += 1; start = k
        case _ => k += 1
      }
    }
    args.result().map(_.trim.split("\\s+").mkString(" "))
  }

  test("src/main: each artifact label is built at one call site") {
    // FixtureArtifact keys on (fixture, label) alone: two sites passing
    // one label would serve whichever build ran first — so every label
    // text is declared by exactly one function
    val calls = """(?<!def )\b(FixtureArtifact\.parquet|statsArtifact)\(""".r
    val sites = for {
      (f, text) <- sources
      m <- calls.findAllMatchIn(text)
    } yield (callArgs(text, m.end - 1)(3),
      s"${f.getName}:${text.substring(0, m.start).count(_ == '\n') + 1}")
    assert(sites.size > 50, s"too few artifact call sites found: ${sites.size}")
    val shared = sites.groupBy(_._1).collect {
      case (label, at) if at.size > 1 => s"$label at ${at.map(_._2).mkString(", ")}"
    }
    assert(shared.isEmpty,
      s"artifact labels built at more than one call site: ${shared.mkString("; ")}")
  }

  test("catalog aggregate function is exact and partitioning-independent") {
    init()
    val vals = (1 to 1000).map(i => (i % 7, i * 0.1 + 0.05))
    vals.toDF("g", "v").repartition(1).createOrReplaceTempView("fc_one")
    vals.toDF("g", "v").repartition(13).createOrReplaceTempView("fc_many")
    val one = spark.sql(
      "SELECT g, graftmem.dsum(v) AS s FROM fc_one GROUP BY g ORDER BY g")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    val many = spark.sql(
      "SELECT g, graftmem.dsum(v) AS s FROM fc_many GROUP BY g ORDER BY g")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(one == many, s"dsum not partition-independent:\n$one\n$many")
    // bit-identical to the Det.dsum expression form
    val det = vals.toDF("g", "v").groupBy("g")
      .agg(graft.util.Det.dsum(col("v")).as("s")).orderBy("g")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(one == det, s"catalog dsum != Det.dsum:\n$one\n$det")
  }

  test("unknown function fails analysis cleanly") {
    init()
    val e = intercept[AnalysisException] {
      spark.sql("SELECT graftmem.no_such_fn(1)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("no_such_fn"), e.getMessage)
  }
}
