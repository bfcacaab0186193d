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

  test("src/main: one home for the slot multiplier, mains only in Verify, Bench, Probe") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (cwd ${new java.io.File(".").getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    assert(sources.size > 50)
    val multiplierHomes = sources.filter(f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .contains("2654435761")).map(_.getName)
    assert(multiplierHomes == Seq("Slots.scala"),
      s"the slot multiplier must appear only in Slots.scala: $multiplierHomes")
    val mainObjects = sources.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      """def\s+main\s*\(""".r.findAllMatchIn(text).map { m =>
        """object\s+(\w+)""".r.findAllMatchIn(text.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse(f.getName)
      }
    }.toSet
    assert(mainObjects == Set("Verify", "Bench", "Probe"),
      s"entry points other than Verify, Bench and Probe: $mainObjects")
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
