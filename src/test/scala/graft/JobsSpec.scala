package graft

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.util.Jobs

/** `Jobs.scope` drains every part it started before it returns or
  * throws, and rethrows the first failure unwrapped; `Jobs.cut` is a
  * value-preserving parquet round trip under a labelled scratch dir.
  */
class JobsSpec extends SparkTestBase {

  private def marker(tag: String): Path =
    Files.createTempDirectory(s"jobs_spec_$tag").resolve("done")

  /** A part body: a Spark job, then a sleep, then the marker file. */
  private def slow(done: Path): Long = {
    val n = spark.range(1000).count()
    Thread.sleep(1500)
    Files.write(done, Array[Byte](1))
    n
  }

  test("a body that throws returns only after its in-flight part finished") {
    val done = marker("body")
    val e = intercept[IllegalStateException] {
      Jobs.scope(spark) { j =>
        j.part("jobs_spec_slow")(slow(done))
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(Files.exists(done), "the scope returned before its part finished")
  }

  test("a failing part is rethrown unwrapped after its sibling finished") {
    val done = marker("part")
    val boom = new IllegalArgumentException("part failed")
    val e = intercept[IllegalArgumentException] {
      Jobs.scope(spark) { j =>
        j.part[Long]("jobs_spec_fail")(throw boom)
        j.part("jobs_spec_sibling")(slow(done))
        "unused"
      }
    }
    assert(e eq boom)
    assert(Files.exists(done), "the scope rethrew before the sibling finished")
  }

  test("a part's label is the job description of the jobs it submits") {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .filter(_.startsWith("jobs_spec_lbl_")).foreach(seen.add)
    }
    def action(): Long = spark.range(10).count()
    val before = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    try {
      // the caller's own description must not leak into a part's jobs,
      // and the second scope's part runs on a reused pool thread that
      // already ran a part under another label
      sc.setLocalProperty(key, "jobs_spec_lbl_caller")
      Jobs.scope(spark)(_.part("jobs_spec_lbl_a")(action()).get)
      Jobs.scope(spark)(_.part("jobs_spec_lbl_b")(action()).get)
      action()
      // the bus delivers events in order: once the end job is seen,
      // every earlier job's event has been seen too
      sc.setLocalProperty(key, "jobs_spec_lbl_end")
      action()
      val deadline = System.nanoTime + 60000000000L
      while (!seen.contains("jobs_spec_lbl_end") && System.nanoTime < deadline)
        Thread.sleep(20)
    } finally {
      sc.setLocalProperty(key, before)
      sc.removeSparkListener(listener)
    }
    val byLabel = seen.toArray(Array.empty[String]).toSeq
      .filter(_ != "jobs_spec_lbl_end").groupBy(identity).map { case (l, ls) => l -> ls.size }
    assert(byLabel.keySet ==
      Set("jobs_spec_lbl_a", "jobs_spec_lbl_b", "jobs_spec_lbl_caller"), byLabel)
    assert(byLabel.values.toSet.size == 1,
      s"the same action ran a different number of jobs per label: $byLabel")
  }

  test("Jobs.cut keeps rows and schema and writes under a dir named by the label") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType),
      StructField("s", StringType), StructField("v", ArrayType(FloatType))))
    val rows = (0 until 200).map(i => Row(i.toLong,
      if (i % 7 == 0) null else i * 0.1,
      if (i % 5 == 0) null else s"s$i",
      Seq(i.toFloat, -i.toFloat / 3)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val label = s"jobs_spec_cut_${System.nanoTime}"
    val out = Jobs.cut(df, label)
    assert(out.schema == df.schema)
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(sorted(out) == sorted(df))
    val dirs = out.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f)).getParentFile.getName).toSet
    assert(dirs.size == 1 && dirs.head.startsWith(label), dirs)
  }
}
