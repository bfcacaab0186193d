package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.ConcurrentHashMap

/** Build-once-per-fixture parquet artifacts — the general form of the
  * [[graft.operators.Similarity.nnDescentEdges]] scratch-parquet rule:
  * an index/graph/measurement table is an ARTIFACT (built once, served
  * many), not a per-query subtree. Round 9's clearCache honesty change
  * made every recall-family query re-pay its identical exact-top-5
  * scan and graph build (q303 4.0→10.1 s, q304's 12.9 s dominated by
  * the stitched build + refinement — the round-9 verdict's bench-gate
  * finding); this cache materializes each such artifact to scratch
  * parquet the FIRST time any query asks for it and hands every later
  * caller a flat parquet scan.
  *
  * Keyed by (canonical fixture path, size, mtime, label) — the
  * PipelineRunner content-fingerprint rule — so two SFs never collide
  * and a regenerated fixture rebuilds. Nothing here checks that two
  * callers passing one label pass the same build, so a label is
  * declared by exactly one function that owns its label, params and
  * build (the PipelineRunner one-rule-per-target rule;
  * `FunctionCatalogSpec` fails on a label text at two call sites).
  * The label must encode
  * every build dial (degree, planes, tables, rounds); two configs are
  * two artifacts, and a CHANGED dial is a changed label, hence a
  * rebuild, never a stale serve. Callers that want that contract
  * enforced pass `params` (the dial map): on a cache hit the recorded
  * params must match EXACTLY or the call fails loudly — a label that
  * under-encodes its dials turns into a require failure instead of a
  * silent stale artifact (the round-10 verdict's sidecar ask; the
  * params are also written to a `_GRAFT_PARAMS` sidecar in the
  * artifact directory for post-hoc inspection). Lifecycle is the JVM:
  * Scratch registers the delete hook, `spark.catalog.clearCache()`
  * between queries does not touch it (by design — that clear releases
  * per-query persists; these are fixture-keyed builds), and a new
  * harness process starts clean.
  *
  * Concurrency: the cache holds one latch per key; the BUILD runs
  * outside any lock (round-10 verdict finding #3 — the previous form
  * ran the whole Spark job under the cache monitor, serializing every
  * concurrent artifact build behind one lock). Two threads asking for
  * the same key race to install the latch; the loser awaits the
  * winner's build. Nested builds (q313's stitched-inside-nnd) use
  * DIFFERENT keys, so there is no same-thread same-key re-entry. A
  * failed build clears its latch so a later caller retries instead of
  * serving a broken path.
  */
object FixtureArtifact {
  private final class Slot(val params: Map[String, Long]) {
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var path: String = null
    @volatile var failure: Throwable = null
  }
  private val cache = new ConcurrentHashMap[String, Slot]()

  /** Return `build`'s result as a parquet-backed frame, building at
    * most once per (fixture fingerprint, label) per JVM. `build` must
    * be deterministic in the fixture (every artifact here is — the
    * repo's value-determinism rules make the exact table and the edge
    * sets pure functions of the fixture). `params` (optional) is the
    * build's dial map; a cache hit with different params fails loudly.
    */
  def parquet(s: SparkSession, fixtureDir: String, fixtureFile: String,
      label: String, params: Map[String, Long] = Map.empty)(
      build: => DataFrame): DataFrame = {
    val f = new java.io.File(new java.io.File(fixtureDir), fixtureFile)
    val key = s"${f.getCanonicalPath}|${f.length}|${f.lastModified}|$label"
    val fresh = new Slot(params)
    val slot = cache.putIfAbsent(key, fresh) match {
      case null => // we won the race: build OUTSIDE any lock
        try {
          val out = Scratch.dir(s"artifact_$label")
          build.write.mode("overwrite").parquet(out)
          val sidecar = java.nio.file.Paths.get(out, "_GRAFT_PARAMS")
          val body = (Seq(s"label=$label") ++
            params.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" })
            .mkString("", "\n", "\n")
          java.nio.file.Files.write(sidecar,
            body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          fresh.path = out
        } catch {
          case t: Throwable =>
            fresh.failure = t
            cache.remove(key, fresh) // let a later caller retry
            throw t
        } finally fresh.done.countDown()
        fresh
      case existing =>
        require(existing.params == params,
          s"FixtureArtifact dial mismatch for label '$label': cached " +
            s"params ${existing.params} != requested $params — the label " +
            "must encode every build dial (two configs are two artifacts)")
        existing.done.await()
        if (existing.failure != null) throw existing.failure
        existing
    }
    s.read.parquet(slot.path)
  }
}
