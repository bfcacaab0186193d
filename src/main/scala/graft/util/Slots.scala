package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit, pmod}

/** The seedless Lehmer slot split, slot(key) = (key · 2654435761) mod n,
  * and the one home of its multiplier. The queries use it to split a
  * fixture into standing corpus and streamed probes, to mark takedowns,
  * to sample and to order by a key-uncorrelated hash; the DuckDB
  * oracles replay it in plain int64 arithmetic. Keys must be
  * non-negative and at most [[MaxKey]] (≈ 3.47·10^9), so the product
  * stays in int64 and SQL's truncating `%` equals `pmod`.
  *
  * Every form comes from here so the Spark side and its oracle twin
  * cannot drift apart: [[of]] for a Spark `Column`, [[sql]] for DuckDB
  * and Spark SQL text, [[bucket]] for a JVM `Long`. A split that two
  * sites must agree on is a named [[Split]].
  */
object Slots {
  val Multiplier = 2654435761L

  /** The largest key whose product with [[Multiplier]] fits in int64
    * (≈ 3.47·10^9). Larger ids give a wrapped-negative hash in Spark and
    * a BIGINT overflow in DuckDB; the bound is below 2^32, so it also
    * covers q331's (hash, doc_id) okey packing. */
  val MaxKey: Long = Long.MaxValue / Multiplier

  /** key · Multiplier: the hash as an ordering key, or under an
    * operator other than `pmod`. */
  def hash(key: Column): Column = key * lit(Multiplier)

  /** The slot of `key` among `n`, as a Spark column. */
  def of(key: Column, n: Long): Column = pmod(hash(key), lit(n))

  /** The slot of `key` among `n`, as SQL text: `(key * M) % n`. */
  def sql(key: String, n: Long): String = s"($key * $Multiplier) % $n"

  /** The slot of `key` among `n` for a JVM long (any key: the result is
    * always in [0, n)). */
  def bucket(key: Long, n: Long): Long = {
    val m = (key * Multiplier) % n
    if (m < 0) m + n else m
  }

  /** The rows whose `key` lands in `slot` of `n` (`in`) or elsewhere
    * (`out`). The nullary forms split on `key`; the others take the
    * key to split on: a qualified name (`e.vec_id`), another id column
    * (`doc_id`) or a derived id such as a token's document. */
  final case class Split(key: String, n: Long, slot: Int) {
    def in: Column = in(col(key))
    def out: Column = out(col(key))
    def in(k: Column): Column = of(k, n) === slot
    def out(k: Column): Column = of(k, n) =!= slot
    def inSql: String = inSql(key)
    def outSql: String = outSql(key)
    def inSql(k: String): String = s"${sql(k, n)} = $slot"
    def outSql(k: String): String = s"${sql(k, n)} <> $slot"
  }

  /** The ingest convention (q291, q305, q311, q313 and their kin):
    * slot 0 of 10 is the streamed probe workload, the rest the
    * standing corpus. */
  val Probe = Split("vec_id", 10, 0)

  /** The takedown slot (q321, q340, q341, q346): slot 1 of 3 is
    * removed, about a third of the corpus. */
  val Tomb = Split("vec_id", 3, 1)
}
