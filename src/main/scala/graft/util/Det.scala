package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Determinism helpers for DuckDB-oracle hash parity (SURVEY.md §2.3).
  *
  * Double summation is order-dependent, and Spark's partial/final
  * aggregation order differs from DuckDB's single-threaded scan, so a
  * plain `sum(double)` can differ in the low digits — enough to flip a
  * `round(x, 6)`. Instead we cast each addend to DECIMAL(18,6) (identical
  * nearest-rounding in both engines on identical input doubles), sum
  * exactly (order-independent), and cast the exact total back to double
  * (same IEEE nearest-rounding both sides). Result: bit-identical doubles
  * regardless of partitioning — also the property that keeps results
  * stable between local[32] and a 1000-executor cluster.
  *
  * WIDTH RULE (found empirically, round 3): stay int64-backed —
  * precision <= 18. DECIMAL(p>18) is int128-backed in DuckDB, and once
  * the unscaled sum exceeds 2^53 the two engines' int128->double casts
  * round differently (observed 1-ulp divergence on a DECIMAL(28,6)
  * sum of price^2). For wider addends, lower the scale until the
  * addend is still exactly representable (integers -> scale 0,
  * 2-decimal money -> scale 2) instead of raising the precision.
  */
object Det {
  val D6: DecimalType = DecimalType(18, 6)

  /** Order-independent exact sum of a double expression, as double. */
  def dsum(c: Column): Column = sum(c.cast(D6)).cast("double")

  /** Exact-sum mean: decimal sum / count, evaluated in double. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Oracle SQL fragment mirroring [[dsum]]. */
  def dsumSql(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(18,6))) AS DOUBLE)"

  /** Oracle SQL fragment mirroring [[davg]]. */
  def davgSql(e: String): String = s"${dsumSql(e)}/COUNT($e)"

  /** Whole-second epoch in oracle SQL, the twin of Spark's
    * `unix_timestamp`. The only oracle-safe projection of `events.ts`:
    * parquet stores ns, Spark truncates to µs, DuckDB keeps ns
    * (SURVEY.md §1.2) — both floor identically to whole seconds.
    */
  def epochSecSql(e: String): String = s"CAST(floor(epoch($e)) AS BIGINT)"
}
