package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join (latest right row at-or-before each left row) composed from
  * built-ins — SURVEY.md §2.2 "implement as composition, not custom
  * strategy".
  *
  * Strategy: tag the two inputs, union them, and take a running
  * `last_value` of the right-side payload over a window partitioned by
  * the key and ordered by (time, side, tiebreak) with side ordering
  * right-before-left at equal times. This is one shuffle on the key —
  * it avoids the O(n·m) range join entirely, and at cluster scale it is
  * a single sort-merge pass, the same shape a native as-of operator
  * would use.
  */
object AsOfJoin {

  /** Join `left` to the most recent `right` row with `right.timeCol <=
    * left.timeCol`, per `key`. Payload columns from the right are
    * forward-filled; left rows with no prior right row get nulls.
    *
    * @param tieBreak unique right-side column making the fill
    *                 deterministic when several right rows share a time.
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      key: String,
      timeCol: String,
      tieBreak: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns
    val l = left
      .withColumn("__side", lit(1))
      .withColumn("__tb", lit(null).cast("long"))
    val r0 = right
      .withColumn("__side", lit(0))
      .withColumn("__tb", col(tieBreak).cast("long"))
    // align schemas: left gets null payload slots, right gets null left-only cols
    val lAligned = payload.foldLeft(l)((df, p) =>
      if (leftCols.contains(p)) df
      else df.withColumn(p, lit(null).cast(right.schema(p).dataType)))
    val rAligned = leftCols.foldLeft(r0)((df, c) =>
      if (right.columns.contains(c) || c == key || c == timeCol) df
      else df.withColumn(c, lit(null).cast(left.schema(c).dataType)))
    val unioned = lAligned.select(
      (leftCols.map(col) ++ payload.filterNot(leftCols.contains).map(col)
        ++ Seq(col("__side"), col("__tb"))): _*)
      .unionByName(rAligned.select(
        (leftCols.map(col) ++ payload.filterNot(leftCols.contains).map(col)
          ++ Seq(col("__side"), col("__tb"))): _*))
    val w = Window.partitionBy(key)
      .orderBy(col(timeCol), col("__side"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = payload.filterNot(leftCols.contains).foldLeft(unioned) {
      (df, p) => df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1).drop("__side", "__tb")
  }

  /** Compact as-of form used by the scored query: the right side is
    * pre-encoded into a single sortable long `code` (e.g. sec*K + id);
    * result adds `match_code` = running max of codes at-or-before each
    * left row. Identical single-shuffle shape.
    */
  def asOfCode(
      probes: DataFrame, // key, time, probeId
      sources: DataFrame, // key, time, code
      key: String,
      timeCol: String,
      probeId: String): DataFrame = {
    val p = probes.select(col(key), col(timeCol), lit(1).as("__side"),
      lit(null).cast("long").as("code"), col(probeId))
    val s = sources.select(col(key), col(timeCol), lit(0).as("__side"),
      col("code"), lit(null).cast("long").as(probeId))
    val w = Window.partitionBy(key)
      .orderBy(col(timeCol), col("__side"), col("code"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.unionByName(s)
      .withColumn("match_code", max(col("code")).over(w))
      .filter(col("__side") === 1)
      .select(col(probeId), col(key), col("match_code"))
  }

  /** [[asOfCode]] with a tolerance bound: a match older than `tolSecs`
    * before the probe is nulled out. Because the as-of match is the
    * *latest* at-or-before row, post-filtering it on age is equivalent
    * to restricting the search to `[t - tol, t]` — same single-shuffle
    * plan, no extra pass. `codeBase` is the per-second multiplier used
    * to encode the source time into `code` (integer DIV recovers it;
    * codes exceed 2^53, so double math would corrupt them).
    */
  def asOfCodeTol(
      probes: DataFrame,
      sources: DataFrame,
      key: String,
      timeCol: String,
      probeId: String,
      codeBase: Long,
      tolSecs: Long): DataFrame = {
    val p = probes.select(col(key), col(timeCol), lit(1).as("__side"),
      lit(null).cast("long").as("code"), col(probeId))
    val s = sources.select(col(key), col(timeCol), lit(0).as("__side"),
      col("code"), lit(null).cast("long").as(probeId))
    val w = Window.partitionBy(key)
      .orderBy(col(timeCol), col("__side"), col("code"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.unionByName(s)
      .withColumn("match_code", max(col("code")).over(w))
      .filter(col("__side") === 1)
      .withColumn("match_code",
        when(col(timeCol) - expr(s"match_code DIV $codeBase") <= tolSecs,
          col("match_code")))
      .select(col(probeId), col(key), col("match_code"))
  }
}
