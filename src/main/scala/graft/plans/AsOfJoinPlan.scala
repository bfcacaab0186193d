package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Whole-operator custom as-of join — the (c) path of SURVEY.md §2.2's
  * custom-op preference order, demonstrated end to end: a logical node,
  * a planner Strategy (registered via `experimental.extraStrategies` or
  * [[GraftExtensions]]), and a physical operator that merges the two
  * key-clustered, time-sorted children in ONE streaming pass per
  * partition — no window state, no union, no per-row ranking.
  *
  * Contract (mirrors operators.AsOfJoin.asOfCode): left = probes
  * `(key, time, probeId)`, right = sources `(key, time, code)`, all
  * LongType; output = `(probeId, key, match_code)` where match_code is
  * the max code among sources with the same key and time <= probe time
  * (codes are constructed monotone in (time, id), so "max" == "latest").
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    // constructor param (not a val) so tree copies keep the exprId stable
    matchCode: AttributeReference =
      AttributeReference("match_code", LongType, nullable = true)())
    extends BinaryNode {
  override def output: Seq[Attribute] =
    Seq(left.output(2), left.output(0), matchCode)
  // consume every child column (stops ColumnPruning from rewriting the
  // children under us) and own the new match_code attribute
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(matchCode))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    outAttrs: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] = outAttrs
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(outAttrs.last))

  // both sides hash-clustered on the key and sorted by (key, time):
  // EnsureRequirements inserts compatible exchanges + sorts, exactly as
  // it does for a sort-merge join.
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(left.output.head)),
      ClusteredDistribution(Seq(right.output.head)))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(left.output.head, Ascending),
        SortOrder(left.output(1), Ascending)),
      Seq(SortOrder(right.output.head, Ascending),
        SortOrder(right.output(1), Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    left.execute().zipPartitions(right.execute()) { (probes, sources) =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(output.map(_.dataType).toArray)
      new Iterator[InternalRow] {
        private val src = sources.buffered
        private var curKey = Long.MinValue
        private var lastCode = 0L
        private var hasMatch = false

        override def hasNext: Boolean = probes.hasNext
        override def next(): InternalRow = {
          val p = probes.next()
          val pKey = p.getLong(0); val pTime = p.getLong(1)
          if (pKey != curKey) { curKey = pKey; hasMatch = false; lastCode = 0L }
          // drain sources with key < pKey (their state is irrelevant now)
          while (src.hasNext && src.head.getLong(0) < pKey) src.next()
          // absorb sources for this key with time <= probe time
          while (src.hasNext && src.head.getLong(0) == pKey
              && src.head.getLong(1) <= pTime) {
            val s = src.next()
            val c = s.getLong(2)
            if (!hasMatch || c > lastCode) { lastCode = c; hasMatch = true }
          }
          val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
          out.setLong(0, p.getLong(2)) // probeId
          out.setLong(1, pKey)
          if (hasMatch) out.setLong(2, lastCode) else out.setNullAt(2)
          proj(out)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(planLater(n.left), planLater(n.right), n.output) :: Nil
    case _ => Nil
  }
}

object AsOfJoinPlan {
  /** Register the strategy (idempotent) and run the custom operator.
    * `probes` must be (key, time, probeId), `sources` (key, time, code),
    * all bigint.
    */
  def asOf(probes: DataFrame, sources: DataFrame): DataFrame = {
    val spark = probes.sparkSession
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies = strategies :+ AsOfJoinStrategy
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
      AsOfJoinNode(probes.queryExecution.analyzed,
        sources.queryExecution.analyzed))
  }
}
