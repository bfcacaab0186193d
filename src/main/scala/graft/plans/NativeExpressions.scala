package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native Catalyst expressions for the embedding hot path.
  *
  * The higher-order-function form of a dot product
  * (`aggregate(zip_with(...))`) evaluates an interpreted lambda per
  * element — fine for one-off queries, but similarity search evaluates
  * it per candidate pair. This expression participates in whole-stage
  * codegen: a tight primitive loop over the two float arrays, no
  * per-element boxing. Accumulation is sequential ascending-index in
  * double — bit-identical to the HOF form, so oracle parity is
  * unaffected.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be array<float>; used only through NativeExpressions
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd integer dot product of two long-array columns — the SQ8
  * candidate-ranking hot path (`aggregate(zip_with(qq, cc, (x, y) ->
  * x * y), 0L, (a, x) -> a + x)` evaluated per candidate token pair
  * was the measured hot stage of the MaxSim ingest pipeline: ~2.7 s of
  * q343's 3.9 s at sf0.1 — guide §4). Accumulation is sequential
  * ascending-index in long; integer addition is exact, so the value is
  * bit-identical to the HOF fold. Arrays are same-length SQ8 codes by
  * construction; min-length is taken like [[FloatVectorDot]].
  */
case class LongVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be array<long>; used only through NativeExpressions
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_dotl"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $acc = 0L;
        for (int $i = 0; $i < $n; $i++) {
          $acc += $a.getLong($i) * $b.getLong($i);
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration of the native expressions. */
object NativeExpressions {

  /** Register `vec_dot` in the session's function registry (idempotent)
    * so it is usable from SQL and from `expr` columns.
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => FloatVectorDot(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dotl", exprs => LongVectorDot(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_ngram_hashes",
      exprs => WordNGramHashes(exprs(0), NativeExpressions.literalInt(exprs(1))),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "morton2", exprs => MortonInterleave(exprs(0), exprs(1)), "built-in")
  }

  private def literalInt(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"word_ngram_hashes n must be an integer literal, got $other")
    }
}
