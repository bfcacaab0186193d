package graft.sources

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{AggregateFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructType}

/** SQL-addressable functions served by [[MemCatalog]]'s FunctionCatalog
  * surface: `SELECT graftmem.hash_bucket(k, 8)`,
  * `SELECT graftmem.dsum(x) … GROUP BY …`. Catalog functions are the
  * engine-native extension point for a shared function library — unlike
  * session UDFs they resolve by catalog identifier, bind with type
  * checking, and (for scalars) expose the MAGIC_METHOD `invoke` with
  * primitive argument/return types, which Spark calls through codegen
  * with no boxing and no row wrapping.
  */
object CatalogFunctions {

  /** Deterministic multiplicative-hash shard assignment — the same
    * [[graft.util.Slots]] split the hash-sampling queries use, so the
    * DuckDB oracle can reproduce it arithmetically. Exact in int64 for
    * any key up to `Slots.MaxKey` (~3.5e9).
    */
  object HashBucket extends UnboundFunction {
    override def name(): String = "hash_bucket"
    override def description(): String =
      "hash_bucket(key BIGINT, n INT): deterministic shard in [0, n)"
    override def bind(inputType: StructType): ScalarFunction[java.lang.Long] = {
      require(inputType.length == 2 &&
        inputType.fields(0).dataType == LongType &&
        inputType.fields(1).dataType == IntegerType,
        s"hash_bucket expects (BIGINT, INT), got $inputType")
      Bound
    }
    object Bound extends ScalarFunction[java.lang.Long] {
      override def name(): String = "hash_bucket"
      override def canonicalName(): String = "graft.hash_bucket"
      override def inputTypes(): Array[DataType] = Array(LongType, IntegerType)
      override def resultType(): DataType = LongType
      override def isResultNullable: Boolean = false
      // the magic method: codegen invokes this directly with primitives
      def invoke(key: Long, n: Int): Long = graft.util.Slots.bucket(key, n)
      // interpreted fallback (also exercised by the spec)
      override def produceResult(input: InternalRow): java.lang.Long =
        invoke(input.getLong(0), input.getInt(1))
    }
  }

  /** Order-independent exact double sum — util.Det.dsum as a catalog
    * AGGREGATE function: each addend is rounded to DECIMAL(18,6)
    * (HALF_UP, matching both engines' decimal cast), summed exactly in
    * the int64 unscaled domain, and the exact total converts to double
    * once. State is a single Long, so partial aggregation and merge are
    * trivial and the result is bit-identical on any partitioning.
    */
  object DSum extends UnboundFunction {
    override def name(): String = "dsum"
    override def description(): String =
      "dsum(x DOUBLE): order-independent exact sum via DECIMAL(18,6)"
    override def bind(inputType: StructType): AggregateFunction[java.lang.Long, java.lang.Double] = {
      require(inputType.length == 1 &&
        inputType.fields(0).dataType == DoubleType,
        s"dsum expects (DOUBLE), got $inputType")
      Bound
    }
    object Bound extends AggregateFunction[java.lang.Long, java.lang.Double] {
      override def name(): String = "dsum"
      override def canonicalName(): String = "graft.dsum"
      override def inputTypes(): Array[DataType] = Array(DoubleType)
      override def resultType(): DataType = DoubleType
      override def newAggregationState(): java.lang.Long = 0L
      override def update(state: java.lang.Long,
          input: InternalRow): java.lang.Long =
        if (input.isNullAt(0)) state
        else state + JBigDecimal.valueOf(input.getDouble(0))
          .setScale(6, RoundingMode.HALF_UP).unscaledValue().longValueExact()
      override def merge(a: java.lang.Long, b: java.lang.Long): java.lang.Long =
        a + b
      override def produceResult(state: java.lang.Long): java.lang.Double =
        new JBigDecimal(java.math.BigInteger.valueOf(state), 6).doubleValue()
    }
  }

  val all: Map[String, UnboundFunction] =
    Map("hash_bucket" -> HashBucket, "dsum" -> DSum)
}
