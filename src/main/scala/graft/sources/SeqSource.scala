package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsRuntimeFiltering}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A complete DataSourceV2 connector: a deterministic generated table
  * `(id BIGINT, bucket BIGINT, payload STRING)` for id in [0, rows),
  * bucket = id % 10, payload = 'doc_' || id — the custom-source surface
  * a production engine needs for non-file inputs (internal services,
  * generated fixtures, external stores).
  *
  * Demonstrates the full connector pushdown contract, scale-relevantly:
  *  - splits into `slices` independent InputPartitions (parallel read,
  *    no driver materialization — each executor generates its range);
  *  - SupportsPushDownFilters: id-range predicates prune partitions at
  *    planning time (the DSv2 analog of parquet row-group pruning) —
  *    pruned work never reaches an executor;
  *  - SupportsPushDownRequiredColumns: only requested columns are
  *    generated (column pruning through a non-columnar source);
  *  - SupportsPushDownAggregates: global COUNT(*) / MIN / MAX / SUM over
  *    id or bucket collapse to ONE closed-form partial row per slice —
  *    the scan ships `slices` rows to the final aggregate instead of
  *    `rows` (a metadata-only aggregate, like parquet footer statistics);
  *  - SupportsPushDownLimit / SupportsPushDownTopN: each slice emits at
  *    most `limit` rows (for top-k, the k id-extreme rows of the slice),
  *    so a LIMIT/ORDER-BY-LIMIT over a huge source reads O(slices × k),
  *    not O(rows).
  *
  * id-range filters are fully pushed (the slice clamping applies them
  * exactly — and a residual Filter node would block aggregate pushdown);
  * any other predicate stays residual for Spark to re-evaluate. Limit /
  * top-k remain partial (`isPartiallyPushed`), so Spark still applies
  * the final bound, and aggregate pushdown is partial too: Spark's
  * final aggregate merges the per-slice partials.
  *
  * Usage: `spark.read.format("graft.sources.SeqSource")
  *   .option("rows", n).option("slices", p).load()`
  */
class SeqSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SeqSource.fullSchema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SeqTable(
      properties.getOrDefault("rows", "1000").toLong,
      properties.getOrDefault("slices", "4").toInt)
}

object SeqSource {
  val fullSchema: StructType = new StructType()
    .add("id", LongType, nullable = false)
    .add("bucket", LongType, nullable = false)
    .add("payload", StringType, nullable = false)

  /** One pushed-down aggregate, computed in closed form per slice.
    * kind: 0 = count(*), 1 = min, 2 = max, 3 = sum; col: "id"/"bucket".
    */
  private[sources] final case class AggSpec(kind: Int, col: String)
}

private class SeqTable(rows: Long, slices: Int) extends Table with SupportsRead {
  override def name(): String = s"graft_seq($rows)"
  override def schema(): StructType = SeqSource.fullSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SeqScanBuilder(rows, slices)
}

private class SeqScanBuilder(rows: Long, slices: Int)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownTopN {
  import SeqSource.AggSpec

  private var required: StructType = SeqSource.fullSchema
  private var lo: Long = 0L
  private var hi: Long = rows - 1 // inclusive
  private var accepted: Array[Filter] = Array.empty
  private var aggs: Option[Seq[AggSpec]] = None
  private var limit: Option[Int] = None
  private var topNDesc: Option[Boolean] = None // with `limit`: top-k on id

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.collect {
      case f @ EqualTo("id", v: Number) =>
        lo = math.max(lo, v.longValue); hi = math.min(hi, v.longValue); f
      case f @ GreaterThan("id", v: Number) =>
        lo = math.max(lo, v.longValue + 1); f
      case f @ GreaterThanOrEqual("id", v: Number) =>
        lo = math.max(lo, v.longValue); f
      case f @ LessThan("id", v: Number) =>
        hi = math.min(hi, v.longValue - 1); f
      case f @ LessThanOrEqual("id", v: Number) =>
        hi = math.min(hi, v.longValue); f
    }
    // id-range comparisons are applied EXACTLY by the slice clamping, so
    // they are fully pushed (no residual) — a residual Filter node would
    // otherwise block Spark's aggregate pushdown above this scan. All
    // other predicates stay residual for Spark to re-evaluate.
    filters.filterNot(accepted.contains)
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def col1(e: Expression): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 &&
      Seq("id", "bucket").contains(nr.fieldNames.head) =>
      Some(nr.fieldNames.head)
    case _ => None
  }

  // Partial pushdown of GLOBAL aggregates whose per-slice value has a
  // closed form. Anything else (group-by, other functions, distinct)
  // is declined and runs as a normal scan + aggregate.
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (aggregation.groupByExpressions.nonEmpty) return false
    val specs = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => AggSpec(0, "id")
      case m: Min => col1(m.column).map(AggSpec(1, _)).orNull
      case m: Max => col1(m.column).map(AggSpec(2, _)).orNull
      case s: Sum if !s.isDistinct => col1(s.column).map(AggSpec(3, _)).orNull
      case _: AggregateFunc => null
    }
    if (specs.contains(null) || specs.isEmpty) return false
    aggs = Some(specs)
    true
  }

  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  // both parent defaults return true; Scala requires an explicit tiebreak
  override def isPartiallyPushed(): Boolean = true
  // Spark re-applies the bound above us either way (isPartiallyPushed
  // defaults to true), so only id-ordered top-k needs slice support.
  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean =
    orders.toSeq match {
      case Seq(o) if col1(o.expression).contains("id") =>
        limit = Some(l)
        topNDesc = Some(o.direction == SortDirection.DESCENDING)
        true
      case _ => false
    }

  override def build(): Scan =
    new SeqScan(rows, lo, hi, slices, required, aggs, limit, topNDesc)
}

private class SeqScan(rows: Long, lo: Long, hi: Long, slices: Int,
    required: StructType, aggs: Option[Seq[SeqSource.AggSpec]],
    limit: Option[Int], topNDesc: Option[Boolean]) extends Scan with Batch
    with SupportsRuntimeFiltering {

  // Runtime (join-driven) filtering — the DSv2 analogue of dynamic
  // partition pruning: when this scan feeds a join whose other side is
  // small and selective, Spark hands the dim side's id values here at
  // EXECUTION time and partitions are re-planned against them. Pruning
  // only: slices with no candidate id are dropped, surviving slices
  // still emit their full range (the join re-filters), so the runtime
  // filter is never a correctness dependency.
  private var runtimeIds: Option[Array[Long]] = None // sorted

  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("id"))

  override def filter(filters: Array[Filter]): Unit = {
    val sets = filters.collect {
      case org.apache.spark.sql.sources.In("id", vs) =>
        vs.collect { case n: Number => n.longValue }
      case EqualTo("id", v: Number) => Array(v.longValue)
    }
    if (sets.nonEmpty) runtimeIds = Some(sets.reduce(_ intersect _).sorted)
  }

  private def sliceHasCandidate(s: Long, e: Long): Boolean =
    runtimeIds.forall { ids =>
      // first id >= s (binary search on the sorted candidates)
      var lo0 = 0; var hi0 = ids.length
      while (lo0 < hi0) {
        val m = (lo0 + hi0) >>> 1
        if (ids(m) < s) lo0 = m + 1 else hi0 = m
      }
      lo0 < ids.length && ids(lo0) <= e
    }

  override def readSchema(): StructType = aggs match {
    // partial-aggregate rows: one Long column per pushed aggregate
    // (min/max/sum are null on an empty range, so nullable)
    case Some(specs) => StructType(specs.zipWithIndex.map { case (a, i) =>
      org.apache.spark.sql.types.StructField(s"agg_$i", LongType,
        nullable = a.kind != 0)
    })
    case None => required
  }
  override def toBatch: Batch = this
  override def description(): String = {
    val push = aggs.map(a => s" aggs=${a.mkString(",")}").getOrElse("") +
      limit.map(l => s" limit=$l").getOrElse("") +
      topNDesc.map(d => s" topNDesc=$d").getOrElse("")
    s"graft_seq range=[$lo,$hi] cols=${required.fieldNames.mkString(",")}$push"
  }

  /** Fixed slices of the FULL [0, rows) sequence (the "row groups"),
    * each clamped against the pushed id bounds; slices entirely outside
    * the bounds are dropped at planning time and never reach an
    * executor. With pushed aggregates an empty range still yields one
    * identity partition (count 0 / null extrema) so the final global
    * aggregate has a partial row to merge.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    if (hi < lo) {
      return if (aggs.isDefined) Array(SeqPartition(0L, -1L)) else Array.empty
    }
    val per = math.max(1L, (rows + slices - 1) / slices)
    (0L until rows by per).flatMap { start =>
      val end = math.min(start + per - 1, rows - 1)
      val s = math.max(start, lo)
      val e = math.min(end, hi)
      if (s <= e && sliceHasCandidate(s, e))
        Some(SeqPartition(s, e): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SeqReaderFactory(required.fieldNames.toSeq, aggs, limit, topNDesc)
}

private case class SeqPartition(start: Long, end: Long) extends InputPartition

private class SeqReaderFactory(fields: Seq[String],
    aggs: Option[Seq[SeqSource.AggSpec]], limit: Option[Int],
    topNDesc: Option[Boolean])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SeqPartition]
    aggs match {
      case Some(specs) => aggReader(p, specs)
      case None =>
        // top-k on id: only the k id-extreme rows of the slice can make
        // the global top-k; plain limit: any `limit` rows suffice (Spark
        // re-applies the exact bound above the scan either way)
        val (s, e) = (limit, topNDesc) match {
          case (Some(l), Some(true))  => (math.max(p.start, p.end - l + 1), p.end)
          case (Some(l), _)           => (p.start, math.min(p.end, p.start + l - 1))
          case _                      => (p.start, p.end)
        }
        rowReader(s, e)
    }
  }

  private def rowReader(start: Long, end: Long): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var cur = start - 1
      override def next(): Boolean = { cur += 1; cur <= end }
      override def get(): InternalRow =
        InternalRow.fromSeq(fields.map {
          case "id" => cur
          case "bucket" => cur % 10
          case "payload" => UTF8String.fromString(s"doc_$cur")
        })
      override def close(): Unit = ()
    }

  /** One closed-form partial row for the slice [start, end] — O(1) per
    * slice (bucket extrema/sums loop over at most one 10-cycle).
    */
  private def aggReader(p: SeqPartition,
      specs: Seq[SeqSource.AggSpec]): PartitionReader[InternalRow] = {
    val len = p.end - p.start + 1 // 0 for the identity partition
    def bucketVals: Seq[Long] =
      (0L until math.min(len, 10L)).map(i => (p.start + i) % 10)
    def value(a: SeqSource.AggSpec): Any = a match {
      case _ if len <= 0 && a.kind == 0 => 0L
      case _ if len <= 0 => null
      case SeqSource.AggSpec(0, _) => len
      case SeqSource.AggSpec(1, "id") => p.start
      case SeqSource.AggSpec(2, "id") => p.end
      case SeqSource.AggSpec(3, "id") => (p.start + p.end) * len / 2
      case SeqSource.AggSpec(1, _) => bucketVals.min
      case SeqSource.AggSpec(2, _) => bucketVals.max
      case SeqSource.AggSpec(3, _) =>
        // full 10-cycles sum to 45; the remainder starts at the phase
        // after the last full cycle
        val cycles = len / 10; val rem = len % 10
        val phase = (p.start + len - rem) % 10
        cycles * 45L + (0L until rem).map(i => (phase + i) % 10).sum
      case other => throw new IllegalStateException(other.toString)
    }
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = { val r = !done; done = true; r }
      override def get(): InternalRow = InternalRow.fromSeq(specs.map(value))
      override def close(): Unit = ()
    }
  }
}
