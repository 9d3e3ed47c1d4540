package graft.mq

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** `graft-mq` DataSource V2 entry point.
  *
  * Spark-native rebuild of the reference's CustomTableProvider
  * (/root/reference/src/main/java/org/example/CustomTableProvider.java:12-24),
  * with the two defects fixed (SURVEY.md §2.9): the schema is actually
  * declared (the reference discards `StructType.add`'s return value), and a
  * `DataSourceRegister.shortName` is provided so
  * `spark.readStream.format("graft-mq")` resolves without an FQCN.
  */
class GraftMqProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-mq"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftMqOptions.from(options.asCaseSensitiveMap()).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftMqTable(GraftMqOptions.from(properties), properties)

  override def supportsExternalMetadata(): Boolean = false
}

/** The MQ topic as an unbounded table — reference CustomTable
  * (/root/reference/src/main/java/org/example/CustomTable.java:19-55), plus
  * the batch-read and write capabilities the reference spec names but does
  * not implement (README.md:250-259, 268-278; mock write-throws at
  * CustomTable.java:52-54).
  */
class GraftMqTable(opts: GraftMqOptions,
    tableProperties: util.Map[String, String]) extends Table
    with SupportsRead with SupportsWrite {

  def this(opts: GraftMqOptions) = this(opts, new util.HashMap[String, String]())

  override def name(): String = s"graft-mq:${opts.topic}"

  override def schema(): StructType = opts.schema

  // ACCEPT_ANY_SCHEMA (as Kafka's sink declares): the write schema is
  // value [+ key, timestamp] — not the table's READ schema — so without
  // it Spark's output resolution rejects any batch write carrying the
  // documented optional columns ("too many data columns") before the
  // writer runs. The writer itself validates what it receives.
  override def capabilities(): util.Set[TableCapability] = Set(
    TableCapability.MICRO_BATCH_READ,
    TableCapability.BATCH_READ,
    TableCapability.STREAMING_WRITE,
    TableCapability.BATCH_WRITE,
    TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Table-level properties are the base; per-scan read options refine
    // them (e.g. maxRowsPerBatch per query). Today Spark passes the full
    // merged option set as scan options, but a catalog integration would
    // not — merging here keeps that future path correct. Keys are
    // lower-cased on BOTH sides before merging: options are
    // case-insensitive, so a per-scan override spelled with different
    // casing must still replace the table-level entry rather than
    // coexisting with it (and then winning or losing by HashMap iteration
    // order inside GraftMqOptions.from).
    val merged = new util.HashMap[String, String]()
    tableProperties.forEach((k, v) => merged.put(k.toLowerCase(java.util.Locale.ROOT), v))
    options.asCaseSensitiveMap()
      .forEach((k, v) => merged.put(k.toLowerCase(java.util.Locale.ROOT), v))
    new GraftMqScanBuilder(GraftMqOptions.from(merged))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftMqWriteBuilder(GraftMqOptions.from(info.options().asCaseSensitiveMap()),
      info.schema())
}

/** Column pruning (`SupportsPushDownRequiredColumns`): a query that only
  * touches e.g. (partition, offset) must not materialize payload bytes —
  * at 100 TB the payload IS the data volume, so pruning at the source is
  * the difference between a metadata scan and a full read. The engine
  * hands us the required subset; the reader then builds rows with exactly
  * those fields (SURVEY.md §4 "column pruning" row).
  */
class GraftMqScanBuilder(opts: GraftMqOptions) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownAggregates {
  private var pruned: StructType = opts.schema
  private var pushed: Array[Filter] = Array.empty
  private var anyFilters: Boolean = false
  private var bounds: GraftMqScanBounds = GraftMqScanBounds()
  private var limit: Option[Int] = None
  private var pushedAgg: Option[MqPushedAggregation] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    // After an aggregate pushdown the output schema is the aggregation's
    // own (fixed in pushAggregation); the engine's subsequent prune call
    // carries that same schema and must not re-widen to message fields.
    if (pushedAgg.isEmpty) pruned = requiredSchema

  /** Filter pushdown as offset-range SEEKS (see [[GraftMqScanBounds]]):
    * `partition`/`offset` bounds and `timestamp` lower bounds narrow the
    * planned ranges; every filter is ALSO returned as residual so Spark
    * re-verifies values — pruning can only skip data, never fabricate it.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    anyFilters = filters.nonEmpty
    pushed = filters.filter(GraftMqScanBounds.prunable)
    bounds = GraftMqScanBounds.from(pushed.toSeq)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT pushdown caps planned rows. Spark only offers a limit when no
    * post-scan filter remains; since this builder keeps every filter
    * residual, that means no filters at all — guarded anyway, against ALL
    * pushed filters (not just the prunable subset: capping rows under a
    * residual non-prunable filter would return fewer matches than exist).
    * Also refused once an aggregate is pushed: Spark 4.1.2 offers the
    * limit AFTER pushAggregation, but [[GraftMqCountBatch]] answers the
    * whole aggregate from offset arithmetic and applies no row cap —
    * accepting here would claim a pushdown the scan does not perform
    * (correct today only because the engine retains CollectLimit; the
    * same engine-drift hazard `translate()` guards filters against).
    */
  override def pushLimit(l: Int): Boolean =
    if (!anyFilters && pushedAgg.isEmpty) { limit = Some(l); true } else false

  /** Aggregate pushdown for the aggregations that are pure OFFSET
    * ARITHMETIC over the resolved `[start, end)` ranges — answered with
    * ZERO message fetches ([[GraftMqCountBatch]]): at 100 TB, counting a
    * topic or locating its offset bounds costs plan-time metadata lookups
    * instead of a full log read. COMPLETE pushdown: the scan emits the
    * final rows (one, or one per nonempty partition when grouped).
    *
    * Accepted shapes:
    *  - aggregates: `count(*)` (range width), `min(offset)` /
    *    `max(offset)` (range ends), in any combination;
    *  - grouping: none, or exactly `GROUP BY partition` (the partition IS
    *    the range key);
    *  - no filters AT ALL (this builder keeps every filter residual, so
    *    the engine skips aggregate pushdown itself whenever one exists —
    *    guarded here anyway against engine-behavior drift) and no pushed
    *    LIMIT.
    *
    * Rejected (row path): `count(col)` (skips nulls — needs values; the
    * message fields are non-null by schema today, but equating the two
    * would silently break if a nullable column ever lands),
    * `min/max(timestamp)` (producer-supplied timestamps are
    * non-monotonic: offset order bounds nothing), any other column or
    * grouping.
    */
  private def translate(agg: Aggregation): Option[MqPushedAggregation] = {
    import MqPushedAggregation._
    def singleName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }
    def colOf(f: AggregateFunc): Option[Col] = f match {
      case _: CountStar => Some(CountAll)
      case m: Min => singleName(m.column).collect { case "offset" => MinOffset }
      case m: Max => singleName(m.column).collect { case "offset" => MaxOffset }
      case _ => None
    }
    val grouped = agg.groupByExpressions match {
      case Array() => Some(false)
      case Array(g) => singleName(g).collect { case "partition" => true }
      case _ => None
    }
    val cols = agg.aggregateExpressions.toSeq.map(colOf)
    if (!anyFilters && limit.isEmpty &&
        grouped.isDefined && cols.nonEmpty && cols.forall(_.isDefined))
      Some(MqPushedAggregation(grouped.get, cols.map(_.get)))
    else None
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translate(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    translate(agg) match {
      case None => false
      case Some(p) =>
        import MqPushedAggregation._
        pushedAgg = Some(p)
        val groupFields =
          if (p.groupByPartition)
            Seq(StructField("partition", org.apache.spark.sql.types.IntegerType,
              nullable = false))
          else Nil
        // min/max are null on an all-empty topic (ungrouped form only —
        // grouped rows exist only for nonempty partitions).
        val aggFields = p.cols.zipWithIndex.map { case (c, i) =>
          val (name, nullable) = c match {
            case CountAll => ("count(*)", false)
            case MinOffset => ("min(offset)", !p.groupByPartition)
            case MaxOffset => ("max(offset)", !p.groupByPartition)
          }
          StructField(if (p.cols.take(i).contains(c)) s"${name}_$i" else name,
            LongType, nullable)
        }
        pruned = StructType(groupFields ++ aggFields)
        true
    }

  override def build(): Scan =
    new GraftMqScan(opts, pruned, bounds, limit, pushedAgg)
}

/** Scan bridging to both execution modes. `readSchema` returns the real
  * (possibly pruned) schema — the reference returns `null`
  * (CustomScan.java:19-21, defect SURVEY.md §2.9-2).
  */
class GraftMqScan(opts: GraftMqOptions, readSchemaValue: StructType,
    bounds: GraftMqScanBounds = GraftMqScanBounds(),
    limit: Option[Int] = None,
    pushedAgg: Option[MqPushedAggregation] = None) extends Scan {
  override def readSchema(): StructType = readSchemaValue

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // Aggregate pushdown is a batch-plan rewrite; the engine never routes
    // a streaming relation through it. Defensive, not reachable.
    require(pushedAgg.isEmpty,
      "graft-mq: pushed-down aggregation is batch-only")
    // Kafka parity: endingOffsets bounds batch scans only; accepting it on
    // a stream would silently read unbounded (ADVICE r03).
    require(opts.endingOffsets == "latest",
      "graft-mq: endingOffsets is not supported for streaming reads")
    // Offset/partition bounds are not applied to streaming progress (the
    // offset log governs it); pushed filters remain residual and are
    // applied by the engine per micro-batch. A pushed timestamp LOWER
    // bound, though, legitimately tightens the FIRST-start resolution
    // (Kafka's startingTimestamp equivalent): rows before
    // first-offset-at-timestamp can never pass the residual filter, so
    // batch 0 seeks past them instead of reading and discarding. Restarts
    // are untouched — they resume from the checkpointed offset log.
    new GraftMqMicroBatchStream(opts, checkpointLocation, readSchemaValue,
      GraftMqScanBounds(minTimestampMicros = bounds.minTimestampMicros))
  }

  override def toBatch: Batch = pushedAgg match {
    case Some(agg) => new GraftMqCountBatch(opts, agg)
    case None => new GraftMqBatch(opts, readSchemaValue, bounds, limit)
  }

  override def description(): String =
    s"graft-mq topic=${opts.topic} backend=${opts.backend} partitions=${opts.numPartitions}" +
      (if (bounds.isEmpty) "" else s" seek=$bounds") +
      limit.map(l => s" limit=$l").getOrElse("") +
      pushedAgg.map(a => s" pushedAgg=$a").getOrElse("")
}
