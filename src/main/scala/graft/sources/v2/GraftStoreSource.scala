package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** `graft-store` — a full DataSource V2 connector over [[GraftStore]],
  * the remaining §2.1/§2.2 Spark-extension surface: the reference reads
  * and writes an external document store through a driver
  * (/root/reference/src/ingestion.py:17-20, transform_load.py:13-19);
  * the Spark-native equivalent of "a Mongo/GridFS driver" is exactly a
  * DSv2 TableProvider, and this one exercises every part of the
  * life-cycle a 1000-executor scan depends on:
  *
  *  - **planning**: InputPartitions follow the store's segments —
  *    parallelism follows the data layout, not a driver loop; small
  *    disk segments pack into shared read tasks by their recorded
  *    bytes (Spark's file-packing rule); clustered scans keep one per
  *    segment;
  *  - **filter pushdown** ([[SupportsPushDownFilters]]): claimed filters
  *    are (a) used on the DRIVER to prune whole segments via zone maps
  *    (data skipping — pruned segments are never serialized, shipped,
  *    or read) and (b) re-applied exactly per row in the reader, so
  *    claiming them is sound and Spark plans no residual for them;
  *  - **column pruning** ([[SupportsPushDownRequiredColumns]]): readers
  *    emit only the required columns;
  *  - **write protocol**: into a disk-backed collection each task
  *    writes its partition as one segment file and sends only the
  *    file's manifest entry; into memory-backed or clustered ones it
  *    sends its rows. Either way the DRIVER commits atomically (append
  *    or truncate+overwrite) — the standard two-phase DSv2 commit, so a
  *    failed task never half-writes the store;
  *  - **micro-batch streaming** ([[MicroBatchStream]]): the collection
  *    replays in bounded row-count batches with durable integer
  *    offsets, so `readStream.format("graft-store")` gets restart/
  *    exactly-once semantics from the engine (StreamingSpec proves
  *    batch/stream agreement and checkpoint restart).
  *
  * Usage: `spark.read.format("graft-store").option("name", c).load()`.
  */
class GraftStoreProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-store"

  private def collName(options: CaseInsensitiveStringMap): String = {
    val n = options.get("name")
    require(n != null, "graft-store requires .option(\"name\", <collection>)")
    n
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftStore.get(collName(options)).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftStoreTable(properties.get("name"), schema,
      Option(properties.get("batchrows")).map(_.toInt).getOrElse(0),
      Option(properties.get("rowlevel")).getOrElse(
        GraftStore.props(properties.get("name"))
          .getOrElse("rowlevel", "delta")))

  // a write to a collection that does not exist yet supplies its schema
  override def supportsExternalMetadata(): Boolean = true
}

class GraftStoreTable(name: String, tableSchema: StructType, batchRows: Int,
                      rowLevelMode: String = "delta")
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Metadata columns — the hidden provenance columns a lakehouse
    * exposes as `_file`/`_pos`:
    *  - `_segment`: ordinal of the store segment a row came from
    *    (pre-pruning numbering) — makes segment skew and pruning
    *    behavior directly queryable;
    *  - `_pos`: the row's ordinal in the collection's stable row order
    *    (the same order streaming offsets ride) — the row identity the
    *    DELTA row-level path addresses deletes/updates by. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_segment"
        override def dataType(): DataType = IntegerType
        override def comment(): String =
          "ordinal of the store segment the row came from"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false // row-id contract
        override def comment(): String =
          "row ordinal in the collection's stable row order"
      })

  /** Row-level operations — SQL UPDATE / MERGE / predicate DELETE.
    *
    * Default is the DELTA strategy ([[GraftDeltaOperation]],
    * `SupportsDelta`): the operation's scan row-filters freely (zone
    * maps + exact pushdown — in delta mode a dropped row is just an
    * unchanged row), and only the CHANGED rows cross the wire, each
    * addressed by the `_pos` row id — a 1-row UPDATE ships 1 row, the
    * Iceberg merge-on-read shape.
    *
    * `TBLPROPERTIES ('rowlevel'='group')` selects the copy-on-write
    * GROUP strategy instead ([[GraftRowLevelOperation]]): Spark reads
    * the affected segments WHOLE (runtime group filtering on
    * `_segment` confines the rewrite; no row filtering — with group
    * replacement a dropped row would be a deleted row) and the commit
    * swaps exactly those segments. That's the right trade when deltas
    * would accumulate faster than segments can absorb them. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        if (rowLevelMode == "group")
          new GraftRowLevelOperation(name, tableSchema, info.command())
        else
          new GraftDeltaOperation(name, tableSchema, info.command(), batchRows)
    }

  /** Row-level `DELETE FROM ... WHERE ...` (the reference's K4 point
    * delete, on the SQL surface): only claim predicates the store can
    * evaluate EXACTLY ([[GraftStore.supported]] — same gate as scan
    * pushdown); anything else makes Spark reject the delete rather than
    * silently over- or under-deleting. The rewrite keeps every row the
    * predicate does NOT definitely match and re-shards, preserving the
    * collection's layout (an anti-join recompute, exactly how the
    * engine's batch K4 works). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    val schema = GraftStore.get(name).schema
    filters.forall(GraftStore.supported(_, schema))
  }
  override def deleteWhere(filters: Array[Filter]): Unit =
    // store-level atomic primitive: the read-filter-register cycle runs
    // under the store lock, like every other mutation path
    GraftStore.deleteWhere(name, filters)

  /** `TRUNCATE TABLE`: drop every row, keep the collection (and its
    * layout) addressable. */
  override def truncateTable(): Boolean = {
    GraftStore.truncate(name)
    true
  }
  override def name(): String = s"graft-store:$name"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] = Set(
    TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
    TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
    TableCapability.STREAMING_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(name, schema,
      if (batchRows > 0) batchRows else Option(options.get("batchrows")).map(_.toInt).getOrElse(100))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // shard key for the written layout: explicit write option first,
    // else whatever layout the existing collection already has (appends
    // keep the zone-map story intact without re-stating the key)
    val optKey = Option(info.options.get("shardkey"))
    val existingKey =
      if (GraftStore.exists(name)) GraftStore.get(name).shardKey else None
    new GraftWriteBuilder(name, info.schema(), optKey.orElse(existingKey),
      info.queryId())
  }
}

// ---------------------------------------------------------------- read

class GraftScanBuilder(name: String, schema: StructType, batchRows: Int,
                       planListener: Vector[GraftStore.Segment] => Unit = GraftScan.NoListener)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder => V2SortOrder}
  import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = schema
  private var aggRow: Option[(StructType, Row)] = None
  private var limit: Option[Int] = None
  private var topNAsc: Option[Boolean] = None

  /** LIMIT k pushdown — PARTIAL (Spark keeps its own limit on top, so
    * the scan only ever has to return a SUPERSET of any k rows): each
    * partition stops after k output rows, closing its disk reader
    * early, and a filterless scan plans only a segment PREFIX whose
    * cumulative row count covers k instead of streaming every segment
    * of a preview query. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** Always partial: Spark keeps its own limit/sort above the scan (the
    * scan's job is to return fewer candidate rows, not the final
    * answer) — required explicitly because both pushdown traits supply
    * the same default. */
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY <shard key> [DESC] LIMIT k pushdown. The store's layout
    * IS this order: rows are sorted by the shard key (nulls first) and
    * chunked into segments, so ascending nulls-first order is exactly
    * the segment sequence and descending nulls-last is its exact
    * reverse. A filterless top-k therefore plans only the PREFIX
    * (asc) / SUFFIX (desc) of segments covering k rows. Partial
    * pushdown: Spark still sorts what the scan returns, so the
    * contract is only "include every row that could be in the top k" —
    * which a count-covering prefix/suffix of a key-ordered layout
    * satisfies by construction. Declined when the order isn't the
    * shard key's natural layout (cluster-keyed collections have no
    * global order; mismatched null ordering would break the
    * prefix/suffix equivalence). */
  override def pushTopN(orders: Array[V2SortOrder], l: Int): Boolean = {
    val coll = GraftStore.get(name)
    val ok = orders.length == 1 && coll.clusterKey.isEmpty &&
      coll.shardKey.exists { k =>
        orders(0).expression() match {
          case r: NamedReference =>
            r.fieldNames().length == 1 && r.fieldNames()(0) == k
          case _ => false
        }
      } && {
        val asc = orders(0).direction() == SortDirection.ASCENDING
        val no = orders(0).nullOrdering()
        (asc && no == NullOrdering.NULLS_FIRST) ||
          (!asc && no == NullOrdering.NULLS_LAST)
      }
    if (ok) {
      limit = Some(l)
      topNAsc = Some(orders(0).direction() == SortDirection.ASCENDING)
    }
    ok
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, residual) = filters.partition(GraftStore.supported(_, schema))
    pushed = sup
    residual // Spark keeps evaluating only these
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** MIN/MAX/COUNT(*) answered from the store's METADATA — zone maps
    * and segment row counts — without deserializing a single row: the
    * same trick a parquet footer or a store's collection stats serve.
    * Conservative scope: no grouping, no filters (a zone map describes
    * the whole segment, not a filtered subset), Min/Max only on
    * zone-mapped columns (a segment with no zone entry holds no
    * non-null values for that column — skipping it matches SQL
    * null-ignoring MIN/MAX). */
  private def colName(f: AggregateFunc): Option[String] = f match {
    case m: Min => m.column() match {
      case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }
    case m: Max => m.column() match {
      case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }
    case _ => None
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    pushed.isEmpty && aggregation.groupByExpressions().isEmpty &&
      aggregation.aggregateExpressions().forall {
        case _: CountStar => true
        case f @ (_: Min | _: Max) => colName(f).exists { c =>
          schema.fieldNames.contains(c) &&
            GraftStore.get(name).segments.forall(s => s.zones.contains(c) ||
              // the all-null probe is an O(segment) DRIVER-side stream:
              // affordable for in-memory payloads only — a disk segment
              // without a zone entry simply declines the pushdown and the
              // aggregate runs as a normal (distributed) scan
              (s.payload.isInstanceOf[GraftStore.MemRows] &&
                s.forallRows(_.get(schema.fieldIndex(c)) == null)))
        }
        case _ => false
      }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (!supportCompletePushDown(aggregation)) return false
    val segs = GraftStore.get(name).segments
    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    aggregation.aggregateExpressions().foreach {
      case _: CountStar =>
        fields += StructField("count(*)", LongType, nullable = false)
        values += segs.map(_.count).sum
      case f @ (_: Min | _: Max) =>
        val c = colName(f).get
        val zones = segs.flatMap(_.zones.get(c))
        val v =
          if (zones.isEmpty) null
          else if (f.isInstanceOf[Min]) zones.map(_._1).min(Ordering.fromLessThan[Any](GraftStore.cmp(_, _) < 0))
          else zones.map(_._2).max(Ordering.fromLessThan[Any](GraftStore.cmp(_, _) < 0))
        fields += StructField(f.toString, schema(schema.fieldIndex(c)).dataType)
        values += v
      case other => throw new IllegalStateException(s"unexpected pushed agg: $other")
    }
    aggRow = Some((StructType(fields.toSeq), Row.fromSeq(values.toSeq)))
    true
  }

  override def build(): Scan = aggRow match {
    case Some((aggSchema, row)) => new GraftAggScan(name, aggSchema, row)
    case None => new GraftScan(name, schema, required, pushed, batchRows,
      planListener, limit, topNAsc)
  }
}

/** Scan for a completely-pushed aggregation: one partition, one
  * metadata-derived row, zero segment reads (the store counters stay
  * untouched — the spec's proof that no data moved). */
class GraftAggScan(name: String, aggSchema: StructType, row: Row) extends Scan {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"graft-store:$name PushedAggregates: ${aggSchema.fieldNames.mkString("[", ", ", "]")} (metadata-only)"
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Array(GraftInputPartition(Vector(row)))
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftReaderFactory(aggSchema, aggSchema, Array.empty)
  }
}

/** A graft-store read. It is its own [[Batch]] (`toBatch` returns
  * `this`, as Spark's `FileScan` does) and equal to any scan of the same
  * read: same `name` (which carries `@v<n>` under time travel),
  * schemas, pushed filters, `batchRows`, pushed limit and top-k order,
  * and the same `planListener` instance. `BatchScanExec` compares its
  * batches, so equal reads in one plan share one exchange or subquery
  * instead of scanning and shuffling the collection once per read.
  * Runtime filters stay out: `BatchScanExec` compares those itself.
  * [[GraftGroupScan]] keeps identity equality, because each one records
  * the segments it planned on its own row-level operation. */
class GraftScan(private val name: String, private val fullSchema: StructType,
                private val required: StructType,
                private val filters: Array[Filter], private val batchRows: Int,
                private val planListener: Vector[GraftStore.Segment] => Unit =
                  GraftScan.NoListener,
                private val pushedLimit: Option[Int] = None,
                private val topNAsc: Option[Boolean] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {
  override def equals(other: Any): Boolean = other match {
    case o: GraftScan =>
      name == o.name && fullSchema == o.fullSchema && required == o.required &&
        filters.toSeq == o.filters.toSeq && batchRows == o.batchRows &&
        (planListener eq o.planListener) && pushedLimit == o.pushedLimit &&
        topNAsc == o.topNAsc
    case _ => false
  }
  override def hashCode(): Int =
    (name, fullSchema, required, filters.toSeq, batchRows, pushedLimit, topNAsc).hashCode

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-store:$name PushedFilters: ${filters.mkString("[", ", ", "]")}, " +
      pushedLimit.map(k => topNAsc match {
        case Some(asc) => s"PushedTopN: ${if (asc) "ASC" else "DESC"} LIMIT $k, "
        case None => s"PushedLimit: $k, "
      }).getOrElse("") +
      s"ReadSchema: ${required.catalogString}"

  /** Runtime (dynamic) filtering: at execution time Spark hands the
    * scan the join side's actual key values (an `In` filter built from
    * a reused broadcast), and segment pruning re-runs against them —
    * the DSv2 form of dynamic partition pruning. A selective dimension
    * join therefore skips most fact segments without any static
    * predicate in the query. */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // must be a subset of the scan's OUTPUT: Spark resolves these
    // against the pruned relation, not the table schema
    required.fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters.filter(GraftStore.supported(_, fullSchema))

  private def allFilters: Array[Filter] = filters ++ runtimeFilters

  /** Post-pruning statistics for the optimizer: row count over the
    * segments that survive zone-map pruning, sized at the PRUNED column
    * width — what lets Catalyst/AQE pick a broadcast join when the
    * filtered scan is small, without a hint. */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val survivors = GraftStore.get(name).segments
      .filter(seg => filters.forall(GraftStore.mightMatch(_, seg)))
    private lazy val rowCount = survivors.map(_.count).sum
    private lazy val rowWidth = required.fields.map(_.dataType.defaultSize.toLong).sum.max(1L)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(rowCount * rowWidth)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rowCount)
  }

  /** Segments surviving zone-map pruning under the CURRENT filter set
    * (static + runtime), with their ORIGINAL ordinals (pre-pruning —
    * what the `_segment` metadata column reports) — the single source
    * of truth shared by partition planning and partitioning reporting,
    * so the two always agree on the partition count. */
  private def survivorsIdx: Vector[(GraftStore.Segment, Int)] =
    GraftStore.get(name).segments.zipWithIndex.filter { case (seg, _) =>
      allFilters.forall(GraftStore.mightMatch(_, seg))
    }
  private def survivors: Vector[GraftStore.Segment] = survivorsIdx.map(_._1)

  /** Key-grouped partitioning for cluster-keyed collections: each
    * segment holds exactly ONE cluster-key value (registerClustered's
    * layout contract), so the scan reports
    * `KeyGroupedPartitioning(identity(key), nSegments)` and Spark's
    * storage-partitioned join elides BOTH shuffles when two collections
    * clustered on the join key meet (requires
    * spark.sql.sources.v2.bucketing.enabled). Declared only when the
    * key survives column pruning — the partition values must be
    * resolvable against the scan's OUTPUT. */
  override def outputPartitioning(): Partitioning = {
    val coll = GraftStore.get(name)
    val kept = limitSelect(survivorsIdx)
    keyedBy(coll, kept) match {
      case Some(k) =>
        new KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.identity(k)),
          kept.size)
      case None => new UnknownPartitioning(packed(coll, kept).length)
    }
  }

  /** The cluster key a scan's partitions are grouped by: one segment per
    * partition, each holding one key value. */
  private def keyedBy(coll: GraftStore.Collection,
                      kept: Vector[(GraftStore.Segment, Int)]): Option[String] =
    coll.clusterKey.filter(k => required.fieldNames.contains(k) && kept.nonEmpty &&
      kept.forall(_._1.count > 0L))

  /** Unclustered read tasks: consecutive surviving segments packed by
    * Spark's FilePartition rule over the manifest's recorded bytes —
    * a task takes segments while they fit the split size, each costing
    * its bytes plus `spark.sql.files.openCostInBytes`, and the split is
    * Spark's own `FilePartition.maxSplitBytes`: at most
    * `spark.sql.files.maxPartitionBytes`, shrunk toward total bytes /
    * parallelism so a mid-size scan still spreads over every core. A
    * segment without recorded bytes (memory payloads) reads alone. */
  private def packed(coll: GraftStore.Collection,
                     kept: Vector[(GraftStore.Segment, Int)]): Array[InputPartition] = {
    // global row ordinal of each segment's first row (over ALL
    // segments, pre-pruning) — the `_pos` metadata column's base
    val bases = coll.segments.scanLeft(0L)(_ + _.count)
    val spark = org.apache.spark.sql.SparkSession.active
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = org.apache.spark.sql.execution.datasources.FilePartition.maxSplitBytes(
      spark, kept.iterator.map(_._1.bytes).filter(_ >= 0L).map(_ + openCost).sum)
    val out = Array.newBuilder[InputPartition]
    val cur = scala.collection.mutable.ArrayBuffer.empty[GraftInputPartition]
    var curSize = 0L
    def close(): Unit = {
      if (cur.size == 1) out += cur.head
      else if (cur.size > 1) out += GraftPackedPartition(cur.toVector)
      cur.clear(); curSize = 0L
    }
    kept.foreach { case (seg, segId) =>
      val part = GraftInputPartition(seg.payload, segId, bases(segId))
      if (seg.bytes < 0L) { close(); out += part }
      else {
        if (curSize + seg.bytes > maxSplit) close()
        curSize += seg.bytes + openCost
        cur += part
      }
    }
    close()
    out.result()
  }

  /** First-class DSv2 observability: the scan's pruning evidence rides
    * the engine's own metric channel (SQL UI / listener events), not
    * just the test-support global counters. Driver metrics are pulled
    * AFTER execution, so they report the final (post-runtime-filter)
    * pruning decision. */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new GraftSegmentsReadMetric, new GraftSegmentsSkippedMetric)
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val total = GraftStore.get(name).segments.size
    val kept = survivors.size
    Array(GraftSegmentTaskMetric("graftSegmentsRead", kept.toLong),
      GraftSegmentTaskMetric("graftSegmentsSkipped", (total - kept).toLong))
  }

  // Spark may call planInputPartitions more than once per query
  // (partitioning reporting, runtime-filter re-planning, AQE), so the
  // skip/read observability counters contribute each scan's LATEST
  // planning pass exactly once: re-planning replaces this scan's prior
  // contribution instead of double-counting it. Last-pass-wins is the
  // meaningful reading — the post-runtime-filter pass is the one whose
  // pruning the query actually executed with.
  private val recordedSkipRead =
    new java.util.concurrent.atomic.AtomicReference[(Long, Long)]((0L, 0L))

  /** Segment selection under a pushed LIMIT/TopN: with no filters (a
    * filter could push the surviving rows arbitrarily deep into the
    * layout) a count-covering PREFIX of the key-ordered segment vector
    * contains any k rows — and for asc top-k it IS the first k rows;
    * desc top-k takes the SUFFIX (the layout reversed). With filters
    * present every survivor stays planned and only the per-partition
    * early stop applies. */
  private def limitSelect(kept: Vector[(GraftStore.Segment, Int)])
      : Vector[(GraftStore.Segment, Int)] =
    pushedLimit match {
      case Some(k) if allFilters.isEmpty &&
          GraftStore.get(name).clusterKey.isEmpty =>
        val ordered = if (topNAsc.contains(false)) kept.reverse else kept
        var cum = 0L
        val taken = ordered.takeWhile { case (seg, _) =>
          val need = cum < k; cum += seg.count; need
        }
        if (topNAsc.contains(false)) taken.reverse else taken
      case _ => kept
    }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val coll = GraftStore.get(name)
    val kept = limitSelect(survivorsIdx)
    val now = (coll.segments.size.toLong - kept.size, kept.size.toLong)
    val prev = recordedSkipRead.getAndSet(now)
    GraftStore.segmentsSkipped.addAndGet(now._1 - prev._1)
    GraftStore.segmentsRead.addAndGet(now._2 - prev._2)
    planListener(coll.segments)
    keyedBy(coll, kept) match {
      case Some(k) =>
        val bases = coll.segments.scanLeft(0L)(_ + _.count)
        val idx = coll.schema.fieldIndex(k)
        val conv = RowConverters.toCatalyst(coll.schema(idx).dataType)
        kept.map { case (seg, segId) =>
          // disk-clustered segments carry the key as a payload constant
          // (the file omits the partition-directory column) — no reader
          // open at planning time
          val keyVal = seg.payload match {
            case GraftStore.ParquetRows(_, _, _, consts) if consts.contains(idx) =>
              consts(idx)
            case _ => seg.firstRow.get.get(idx)
          }
          val key = new GenericInternalRow(Array[Any](conv(keyVal)))
          GraftKeyedInputPartition(seg.payload, key, segId, bases(segId)): InputPartition
        }.toArray
      case None => packed(coll, kept)
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    // per-segment early stop: k output rows satisfy a plain LIMIT
    // from any segment, and (rows being key-ascending within a
    // segment) the FIRST k of a segment are its smallest for asc
    // top-k; a desc top-k needs the segment's tail, so it reads the
    // (suffix-selected) segments fully and lets Spark sort. Only a
    // plain LIMIT stops a packed task after k rows in total: a top-k
    // needs every member's smallest, as a tail-appended segment may
    // hold smaller keys than the members before it.
    new GraftReaderFactory(fullSchema, required, allFilters,
      if (topNAsc.contains(false)) None else pushedLimit,
      if (topNAsc.isEmpty) pushedLimit else None)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(name, fullSchema, required, filters, batchRows)
}

object GraftScan {
  /** The listener of plain reads: one instance, so their scans compare equal. */
  val NoListener: Vector[GraftStore.Segment] => Unit = _ => ()
}

/** Sum-aggregated scan metrics (segments read / skipped). Zero-arg
  * top-level classes: Spark re-instantiates CustomMetric reflectively
  * on the listener path. */
class GraftSegmentsReadMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "graftSegmentsRead"
  override def description(): String = "store segments read"
}
class GraftSegmentsSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "graftSegmentsSkipped"
  override def description(): String = "store segments skipped (zone maps)"
}

case class GraftSegmentTaskMetric(override val name: String,
                                  override val value: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric

/** The segment's PAYLOAD rides inside the partition: the driver plans
  * from metadata, the executor receives exactly its shard — in-memory
  * rows serialize with the task; a disk payload serializes as paths
  * and the executor STREAMS the parquet file (scan memory stays O(1)
  * in segment size). No shared state assumed between driver and
  * executor beyond the payload's storage. */
case class GraftInputPartition(payload: GraftStore.SegmentPayload,
                               segmentId: Int = -1,
                               baseOffset: Long = -1L)
    extends InputPartition
object GraftInputPartition {
  def apply(rows: Vector[Row]): GraftInputPartition =
    GraftInputPartition(GraftStore.MemRows(rows))
}

/** Consecutive small segments read by one task (see [[GraftScan]]'s
  * packing): the reader runs each member's reader in turn, and every
  * member keeps its own `_segment` id and `_pos` base. */
case class GraftPackedPartition(members: Vector[GraftInputPartition])
    extends InputPartition

/** A row-range slice of one segment's payload — micro-batch streaming
  * partitions. `fromRow`/`untilRow` are LOCAL ordinals within the
  * segment; `baseOffset` is the global ordinal of `fromRow` (the `_pos`
  * base). The executor opens the payload and skips to the range, so
  * the driver plans batches from counts alone. */
case class GraftSlicePartition(payload: GraftStore.SegmentPayload,
                               fromRow: Int, untilRow: Int,
                               baseOffset: Long)
    extends InputPartition

/** A partition of a cluster-keyed collection: advertises its single
  * cluster-key value so Spark can align co-keyed scans for a
  * storage-partitioned join. */
case class GraftKeyedInputPartition(payload: GraftStore.SegmentPayload,
                                    key: InternalRow,
                                    segmentId: Int = -1,
                                    baseOffset: Long = -1L)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Readers of a scan's partitions. `earlyStopK`: each segment's reader
  * stops after k output rows. `taskStopK`: a packed task stops after k
  * output rows in total (a plain LIMIT, where any k rows serve). */
class GraftReaderFactory(fullSchema: StructType, required: StructType,
                         filters: Array[Filter],
                         earlyStopK: Option[Int] = None,
                         taskStopK: Option[Int] = None)
    extends PartitionReaderFactory {

  private def segmentIdOf(partition: InputPartition): Int = partition match {
    case GraftInputPartition(_, id, _) => id
    case GraftKeyedInputPartition(_, _, id, _) => id
    case _ => -1
  }

  /** The DATA columns this reader actually needs: the pruned projection
    * plus every column the residual/pushed filters reference. For a
    * disk payload this is the parquet READ schema — the other columns'
    * chunks are never decoded (or even read off disk). */
  private val neededCols: Set[String] =
    required.fieldNames.toSet ++ filters.flatMap(_.references)

  /** The pruned shape of a disk payload under [[neededCols]]: (read
    * schema, constants re-indexed into it). */
  private def prunedShape(pr: GraftStore.ParquetRows): (StructType, Map[Int, Any]) = {
    val keepIdx = pr.schema.fields.zipWithIndex.collect {
      case (f, i) if neededCols(f.name) || pr.constants.contains(i) => i
    }
    val pruned = StructType(keepIdx.map(pr.schema.fields(_)))
    val consts = pr.constants.collect { case (i, v) if keepIdx.contains(i) =>
      keepIdx.indexOf(i) -> v
    }
    (pruned, consts)
  }

  /** Open a partition's payload for reading. Disk payloads open a
    * PROJECTED reader shaped by [[neededCols]]; in-memory payloads hand
    * out their full rows (they are already materialized — there is
    * nothing to save). Returns the rows plus the schema they are shaped
    * by, which is what filter eval and the getters must index into. */
  private def openPayload(p: GraftStore.SegmentPayload): (Iterator[Row], StructType) =
    p match {
      case pr: GraftStore.ParquetRows if !pr.schema.fieldNames.forall(neededCols) =>
        val (pruned, consts) = prunedShape(pr)
        (GraftParquet.openIterator(pr.paths, pruned, consts), pruned)
      case other => (other.iterator, fullSchema)
    }

  /** Rows paired with their GLOBAL position (segment base + local
    * index). Positions are minted BEFORE filtering — `_pos` identifies
    * the row in the collection's stable order, not in the filtered
    * output. Returns the raw payload iterator too, so the caller can
    * close a disk reader abandoned before exhaustion (LIMITs), and the
    * row schema (pruned for disk payloads). */
  private def filteredRows(partition: InputPartition)
      : (Iterator[(Row, Long)], Iterator[Row], StructType) = {
    val (raw, rows, base, rowSchema) = partition match {
      case GraftInputPartition(p, _, b) =>
        val (it, s) = openPayload(p); (it, it, b, s)
      case GraftKeyedInputPartition(p, _, _, b) =>
        val (it, s) = openPayload(p); (it, it, b, s)
      case GraftSlicePartition(p, from, until, b) =>
        // raw stays the CLOSEABLE underlying iterator; the slice view
        // wraps it (a disk payload skips `from` rows sequentially —
        // the same cost shape as any log replay from an offset)
        val (it, s) = openPayload(p); (it, it.slice(from, until), b, s)
      case other => throw new IllegalStateException(s"unexpected partition: $other")
    }
    val it = rows.zipWithIndex
      .map { case (r, i) => (r, if (base >= 0) base + i else -1L) }
      .filter { case (r, _) => filters.forall(GraftStore.eval(_, r, rowSchema)) }
    // pushed-limit early stop: a partition never produces (or decodes)
    // more than k output rows; the abandoned disk reader is closed by
    // the PartitionReader's close()
    (earlyStopK.map(it.take).getOrElse(it), raw, rowSchema)
  }

  /** Per-required-field Catalyst-value getters over rows shaped by
    * `rowSchema`; the `_segment`/`_pos` metadata columns are
    * synthesized from the partition, everything else reads from the
    * stored row. DATA columns win the name: a collection that really
    * stores a `_segment` column reads its own values (Spark likewise
    * hides metadata columns shadowed by data columns). */
  private def getters(segId: Int, rowSchema: StructType): Array[(Row, Long) => Any] =
    required.fields.map { f =>
      if (rowSchema.fieldNames.contains(f.name)) {
        val idx = rowSchema.fieldIndex(f.name)
        val conv = RowConverters.toCatalyst(f.dataType)
        (r: Row, _: Long) => conv(r.get(idx))
      } else if (f.name == "_segment") { (_: Row, _: Long) => segId }
      else if (f.name == "_pos") { (_: Row, p: Long) => p }
      else throw new IllegalStateException(
        s"graft-store reader: unknown required column ${f.name}")
    }

  /** One task over packed segments: each member's reader in turn, at
    * most one open at a time, stopping once `taskStopK` rows are out
    * (`rows` counts what one `get` returns). */
  private def chained[T](members: Vector[GraftInputPartition],
                         open: InputPartition => PartitionReader[T],
                         rows: T => Long): PartitionReader[T] =
    new PartitionReader[T] {
      private val pending = members.iterator
      private val k = taskStopK.map(_.toLong).getOrElse(Long.MaxValue)
      private var cur: PartitionReader[T] = _
      private var out = 0L
      override def next(): Boolean = {
        while (out < k) {
          if (cur == null) {
            if (!pending.hasNext) return false
            cur = open(pending.next())
          }
          if (cur.next()) { out += rows(cur.get()); return true }
          cur.close(); cur = null
        }
        false
      }
      override def get(): T = cur.get()
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case GraftPackedPartition(members) => chained(members, createReader, (_: InternalRow) => 1L)
      case single => segmentReader(single)
    }

  private def segmentReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (rows, raw, rowSchema) = filteredRows(partition)
    val gets = getters(segmentIdOf(partition), rowSchema)
    val it = rows
      .map { case (r, p) =>
        val out = new GenericInternalRow(gets.length)
        var i = 0
        while (i < gets.length) { out.update(i, gets(i)(r, p)); i += 1 }
        out: InternalRow
      }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = cur
      override def close(): Unit = GraftParquet.closeQuietly(raw)
    }
  }

  /** Vectorized read path: flat-typed projections are emitted as
    * [[ColumnarBatch]]es of on-heap vectors, the Tungsten-friendly shape
    * downstream whole-stage codegen consumes without per-row iterator
    * overhead (the same reason the parquet reader is vectorized).
    * Schemas with nested types fall back to the row reader — the
    * standard mixed-mode contract; Spark requires the answer to be
    * uniform across partitions, which it is because it depends only on
    * the projected schema. */
  private def vectorizable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType | BinaryType | TimestampType | DateType => true
    case _ => false
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    required.fields.forall(f => vectorizable(f.dataType))

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case GraftPackedPartition(members) =>
        chained(members, createColumnarReader, (b: ColumnarBatch) => b.numRows.toLong)
      // whole disk segments decode pages STRAIGHT into column vectors —
      // no Group, no external Row, no re-boxing (GraftColumnar); slices
      // and memory payloads keep the row-repack path
      case GraftInputPartition(pr: GraftStore.ParquetRows, segId, base) =>
        directColumnarReader(pr, segId, base)
      case GraftKeyedInputPartition(pr: GraftStore.ParquetRows, _, segId, base) =>
        directColumnarReader(pr, segId, base)
      case other => repackColumnarReader(other)
    }

  /** Direct parquet→vector reader for one disk segment. Pushed filters
    * evaluate vectorized over the decoded batch (GraftColumnar
    * .compilePred — eval-parity pinned by spec); `_segment`/`_pos`
    * synthesize as constant/position vectors, positions minted BEFORE
    * filtering like the row path; batches that lose rows compact
    * survivors into fresh vectors. */
  private def directColumnarReader(pr: GraftStore.ParquetRows, segId: Int,
                                   base: Long): PartitionReader[ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    val (readSchema, consts) = prunedShape(pr)
    val batches = new GraftColumnar.BatchIter(pr.paths, readSchema, consts, 4096)
    val srcIdx: Array[Int] = required.fields.map { f =>
      if (readSchema.fieldNames.contains(f.name)) readSchema.fieldIndex(f.name)
      else if (f.name == "_segment" || f.name == "_pos") -1
      else throw new IllegalStateException(
        s"graft-store columnar reader: unknown required column ${f.name}")
    }

    new PartitionReader[ColumnarBatch] {
      private var batch: ColumnarBatch = _
      private var consumed = 0L // payload rows consumed (pre-filter) — the _pos base
      private var remaining = earlyStopK.map(_.toLong).getOrElse(Long.MaxValue)

      override def next(): Boolean = {
        closeBatch()
        while (remaining > 0 && batches.hasNext) {
          val dec = batches.next()
          val n = dec.numRows
          val rowBase = consumed
          consumed += n
          // survivor selection under pushed filters
          val sel: Array[Int] =
            if (filters.isEmpty) null
            else {
              val preds = filters.map(GraftColumnar.compilePred(_, readSchema, dec.vectors))
              val keep = Array.newBuilder[Int]
              var i = 0
              while (i < n) {
                var ok = true
                var p = 0
                while (ok && p < preds.length) { ok = preds(p)(i); p += 1 }
                if (ok) keep += i
                i += 1
              }
              keep.result()
            }
          val outRows0 = if (sel == null) n else sel.length
          if (outRows0 > 0) {
            val outRows = math.min(outRows0.toLong, remaining).toInt
            remaining -= outRows
            val outVecs: Array[org.apache.spark.sql.vectorized.ColumnVector] =
              required.fields.zipWithIndex.map { case (f, c) =>
                val src = srcIdx(c)
                if (src >= 0 && sel == null && outRows == n) dec.vectors(src)
                else {
                  val v = new OnHeapColumnVector(outRows, f.dataType)
                  var o = 0
                  while (o < outRows) {
                    val i = if (sel == null) o else sel(o)
                    if (src >= 0) copyValue(dec.vectors(src), i, v, o, f.dataType)
                    else if (f.name == "_segment") v.putInt(o, segId)
                    else v.putLong(o, if (base >= 0) base + rowBase + i else -1L)
                    o += 1
                  }
                  v
                }
              }
            // close decoded vectors the output does not take ownership of
            val taken = outVecs.toSet
            dec.vectors.foreach(v => if (!taken.contains(v)) v.close())
            batch = new ColumnarBatch(outVecs, outRows)
            return true
          }
          dec.vectors.foreach(_.close())
        }
        batch = null
        false
      }

      private def copyValue(src: OnHeapColumnVector, i: Int,
                            dst: OnHeapColumnVector, o: Int,
                            dt: DataType): Unit =
        if (src.isNullAt(i)) dst.putNull(o)
        else dt match {
          case LongType | TimestampType => dst.putLong(o, src.getLong(i))
          case IntegerType | DateType => dst.putInt(o, src.getInt(i))
          case DoubleType => dst.putDouble(o, src.getDouble(i))
          case FloatType => dst.putFloat(o, src.getFloat(i))
          case BooleanType => dst.putBoolean(o, src.getBoolean(i))
          case StringType | BinaryType =>
            val b = src.getBinary(i)
            dst.putByteArray(o, b, 0, b.length)
          case other => throw new IllegalStateException(s"non-vectorizable: $other")
        }

      override def get(): ColumnarBatch = batch
      private def closeBatch(): Unit =
        if (batch != null) { batch.close(); batch = null }
      override def close(): Unit = { closeBatch(); batches.close() }
    }
  }

  private def repackColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    val batchSize = 1024
    val (it, raw, rowSchema) = filteredRows(partition)
    val gets = getters(segmentIdOf(partition), rowSchema)
    new PartitionReader[ColumnarBatch] {
      private var batch: ColumnarBatch = _
      override def next(): Boolean = {
        closeBatch()
        if (!it.hasNext) { batch = null; false }
        else {
          val vectors = OnHeapColumnVector.allocateColumns(batchSize, required)
          var n = 0
          while (it.hasNext && n < batchSize) {
            val (r, p) = it.next()
            var i = 0
            while (i < gets.length) {
              val v = gets(i)(r, p)
              val vec = vectors(i)
              if (v == null) vec.putNull(n)
              else required.fields(i).dataType match {
                case LongType | TimestampType => vec.putLong(n, v.asInstanceOf[Long])
                case IntegerType | DateType => vec.putInt(n, v.asInstanceOf[Int])
                case DoubleType => vec.putDouble(n, v.asInstanceOf[Double])
                case FloatType => vec.putFloat(n, v.asInstanceOf[Float])
                case BooleanType => vec.putBoolean(n, v.asInstanceOf[Boolean])
                case StringType =>
                  val b = v.asInstanceOf[UTF8String].getBytes
                  vec.putByteArray(n, b, 0, b.length)
                case BinaryType =>
                  val b = v.asInstanceOf[Array[Byte]]
                  vec.putByteArray(n, b, 0, b.length)
                case other => throw new IllegalStateException(s"non-vectorizable: $other")
              }
              i += 1
            }
            n += 1
          }
          batch = new ColumnarBatch(
            vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector), n)
          true
        }
      }
      override def get(): ColumnarBatch = batch
      private def closeBatch(): Unit =
        if (batch != null) { batch.close(); batch = null }
      override def close(): Unit = { closeBatch(); GraftParquet.closeQuietly(raw) }
    }
  }
}

// ---------------------------------------------------------------- write

class GraftWriteBuilder(name: String, schema: StructType,
                        shardKey: Option[String] = None,
                        queryId: String = "")
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write =
    new GraftWrite(name, schema, doTruncate, shardKey, queryId)
}

/** Write description. For a sharded target the write DECLARES its
  * layout need ([[RequiresDistributionAndOrdering]]): Spark plans a
  * cluster-by-key exchange plus a per-partition sort BEFORE the write,
  * so rows arrive at each writer already grouped and ordered by the
  * shard key — at scale that means executors emit ready-made range
  * segments (contiguous keys ⇒ disjoint zone maps ⇒ pruning works on
  * the very next scan) instead of shipping a shuffle's worth of rows to
  * the store and asking IT to re-sort. The same declared-need mechanism
  * a real lakehouse sink (Iceberg/Delta) uses for clustered writes. A
  * write whose task files become a disk collection's whole layout also
  * declares how many range tasks it needs
  * ([[GraftStore.writeLaysOut]]). */
class GraftWrite(name: String, schema: StructType, truncate: Boolean,
                 shardKey: Option[String], queryId: String = "")
    extends Write with RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  override def requiredDistribution(): Distribution = shardKey match {
    // ordered (range) distribution, not hash-clustered: a range exchange
    // gives every writer a CONTIGUOUS key span, which is what makes the
    // landed segments' zone maps disjoint — hash clustering would put
    // scattered keys in each segment and pruning would prune nothing
    case Some(k) => Distributions.ordered(Array(
      Expressions.sort(Expressions.identity(k), SortDirection.ASCENDING)))
    case None => Distributions.unspecified()
  }
  override def requiredOrdering(): Array[SortOrder] = shardKey match {
    case Some(k) => Array(Expressions.sort(Expressions.identity(k), SortDirection.ASCENDING))
    case None => Array.empty
  }
  override def requiredNumPartitions(): Int =
    if (shardKey.isDefined && GraftStore.writeLaysOut(name, truncate)) GraftStore.DefaultSegments
    else 0
  override def toBatch: BatchWrite = new GraftBatchWrite(name, schema, truncate, shardKey)
  override def toStreaming: StreamingWrite =
    new GraftStreamingWrite(name, schema, truncate, shardKey, queryId)
}

case class GraftCommitMessage(rows: Vector[Row]) extends WriterCommitMessage

/** A task-landed segment file's manifest entry (None: the task had no
  * rows and wrote nothing). */
case class GraftSegmentMessage(written: Option[GraftStore.WrittenSegment])
    extends WriterCommitMessage

class GraftBatchWrite(name: String, schema: StructType, truncate: Boolean,
                      shardKey: Option[String] = None)
    extends BatchWrite {
  /** The pinned generation dir of a task-landed write; decided once,
    * when Spark asks for the writer factory. */
  @volatile private var genDir: Option[String] = None

  /** A disk-backed collection without a cluster key has its write tasks
    * land one parquet segment file each, in the write's pinned
    * generation dir ([[GraftSegmentWriterFactory]]); memory-backed and
    * clustered collections ship their rows ([[GraftWriterFactory]]),
    * because rows are what the driver installs for them. */
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val keyIdx = shardKey.map(k => schema.fieldNames.indexOf(k)).filter(_ >= 0)
    genDir = GraftStore.openWrite(name, schema)
    genDir match {
      case Some(dir) => GraftSegmentWriterFactory(dir, schema, GraftStore.bloomSpec(name), keyIdx)
      case None => new GraftWriterFactory(schema)
    }
  }

  /** Driver-side atomic commit: nothing lands in the store until every
    * task has succeeded — the point of the two-phase protocol. A
    * task-landed write installs the segment files its tasks report
    * ([[GraftStore.commitWritten]]: an append adds them as tail segments,
    * a truncate installs them as the collection); a row-shipping write
    * appends or re-registers its rows. A sharded write lands range
    * segments + zone maps either way: the rows arrived clustered and
    * sorted thanks to [[GraftWrite.requiredDistribution]], so each task's
    * file (or the driver's re-shard) covers a contiguous key span. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = genDir match {
    case Some(dir) =>
      GraftStore.commitWritten(name, schema, truncate, shardKey, dir,
        messages.iterator.flatMap(_.asInstanceOf[GraftSegmentMessage].written).toVector)
    case None =>
      val rows = messages.iterator
        .flatMap(_.asInstanceOf[GraftCommitMessage].rows).toVector
      if (truncate) GraftStore.register(name, GraftStore.overwriteSchema(name, schema), rows, shardKey)
      else GraftStore.append(name, schema, rows)
  }

  /** A failed task-landed write deletes the files its committed tasks
    * reported and unpins its generation dir (a failed task deletes its
    * own file). */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    genDir.foreach(dir => GraftStore.abortWritten(dir,
      messages.iterator.collect { case GraftSegmentMessage(Some(w)) => w }.toVector))
}

/** Executor half of a task-landed write: each task streams its rows
  * into ONE parquet file under the write's generation dir (opened at the
  * first row, so an empty task lands nothing), tracking the row count
  * and zone maps as rows pass. `commit` returns the file's manifest
  * entry, never its rows. Top-level case class: it is serialized to
  * executors. */
case class GraftSegmentWriterFactory(dir: String, schema: StructType,
                                     bloom: Map[String, Long], keyIdx: Option[Int])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val path = s"$dir/seg-p$partitionId-t$taskId.parquet"
      private val toRow = RowConverters.toRow(schema)
      private val zones = new GraftStore.ZoneAcc(schema)
      private var out: GraftParquet.SegmentWriter = _
      private var nullKey = false

      override def write(record: InternalRow): Unit = {
        if (out == null) out = GraftParquet.open(path, schema, bloom)
        val r = toRow(record)
        zones.add(r)
        if (keyIdx.exists(r.isNullAt)) nullKey = true
        out.add(r)
      }
      override def commit(): WriterCommitMessage = GraftSegmentMessage(Option(out).map { w =>
        w.close()
        GraftStore.WrittenSegment(path, w.count, zones.result, GraftParquet.fileBytes(path), nullKey)
      })
      override def abort(): Unit =
        if (out != null) try out.close() finally GraftParquet.delete(path)
      override def close(): Unit = if (out != null) out.close()
    }
}

/** Copy-on-write row-level operation (UPDATE/MERGE) with SEGMENT-level
  * group pruning: the operation declares `_segment` as its required
  * metadata attribute, so Spark's runtime group filtering plans a
  * side-query for the segments that actually contain matching rows and
  * hands them to the scan as an `In(_segment, ...)` runtime filter. The
  * scan then reads ONLY those segments (whole segments — never
  * row-filtered, a dropped row would be a lost row), and the commit
  * replaces exactly the scanned segments, leaving the rest untouched:
  * a narrow UPDATE on a sharded collection rewrites one segment, not
  * the table — the Iceberg-style copy-on-write shape that matters at
  * 100 TB. Without a runtime filter (conf off, or a condition the
  * side-query can't bound) every segment is scanned and replaced —
  * the correct, conservative fallback. */
class GraftRowLevelOperation(name: String, schema: StructType,
                             cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-store copy-on-write $cmd"

  override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_segment"))

  /** What the rewrite's scan planned: the segment ordinals it kept AND
    * the exact segment list it planned against. The commit replaces
    * exactly the kept ordinals and VALIDATES (by reference — every
    * store mutation installs a fresh vector) that the collection's
    * segments are still the planned ones, failing loudly otherwise:
    * a commit computed against moved segments would drop or duplicate
    * rows. None = no scan planned yet. */
  @volatile private[v2] var planned: Option[(Set[Int], Vector[GraftStore.Segment])] = None

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = {
        val base = GraftStore.get(name).schema
        StructType(base.fields :+ StructField("_segment", IntegerType, nullable = false))
      }
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan =
        new GraftGroupScan(name, required, GraftRowLevelOperation.this)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftReplaceDataWrite(name, info.schema(), GraftRowLevelOperation.this)
      }
    }
}

/** Row-level-rewrite scan: emits whole segments (rows are NEVER
  * filtered), prunable only at SEGMENT granularity via the runtime
  * group filter on `_segment`. Records what it planned on the owning
  * operation so the commit knows which segments to replace. */
class GraftGroupScan(name: String, required: StructType,
                     op: GraftRowLevelOperation)
    extends Scan with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-store:$name group scan (row-level op), ReadSchema: ${required.catalogString}"

  @volatile private var keptSegments: Option[Set[Int]] = None
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_segment"))
  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case org.apache.spark.sql.sources.In("_segment", values) =>
        keptSegments = Some(values.collect {
          case i: java.lang.Integer => i.intValue
          case l: java.lang.Long => l.intValue
        }.toSet)
      case _ => () // unknown runtime filter: keep every segment (safe)
    }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val allSegs = GraftStore.get(name).segments
      val segs = allSegs.zipWithIndex
      val kept = keptSegments match {
        case Some(ids) => segs.filter { case (_, i) => ids.contains(i) }
        case None => segs
      }
      op.planned = Some((kept.map(_._2).toSet, allSegs))
      kept.map { case (seg, i) =>
        GraftInputPartition(seg.payload, i): InputPartition
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory = {
      val full = GraftStore.get(name).schema
      new GraftReaderFactory(full, required, Array.empty)
    }
  }
}

/** ReplaceData commit: the rewritten rows replace EXACTLY the segments
  * the operation's scan planned; untouched segments keep their rows.
  * Layout (shard/cluster key) is preserved.
  *
  * The rewrite's PHYSICAL input rows carry engine bookkeeping PREPENDED
  * to the table columns (`__row_operation` in the 4.x group-based
  * rewrite) while `LogicalWriteInfo.schema()` reports only the table
  * columns — the writer skips the leading extras by offset
  * (numFields − schema.length), so only real data lands. */
class GraftReplaceDataWrite(name: String, schema: StructType,
                            op: GraftRowLevelOperation)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftReplaceDataWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val newRows = messages.iterator
      .flatMap(_.asInstanceOf[GraftCommitMessage].rows).toVector
    val (replaced, plannedSegs) = op.planned.getOrElse(
      throw new IllegalStateException(
        s"graft-store: row-level commit on '$name' before scan planning"))
    // atomic + validated in the store: fails loudly if the collection's
    // segment list moved between scan planning and this commit
    GraftStore.commitReplace(name, schema, replaced, plannedSegs, newRows)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

case class GraftReplaceDataWriterFactory(schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val convs = schema.fields.map(f => RowConverters.toScala(f.dataType))
      private val buf = Vector.newBuilder[Row]
      override def write(record: InternalRow): Unit = {
        val off = record.numFields - schema.length
        require(off >= 0, s"row-level write row has ${record.numFields} fields " +
          s"for ${schema.length}-column schema")
        buf += Row.fromSeq(Array.tabulate(schema.length) { i =>
          convs(i)(record.get(off + i, schema(i).dataType))
        }.toIndexedSeq)
      }
      override def commit(): WriterCommitMessage = GraftCommitMessage(buf.result())
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** DELTA row-level operation (UPDATE/MERGE/predicate-DELETE through
  * [[SupportsDelta]]) — the merge-on-read-style narrow path and the
  * default strategy: the operation's scan is the FULL-FEATURED
  * [[GraftScan]] (zone-map segment pruning, exact filter pushdown,
  * column pruning, runtime filtering — in delta mode row filtering is
  * SAFE: a row the scan drops is simply an unchanged row), rows are
  * identified by the `_pos` metadata column (ordinal in the
  * collection's stable row order), and only the CHANGED rows cross the
  * wire as typed delete/update/insert deltas. A 1-row UPDATE ships 1
  * row where the group path re-writes a whole segment. The commit
  * validates the collection hasn't moved since scan planning
  * ([[GraftStore.commitDelta]]) — positions against a mutated
  * collection would be stale. */
class GraftDeltaOperation(name: String, schema: StructType,
                          cmd: RowLevelOperation.Command, batchRows: Int)
    extends RowLevelOperation with SupportsDelta {
  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-store delta $cmd"

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_pos"))

  /** Segment list the delta scan planned against — commit staleness
    * validation, same contract as the group path's `planned`. */
  @volatile private[v2] var plannedSegments: Option[Vector[GraftStore.Segment]] = None

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(name, GraftStore.get(name).schema,
      if (batchRows > 0) batchRows else 100,
      segs => plannedSegments = Some(segs))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(name, info.schema(), GraftDeltaOperation.this)
    }
}

class GraftDeltaWrite(name: String, rowSchema: StructType,
                      op: GraftDeltaOperation) extends DeltaWrite {
  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(name, rowSchema, op)
}

class GraftDeltaBatchWrite(name: String, rowSchema: StructType,
                           op: GraftDeltaOperation) extends DeltaBatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    GraftDeltaWriterFactory(rowSchema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ds = messages.map(_.asInstanceOf[GraftDeltaMessage])
    val planned = op.plannedSegments.getOrElse(
      throw new IllegalStateException(
        s"graft-store: delta commit on '$name' before scan planning"))
    GraftStore.commitDelta(name, rowSchema, planned,
      ds.iterator.flatMap(_.deleted).toSet,
      ds.iterator.flatMap(_.updated).toMap,
      ds.iterator.flatMap(_.inserted).toVector)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** The delta a task produced: row positions to delete, (position →
  * replacement row) updates, and appended inserts — O(changed rows),
  * never O(segment). */
case class GraftDeltaMessage(deleted: Vector[Long],
                             updated: Vector[(Long, Row)],
                             inserted: Vector[Row]) extends WriterCommitMessage

/** Top-level case class (serialized to executors — no outer refs). The
  * engine's WriteDelta projections split each input row into the
  * operation's (id, metadata, row) parts before the writer sees them,
  * so `row` carries exactly the table columns (a defensive offset
  * guards against engine-prepended bookkeeping, mirroring
  * [[GraftReplaceDataWriterFactory]]). */
case class GraftDeltaWriterFactory(schema: StructType)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val convs = schema.fields.map(f => RowConverters.toScala(f.dataType))
      private val deleted = Vector.newBuilder[Long]
      private val updated = Vector.newBuilder[(Long, Row)]
      private val inserted = Vector.newBuilder[Row]

      private def toRow(rec: InternalRow): Row = {
        val off = rec.numFields - schema.length
        require(off >= 0, s"delta write row has ${rec.numFields} fields " +
          s"for ${schema.length}-column schema")
        Row.fromSeq(Array.tabulate(schema.length) { i =>
          convs(i)(rec.get(off + i, schema(i).dataType))
        }.toIndexedSeq)
      }

      override def delete(meta: InternalRow, id: InternalRow): Unit =
        deleted += id.getLong(0)
      override def update(meta: InternalRow, id: InternalRow,
                          row: InternalRow): Unit =
        updated += ((id.getLong(0), toRow(row)))
      override def insert(row: InternalRow): Unit = inserted += toRow(row)

      override def commit(): WriterCommitMessage =
        GraftDeltaMessage(deleted.result(), updated.result(), inserted.result())
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** Streaming (micro-batch) write: each epoch runs the same two-phase
  * protocol as the batch path — executors buffer and send commit
  * messages, the DRIVER applies them atomically — plus an epoch ledger
  * in the store ([[GraftStore.commitEpoch]]) so the epoch re-delivered
  * after a restart commits as a no-op: exactly-once into the store with
  * an at-least-once engine, the standard idempotent-sink contract.
  * Append mode appends per epoch; Complete mode (truncate) overwrites
  * per epoch, which is idempotent by construction but still ledgered so
  * a replayed epoch can't clobber a newer one. Unlike the batch path,
  * epochs into a disk-backed collection still ship their rows, and the
  * driver spills them. */
class GraftStreamingWrite(name: String, schema: StructType, truncate: Boolean,
                          shardKey: Option[String] = None,
                          queryId: String = "")
    extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftStreamingWriterFactory(schema)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val rows = messages.iterator
      .flatMap(_.asInstanceOf[GraftCommitMessage].rows).toVector
    // the ledger key includes the streaming query id: a different query
    // (or a fresh checkpoint restarting epoch numbering at 0) is a new
    // writer, not a replay
    GraftStore.commitEpoch(name, schema, rows, epochId, truncate, shardKey,
      queryId = queryId)
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

/** Top-level case class (NOT an inner anonymous class): the factory is
  * serialized to executors, and an inner class would drag the
  * non-serializable StreamingWrite along as its outer reference. */
case class GraftStreamingWriterFactory(schema: StructType)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftWriterFactory(schema).createWriter(partitionId, taskId)
}

class GraftWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val toRow = RowConverters.toRow(schema)
      private val buf = Vector.newBuilder[Row]
      override def write(record: InternalRow): Unit = buf += toRow(record)
      override def commit(): WriterCommitMessage = GraftCommitMessage(buf.result())
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

// ------------------------------------------------------------ streaming

/** Row-count offset into the collection's stable row order, stamped
  * with the order epoch it was minted under — a checkpoint resumed
  * against a REORDERED collection (different epoch) is detected at
  * deserialization instead of silently replaying wrong rows. */
case class GraftOffset(rowIndex: Long, epoch: Long = -1L) extends Offset {
  override def json(): String =
    if (epoch < 0) rowIndex.toString else s"$rowIndex:$epoch"
}

/** Replays the collection in `batchRows`-row micro-batches. The row
  * order is frozen at stream construction (segment order — the
  * registration sort), so offsets are durable across restarts as long
  * as the collection is, which is the contract a replayable source
  * (Kafka, a CDC log) provides.
  *
  * Admission control ([[SupportsTriggerAvailableNow]], which extends
  * SupportsAdmissionControl) makes the batching REAL rather than
  * partition-level: the engine asks for the next offset under a
  * `maxRows` limit, so a backlog replays as many bounded micro-batches
  * (each checkpointed) instead of one giant catch-up batch — the
  * property that keeps recovery memory flat when a stream restarts
  * against hours of backlog. Trigger.AvailableNow additionally
  * snapshots the end offset up front (`prepareForTriggerAvailableNow`)
  * and drains the bounded batches up to exactly that point. */
class GraftMicroBatchStream(name: String, fullSchema: StructType,
                            required: StructType, filters: Array[Filter],
                            batchRows: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  // LIVE read, not a start-of-stream snapshot: rows appended while the
  // stream runs surface in the next latestOffset() poll (what the
  // replayable-source framing promises). Offset durability then rests on
  // the store's row order being append-stable — unsharded appends and
  // sharded TAIL appends (new keys ≥ current max) qualify — and the
  // store's order epoch GUARDS it: a reordering rewrite (re-register,
  // re-cluster, mid-range sharded append) mid-stream fails the next poll
  // loudly instead of silently re-delivering some rows and losing others.
  private val startEpoch: Long = GraftStore.orderEpoch(name)
  /** Epoch-checked manifest access: offsets are row indexes into the
    * collection's stable order, so a reordering rewrite mid-stream must
    * fail loudly. METADATA only — planning never materializes rows
    * (counts come from the manifest; partitions carry payload slices),
    * so streaming a disk-backed collection keeps the driver at O(1). */
  private def coll: GraftStore.Collection = {
    val now = GraftStore.orderEpoch(name)
    if (now != startEpoch)
      throw new IllegalStateException(
        s"graft-store stream on '$name': collection row order was rewritten " +
          s"mid-stream (order epoch $startEpoch -> $now); row-index offsets " +
          "are no longer valid — restart the stream from a fresh checkpoint")
    GraftStore.get(name)
  }
  private def totalRows: Long = coll.rowCount
  // end-of-data snapshot taken at AvailableNow start; Long.MaxValue
  // sentinel = continuous mode (no cap beyond current data)
  @volatile private var availableNowCap: Long = Long.MaxValue

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = totalRows

  override def initialOffset(): Offset = GraftOffset(0L, startEpoch)
  override def latestOffset(): Offset = GraftOffset(totalRows, startEpoch)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchRows)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftOffset].rowIndex
    val cap = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows => r.maxRows()
      case _ => totalRows
    }
    GraftOffset(math.min(math.min(totalRows, availableNowCap), from + cap),
      startEpoch)
  }
  override def reportLatestOffset(): Offset = GraftOffset(totalRows, startEpoch)
  override def deserializeOffset(json: String): Offset = json.split(':') match {
    case Array(idx) => GraftOffset(idx.toLong) // pre-epoch checkpoint: no check
    case Array(idx, ep) =>
      val cur = GraftStore.orderEpoch(name)
      if (ep.toLong != cur)
        throw new IllegalStateException(
          s"graft-store stream on '$name': checkpointed offset was minted " +
            s"under order epoch ${ep.toLong} but the collection is now at " +
            s"epoch $cur — row order was rewritten between runs; restart " +
            "from a fresh checkpoint")
      GraftOffset(idx.toLong, ep.toLong)
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Batch [lo, hi) as payload SLICES against the segment manifest:
    * each overlapping segment contributes `batchRows`-sized row-range
    * partitions that the EXECUTOR reads from the segment payload —
    * no row ever materializes on the driver, so a micro-batch over a
    * disk-backed collection costs the driver only arithmetic. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GraftOffset].rowIndex
    val hi = end.asInstanceOf[GraftOffset].rowIndex
    val parts = Array.newBuilder[InputPartition]
    var base = 0L
    coll.segments.foreach { seg =>
      val a = math.max(lo, base)
      val b = math.min(hi, base + seg.count)
      var from = a
      while (from < b) {
        val until = math.min(from + math.max(1, batchRows), b)
        parts += GraftSlicePartition(seg.payload,
          (from - base).toInt, (until - base).toInt, from)
        from = until
      }
      base += seg.count
    }
    parts.result()
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(fullSchema, required, filters)
}

// ----------------------------------------------------------- converters

/** External (Row) ⇄ Catalyst (InternalRow) value conversion for the
  * types the store supports — written against the PUBLIC column-value
  * contracts (UTF8String, ArrayData, DateTimeUtils) rather than any
  * Spark-internal converter registry. */
object RowConverters {
  def toCatalyst(dt: DataType): Any => Any = dt match {
    case StringType => v => if (v == null) null else UTF8String.fromString(v.asInstanceOf[String])
    case TimestampType => v => if (v == null) null else DateTimeUtils.fromJavaTimestamp(v.asInstanceOf[java.sql.Timestamp])
    case DateType => v => if (v == null) null else DateTimeUtils.fromJavaDate(v.asInstanceOf[java.sql.Date])
    case ArrayType(et, _) =>
      val ec = toCatalyst(et)
      v => if (v == null) null
        else new GenericArrayData(v.asInstanceOf[scala.collection.Seq[Any]].map(ec).toArray)
    case MapType(kt, vt, _) =>
      val (kc, vc) = (toCatalyst(kt), toCatalyst(vt))
      v => if (v == null) null else {
        val m = v.asInstanceOf[scala.collection.Map[Any, Any]]
        ArrayBasedMapData(m.keys.map(kc).toArray, m.values.map(vc).toArray)
      }
    case st: StructType =>
      val cs = st.fields.map(f => toCatalyst(f.dataType))
      v => if (v == null) null else {
        val r = v.asInstanceOf[Row]
        new GenericInternalRow(Array.tabulate(st.length)(i => cs(i)(r.get(i))))
      }
    case _ => identity // Long/Int/Double/Float/Boolean/Byte/Short/Binary pass through
  }

  def toScala(dt: DataType): Any => Any = dt match {
    case StringType => v => if (v == null) null else v.toString
    case TimestampType => v => if (v == null) null else DateTimeUtils.toJavaTimestamp(v.asInstanceOf[Long])
    case DateType => v => if (v == null) null else DateTimeUtils.toJavaDate(v.asInstanceOf[Int])
    case ArrayType(et, _) =>
      val ec = toScala(et)
      v => if (v == null) null
        else v.asInstanceOf[ArrayData].toObjectArray(et).map(ec).toIndexedSeq
    case MapType(kt, vt, _) =>
      val (kc, vc) = (toScala(kt), toScala(vt))
      v => if (v == null) null else {
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        m.keyArray().toObjectArray(kt).map(kc)
          .zip(m.valueArray().toObjectArray(vt).map(vc)).toMap
      }
    case st: StructType =>
      val cs = st.fields.map(f => toScala(f.dataType))
      v => if (v == null) null else {
        val r = v.asInstanceOf[InternalRow]
        Row.fromSeq(Array.tabulate(st.length)(i => cs(i)(r.get(i, st(i).dataType))).toIndexedSeq)
      }
    case _ => identity
  }

  /** A write task's record as an external Row shaped by `schema`. */
  def toRow(schema: StructType): InternalRow => Row = {
    val convs = schema.fields.map(f => toScala(f.dataType))
    rec => Row.fromSeq(Array.tabulate(schema.length) { i =>
      convs(i)(rec.get(i, schema(i).dataType))
    }.toIndexedSeq)
  }
}
