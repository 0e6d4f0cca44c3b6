package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** Parquet payload I/O for disk-backed [[GraftStore]] segments, written
  * against the PUBLIC parquet-hadoop example API (GroupReadSupport /
  * ExampleParquetWriter) — no Spark-internal reader machinery. Three
  * duties:
  *
  *  - '''openIterator''': stream a segment's rows off disk one at a
  *    time (O(1) memory per reader) — what lets the executor side of a
  *    scan hold a file handle instead of a materialized `Vector[Row]`;
  *  - '''open''' / '''write''': encode rows into one segment file —
  *    push-style from a catalog/DSv2 write task on an executor, or
  *    from an iterator for the driver's mutation/relayout spills;
  *  - '''footerStats''': row count + per-column min/max from the file
  *    FOOTER — zone maps without reading a single data page, the same
  *    metadata a lakehouse manifest caches. Conservative: a column
  *    whose chunk statistics are missing/invalid simply gets no zone
  *    entry (pruning keeps the segment; pushed MIN/MAX falls back to
  *    scanning), never a wrong one.
  *
  * Scope: FLAT schemas over the store's external value types (Long/
  * Int/Double/Float/Boolean/String/Array[Byte]/Timestamp/Date) —
  * [[unsupported]] names anything else so callers fail at ingest time,
  * not mid-scan. Timestamps ride INT64 micros both ways (Spark writers
  * must set `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`,
  * which [[GraftStore.loadDisk]] does around its write).
  *
  * One Hadoop `Configuration` per JVM: building one parses Hadoop's XML
  * defaults and probes every jar on the classpath for them, which cost
  * more than decoding a small segment file. So every open, write and
  * listing here goes through `conf`:
  *
  *  - readers share it, read-only;
  *  - read options are built per open (`HadoopReadOptions.builder(conf)`),
  *    never shared, because `ParquetFileReader.close()` releases the
  *    options' codec factory;
  *  - writers take a copy, because `ExampleParquetWriter` writes the
  *    schema into its conf and concurrent writers would race on it.
  *
  * It is a bare `new Configuration()`, so it reads exactly the settings
  * each per-file `new Configuration()` read before: Hadoop's defaults
  * and site files, never a session's `spark.hadoop.*` keys. */
object GraftParquet {

  /** An open, streaming row reader. Self-closes at exhaustion; callers
    * abandoning it early (limits, short-circuit folds) must close(). */
  trait RowIter extends Iterator[Row] with java.io.Closeable

  def closeQuietly(it: Iterator[_]): Unit = it match {
    case c: java.io.Closeable => c.close()
    case _ => ()
  }

  private lazy val conf: Configuration = {
    val c = new Configuration()
    c.size() // parse the XML resources here, once, not in the first reader
    c
  }

  /** Open one parquet file for footer, dictionary, bloom or page reads. */
  private[v2] def openFile(path: String): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf),
      HadoopReadOptions.builder(conf).build())

  /** First schema field (if any) the parquet payload cannot carry. */
  def unsupported(schema: StructType): Option[StructField] =
    schema.fields.find(f => f.dataType match {
      case LongType | IntegerType | DoubleType | FloatType | BooleanType |
           StringType | BinaryType | TimestampType | DateType => false
      case _ => true
    })

  private[v2] def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case LongType    => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case DoubleType  => Types.optional(DOUBLE)
        case FloatType   => Types.optional(FLOAT)
        case BooleanType => Types.optional(BOOLEAN)
        case StringType  => Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case BinaryType  => Types.optional(BINARY)
        case TimestampType => Types.optional(INT64).as(
          LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case DateType => Types.optional(INT32).as(LogicalTypeAnnotation.dateType())
        case other => throw new IllegalArgumentException(
          s"graft-store disk payload: unsupported type $other for column ${f.name}")
      }
      b.addField(t.named(f.name))
    }
    b.named("graft_segment")
  }

  /** One segment file being written, push-style: [[open]] it, [[add]]
    * rows, [[close]] it. The single encoder behind every store write —
    * driver-side spills ([[write]]) and the files write tasks land on
    * executors. `bloom` (column → expected NDV) enables parquet-native
    * Bloom filters on those columns — the format computes them during
    * the write, and [[bloomFilters]] reads them back for segment
    * skipping. */
  final class SegmentWriter private[GraftParquet] (path: String, schema: StructType,
                                                   bloom: Map[String, Long])
      extends java.io.Closeable {
    private val msg = messageType(schema)
    private val writer: ParquetWriter[Group] = {
      var builder = ExampleParquetWriter
        .builder(new Path(path)).withConf(new Configuration(conf)).withType(msg)
      bloom.foreach { case (c, ndv) =>
        builder = builder.withBloomFilterEnabled(c, true).withBloomFilterNDV(c, ndv)
      }
      builder.build()
    }
    private val fac = new SimpleGroupFactory(msg)
    private var n = 0L
    private var closed = false

    /** Rows added so far. */
    def count: Long = n

    def add(r: Row): Unit = {
      val g = fac.newGroup()
      var i = 0
      while (i < schema.length) {
        val v = r.get(i)
        if (v != null) schema(i).dataType match {
          case LongType    => g.add(i, v.asInstanceOf[Long])
          case IntegerType => g.add(i, v.asInstanceOf[Int])
          case DoubleType  => g.add(i, v.asInstanceOf[Double])
          case FloatType   => g.add(i, v.asInstanceOf[Float])
          case BooleanType => g.add(i, v.asInstanceOf[Boolean])
          case StringType  => g.add(i, v.asInstanceOf[String])
          case BinaryType  => g.add(i, Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]]))
          case TimestampType =>
            g.add(i, DateTimeUtils.fromJavaTimestamp(v.asInstanceOf[java.sql.Timestamp]))
          case DateType =>
            g.add(i, DateTimeUtils.fromJavaDate(v.asInstanceOf[java.sql.Date]))
          case other => throw new IllegalStateException(s"unreachable: $other")
        }
        i += 1
      }
      writer.write(g)
      n += 1
    }

    /** Writes the footer. Idempotent. */
    override def close(): Unit = if (!closed) { closed = true; writer.close() }
  }

  def open(path: String, schema: StructType,
           bloom: Map[String, Long] = Map.empty): SegmentWriter =
    new SegmentWriter(path, schema, bloom)

  /** Spill rows to one parquet file; returns the row count. */
  def write(path: String, schema: StructType, rows: Iterator[Row],
            bloom: Map[String, Long] = Map.empty): Long = {
    val w = open(path, schema, bloom)
    try rows.foreach(w.add) finally w.close()
    w.count
  }

  /** A written file's length in bytes — what the manifest records per
    * segment, so scan planning packs by size without touching storage. */
  def fileBytes(path: String): Long = {
    val p = new Path(path)
    FileSystem.get(p.toUri, conf).getFileStatus(p).getLen
  }

  /** Delete one written file (a failed write's leftovers). */
  def delete(path: String): Unit = {
    val p = new Path(path)
    FileSystem.get(p.toUri, conf).delete(p, false)
  }

  /** Per-field Group→external extractors for ONE file's schema. A field
    * absent from the file reads as `constants(i)` (partition-directory
    * key columns) or null. */
  private def converters(fileType: GroupType, schema: StructType,
                         constants: Map[Int, Any]): Array[Group => Any] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      constants.get(i) match {
        case Some(v) => (_: Group) => v
        case None if !fileType.containsField(f.name) => (_: Group) => null
        case None =>
          val fi = fileType.getFieldIndex(f.name)
          val get: Group => Any = f.dataType match {
            case LongType    => g => g.getLong(fi, 0)
            case IntegerType => g => g.getInteger(fi, 0)
            case DoubleType  => g => g.getDouble(fi, 0)
            case FloatType   => g => g.getFloat(fi, 0)
            case BooleanType => g => g.getBoolean(fi, 0)
            case StringType  => g => g.getBinary(fi, 0).toStringUsingUTF8
            case BinaryType  => g => g.getBinary(fi, 0).getBytes
            case TimestampType => g => DateTimeUtils.toJavaTimestamp(g.getLong(fi, 0))
            case DateType    => g => DateTimeUtils.toJavaDate(g.getInteger(fi, 0))
            case other => throw new IllegalArgumentException(
              s"graft-store disk payload: unsupported type $other for column ${f.name}")
          }
          g => if (g.getFieldRepetitionCount(fi) == 0) null else get(g)
      }
    }

  /** Test-support observability: the read `MessageType` of the most
    * recently opened file (what the decoder was actually asked for —
    * specs assert pruned columns never appear here). */
  @volatile var lastReadSchema: Option[MessageType] = None

  /** Column-pruning read support: decode ONLY the columns of
    * `requested` that the file actually carries — parquet then never
    * reads the other columns' chunks (no pages, no decompression, no
    * decode). When the intersection is empty (count-shaped reads, or a
    * projection made entirely of partition-directory constants) the
    * file's cheapest-to-decode column is kept so row multiplicity
    * survives. Fields absent from the file come back as null /
    * constants via [[converters]], same as the full-schema path. */
  private final class ProjectedReadSupport(requested: MessageType)
      extends GroupReadSupport {
    override def init(context: org.apache.parquet.hadoop.api.InitContext)
        : org.apache.parquet.hadoop.api.ReadSupport.ReadContext = {
      val fileSchema = context.getFileSchema
      // project the FILE's own field instances: repetition must match
      // the data (a Spark-written non-nullable column is REQUIRED; a
      // rebuilt OPTIONAL field would make the decoder parse definition
      // levels the pages don't carry)
      val kept = requested.getFields.asScala.iterator.map(_.getName)
        .filter(fileSchema.containsField)
        .map(n => fileSchema.getFields.get(fileSchema.getFieldIndex(n)))
        .filter(_.isPrimitive).toVector
      val fields: java.util.List[org.apache.parquet.schema.Type] =
        if (kept.nonEmpty) kept.asJava
        else {
          // decode-cost rank of the physical types we write
          def cost(t: org.apache.parquet.schema.Type): Int =
            t.asPrimitiveType().getPrimitiveTypeName match {
              case BOOLEAN => 0
              case INT32 | FLOAT => 1
              case INT64 | DOUBLE => 2
              case _ => 3 // BINARY & co
            }
          java.util.Collections.singletonList(
            fileSchema.getFields.asScala.filter(_.isPrimitive).minBy(cost))
        }
      val proj = new MessageType(fileSchema.getName, fields)
      lastReadSchema = Some(proj)
      new org.apache.parquet.hadoop.api.ReadSupport.ReadContext(proj)
    }
  }

  /** Row reader over one file through the shared conf: the
    * `builder(readSupport, path)` route builds a fresh `Configuration`
    * in its constructor. */
  private final class RowReaderBuilder(path: String, readSupport: ReadSupport[Group])
      extends ParquetReader.Builder[Group](
        HadoopInputFile.fromPath(new Path(path), conf),
        new HadoopParquetConfiguration(conf)) {
    override protected def getReadSupport(): ReadSupport[Group] = readSupport
  }

  /** Stream rows from `paths` in order as external Rows shaped by
    * `schema`. One file open at a time; memory is one row + reader
    * buffers regardless of segment size. Only `schema`'s columns are
    * DECODED — column chunks outside the projection are never read. */
  def openIterator(paths: Seq[String], schema: StructType,
                   constants: Map[Int, Any] = Map.empty): RowIter = new RowIter {
    private val requested = messageType(StructType(
      schema.fields.zipWithIndex
        .filterNot { case (_, i) => constants.contains(i) }.map(_._1)))
    private var pathIdx = 0
    private var reader: ParquetReader[Group] = _
    private var convs: Array[Group => Any] = _
    private var nextGroup: Group = _
    advance()

    private def closeReader(): Unit =
      if (reader != null) { reader.close(); reader = null }

    private def advance(): Unit = {
      nextGroup = if (reader == null) null else reader.read()
      while (nextGroup == null && pathIdx < paths.length) {
        closeReader()
        reader = new RowReaderBuilder(paths(pathIdx), new ProjectedReadSupport(requested)).build()
        pathIdx += 1
        nextGroup = reader.read()
        if (nextGroup != null) convs = converters(nextGroup.getType, schema, constants)
      }
      if (nextGroup == null) closeReader()
    }

    override def hasNext: Boolean = nextGroup != null
    override def next(): Row = {
      if (nextGroup == null) throw new NoSuchElementException("exhausted parquet segment")
      val g = nextGroup
      val vals = new Array[Any](convs.length)
      var i = 0
      while (i < convs.length) { vals(i) = convs(i)(g); i += 1 }
      advance()
      Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
    }
    override def close(): Unit = { nextGroup = null; closeReader() }
  }

  /** (rowCount, zone maps) from the file footer — no data pages read.
    * Zones only for columns every non-all-null row group carries valid
    * statistics for (parquet drops oversized binary stats; such a
    * column just loses its zone entry, which is always safe). */
  def footerStats(path: String, schema: StructType): (Long, Map[String, (Any, Any)]) = {
    val r = openFile(path)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toVector
      val count = blocks.map(_.getRowCount).sum
      val zones = schema.fields.iterator.filter(f => f.dataType match {
        case LongType | IntegerType | DoubleType | FloatType | StringType => true
        case _ => false
      }).flatMap { f =>
        // fold chunk stats across row groups; None = column invalidated
        var acc: Option[(Any, Any)] = None
        var valid = true
        blocks.foreach { b =>
          if (valid) b.getColumns.asScala.find(_.getPath.toDotString == f.name) match {
            case None => valid = false // column missing from a block
            case Some(chunk) =>
              val s = chunk.getStatistics
              if (s == null || s.isEmpty) valid = false
              else if (s.hasNonNullValue) {
                val (lo, hi) = (statValue(s.genericGetMin, f.dataType),
                  statValue(s.genericGetMax, f.dataType))
                acc = acc match {
                  case None => Some((lo, hi))
                  case Some((l0, h0)) => Some((
                    if (GraftStore.cmp(lo, l0) < 0) lo else l0,
                    if (GraftStore.cmp(hi, h0) > 0) hi else h0))
                }
              } // else: all-null block contributes nothing
          }
        }
        if (valid) acc.map(f.name -> _) else None
      }.toMap
      (count, zones)
    } finally r.close()
  }

  private def statValue(v: Comparable[_], dt: DataType): Any = dt match {
    case LongType    => v.asInstanceOf[java.lang.Long].longValue
    case IntegerType => v.asInstanceOf[java.lang.Integer].intValue
    case DoubleType  => v.asInstanceOf[java.lang.Double].doubleValue
    case FloatType   => v.asInstanceOf[java.lang.Float].floatValue
    case StringType  => v.asInstanceOf[Binary].toStringUsingUTF8
    case other => throw new IllegalArgumentException(s"no zone stats for $other")
  }

  /** One row group's membership evidence for a column: the parquet
    * Bloom filter, or — when the chunk ended up FULLY
    * dictionary-encoded, in which case parquet deliberately omits the
    * bloom because the dictionary IS an exact membership set (the same
    * contract parquet's own DictionaryFilter relies on) — the decoded
    * dictionary values. Both sides of the union are no-false-negative,
    * so a skip is always safe. */
  sealed trait ChunkProbe {
    /** `v` is a parquet-typed value: Binary / Long / Integer / Double / Float. */
    def mightContain(v: AnyRef): Boolean
    /** Driver-RAM cost of holding this probe — the manifest size model's
      * unit (bloom: exact bitset bytes; dictionary: per-value estimate). */
    def sizeBytes: Long
  }
  private final case class BloomProbe(
      bf: org.apache.parquet.column.values.bloomfilter.BloomFilter) extends ChunkProbe {
    def mightContain(v: AnyRef): Boolean = bf.findHash(bf.hash(v))
    def sizeBytes: Long = bf.getBitsetSize.toLong
  }
  private final case class DictProbe(values: Set[AnyRef]) extends ChunkProbe {
    def mightContain(v: AnyRef): Boolean = values.contains(v)
    // ~32 bytes/entry: boxed value + hash-set node; an estimate — the
    // point is the ORDER of driver cost, not byte-exact accounting
    def sizeBytes: Long = values.size.toLong * 32L
  }

  /** Driver-built probe over explicit parquet-typed values — the
    * MEMORY-payload twin of the footer-read path, so `bloom.columns`
    * behaves identically across payload modes. The value set is known
    * exactly, so the filter is sized at the true cardinality. */
  def valueProbe(values: Set[AnyRef]): ChunkProbe = {
    import org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
    val bits = BlockSplitBloomFilter.optimalNumOfBits(math.max(8L, values.size.toLong), 0.01)
    val bf = new BlockSplitBloomFilter(bits / 8)
    values.foreach(v => bf.insertHash(bf.hash(v)))
    BloomProbe(bf)
  }

  /** Per-column membership probes from the file footer region, for
    * segment skipping (column → one probe per row group; a value might
    * be in the file iff SOME row group's probe might contain it). A
    * column is returned only if EVERY non-empty row group yields a
    * probe — a partial set would introduce false negatives, and a
    * dropped column is always safe (the segment just isn't skipped). */
  def bloomFilters(path: String, schema: StructType, cols: Seq[String])
      : Map[String, Vector[ChunkProbe]] = {
    if (cols.isEmpty) return Map.empty
    val r = openFile(path)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toVector.filter(_.getRowCount > 0)
      val fileSchema = r.getFooter.getFileMetaData.getSchema
      def dictProbe(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
                    chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
                    c: String): Option[ChunkProbe] = {
        val es = chunk.getEncodingStats
        if (es == null || !es.hasDictionaryPages || es.hasNonDictionaryEncodedPages)
          return None
        val colDesc = fileSchema.getColumns.asScala
          .find(_.getPath.toSeq == Seq(c)).getOrElse(return None)
        val dictStore: org.apache.parquet.column.page.DictionaryPageReadStore =
          r.getDictionaryReader(b)
        val page = dictStore.readDictionaryPage(colDesc)
        if (page == null) return None
        val dict = page.getEncoding.initDictionary(colDesc, page)
        val tn = colDesc.getPrimitiveType.getPrimitiveTypeName
        val values: Set[AnyRef] = (0 to dict.getMaxId).map { i =>
          (tn match {
            case BINARY => dict.decodeToBinary(i)
            case INT64 => java.lang.Long.valueOf(dict.decodeToLong(i))
            case INT32 => java.lang.Integer.valueOf(dict.decodeToInt(i))
            case DOUBLE => java.lang.Double.valueOf(dict.decodeToDouble(i))
            case FLOAT => java.lang.Float.valueOf(dict.decodeToFloat(i))
            case _ => return None
          }): AnyRef
        }.toSet
        Some(DictProbe(values))
      }
      cols.iterator.filter(schema.fieldNames.contains).flatMap { c =>
        var complete = true
        val probes = blocks.flatMap { b =>
          if (!complete) Nil
          else b.getColumns.asScala.find(_.getPath.toDotString == c) match {
            case Some(chunk) =>
              Option(r.getBloomFilterDataReader(b).readBloomFilter(chunk))
                .map(BloomProbe(_): ChunkProbe)
                .orElse(dictProbe(b, chunk, c)) match {
                case Some(p) => Vector(p)
                case None => complete = false; Nil
              }
            case None => complete = false; Nil
          }
        }
        if (complete && probes.nonEmpty) Some(c -> probes) else None
      }.toMap
    } finally r.close()
  }

  /** `part-*` data files under `dir` with their lengths, in name order
    * (range-partitioned Spark writes number parts in range order, so
    * name order IS key order). */
  def listPartFiles(dir: String): Vector[(String, Long)] = {
    val p = new Path(dir)
    val fs = FileSystem.get(p.toUri, conf)
    fs.listStatus(p).toVector
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
      .map(st => (st.getPath.toString, st.getLen))
  }

  /** Hive-style partition directories (`key=value`) under `dir`, as
    * (decoded value string or null, data files with their lengths) —
    * the layout `partitionBy` writes. */
  def listKeyDirs(dir: String, key: String): Vector[(Option[String], Vector[(String, Long)])] = {
    val p = new Path(dir)
    val fs = FileSystem.get(p.toUri, conf)
    fs.listStatus(p).toVector
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(key + "="))
      .map { st =>
        val raw = st.getPath.getName.substring(key.length + 1)
        val value =
          if (raw == "__HIVE_DEFAULT_PARTITION__") None
          else Some(unescapePathName(raw))
        (value, listPartFiles(st.getPath.toString))
      }
  }

  /** Inverse of Spark's partition-path escaping (%XX sequences). */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(ch); i += 1 }
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }
}
