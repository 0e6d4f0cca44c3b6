package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.parquet.column.ColumnDescriptor
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Direct parquet→ColumnVector decode for disk-backed segment scans —
  * the follow-on to projected reads: the projected path stopped READING
  * unneeded chunks, this path stops MATERIALIZING the needed ones as
  * `Group`s and external `Row`s before re-packing into vectors. Pages
  * decode straight into [[OnHeapColumnVector]]s via the public
  * parquet-column `ColumnReadStore` API (no Spark-internal parquet
  * reader machinery), which also makes timestamp/date columns free:
  * parquet's INT64-micros / INT32-days ARE Catalyst's physical
  * representation, so the Row path's micros→java.sql.Timestamp→micros
  * round-trip disappears.
  *
  * Scope mirrors the payload format: FLAT optional primitive schemas
  * (GraftParquet.messageType's output). Pushed filters evaluate
  * VECTORIZED via [[GraftColumnar.compilePred]] — same three-valued
  * null semantics and the same UTF-8-binary string order as
  * `GraftStore.eval`/`cmp` (strings compare as `UTF8String
  * .binaryCompare`, zero-copy) — and surviving rows compact into fresh
  * vectors only when a batch actually loses rows. */
object GraftColumnar {

  /** ColumnReadStoreImpl wants a converter tree only to probe
    * dictionary support; reading through the typed getters needs none. */
  private object NoopGroup extends GroupConverter {
    private object NoopPrim extends PrimitiveConverter
    override def getConverter(fieldIndex: Int): Converter = NoopPrim
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  /** One decoded batch: vectors shaped by the READ schema (constants
    * included), plus the row count. Vectors are owned by the iterator
    * and recycled per batch — callers must consume before next(). */
  final case class DecodedBatch(vectors: Array[OnHeapColumnVector], numRows: Int)

  /** Stream `paths` as decoded batches of up to `batchSize` rows shaped
    * by `schema` (external StructType; `constants` inject
    * partition-directory columns absent from the files). Fields missing
    * from a file decode as nulls — the same evolution contract as the
    * row path. */
  final class BatchIter(paths: Seq[String], schema: StructType,
                        constants: Map[Int, Any], batchSize: Int)
      extends Iterator[DecodedBatch] with java.io.Closeable {

    private val request: MessageType = GraftParquet.messageType(StructType(
      schema.fields.zipWithIndex
        .filterNot { case (_, i) => constants.contains(i) }.map(_._1)))

    private var pathIdx = 0
    private var reader: ParquetFileReader = _
    // per-schema-field column state for the CURRENT row group; null for
    // fields the file lacks (or constants)
    private var readers: Array[org.apache.parquet.column.ColumnReader] = _
    private var maxDef: Array[Int] = _
    private var groupRemaining: Long = 0L

    /** Requested fields as the FILE declares them, in request order. */
    private def fileFields(fileSchema: MessageType)
        : Seq[org.apache.parquet.schema.Type] =
      request.getFields.asScala.iterator.map(_.getName)
        .filter(fileSchema.containsField)
        .map(n => fileSchema.getFields.get(fileSchema.getFieldIndex(n)))
        .filter(_.isPrimitive).toVector

    private def closeReader(): Unit =
      if (reader != null) { reader.close(); reader = null }

    override def close(): Unit = { groupRemaining = 0; pathIdx = paths.length; closeReader() }

    /** Advance to the next non-empty row group, opening files as needed.
      * False at end of all paths. */
    private def nextGroup(): Boolean = {
      while (true) {
        if (reader != null) {
          val pages = reader.readNextRowGroup()
          if (pages != null && pages.getRowCount > 0) {
            val fileSchema = reader.getFooter.getFileMetaData.getSchema
            // project the FILE's own field instances — repetition must
            // match the data (Spark writes non-nullable as REQUIRED;
            // an OPTIONAL rebuild would misalign definition levels)
            val kept = fileFields(fileSchema).asJava
            val proj = new MessageType(fileSchema.getName, kept)
            GraftParquet.lastReadSchema = Some(proj)
            val store = new ColumnReadStoreImpl(pages, NoopGroup, proj,
              reader.getFooter.getFileMetaData.getCreatedBy)
            val descByName: Map[String, ColumnDescriptor] =
              proj.getColumns.asScala.map(d => d.getPath()(0) -> d).toMap
            readers = schema.fields.map { f =>
              descByName.get(f.name).map(store.getColumnReader).orNull
            }
            maxDef = schema.fields.map { f =>
              descByName.get(f.name).map(_.getMaxDefinitionLevel).getOrElse(0)
            }
            groupRemaining = pages.getRowCount
            return true
          } else if (pages == null) closeReader()
          // else: empty row group — loop for the next one
        }
        if (reader == null) {
          if (pathIdx >= paths.length) return false
          reader = GraftParquet.openFile(paths(pathIdx))
          val fileSchema = reader.getFooter.getFileMetaData.getSchema
          reader.setRequestedSchema(
            new MessageType(fileSchema.getName, fileFields(fileSchema).asJava))
          pathIdx += 1
        }
      }
      false // unreachable
    }

    override def hasNext: Boolean = groupRemaining > 0 || nextGroup()

    override def next(): DecodedBatch = {
      if (!hasNext) throw new NoSuchElementException("exhausted parquet batches")
      val n = math.min(batchSize.toLong, groupRemaining).toInt
      val vectors = OnHeapColumnVector.allocateColumns(n, schema)
      var c = 0
      while (c < schema.length) {
        val vec = vectors(c)
        constants.get(c) match {
          case Some(const) => fillConstant(vec, schema(c).dataType, const, n)
          case None =>
            val cr = readers(c)
            if (cr == null) vec.putNulls(0, n)
            else {
              val md = maxDef(c)
              var i = 0
              schema(c).dataType match {
                case LongType | TimestampType =>
                  while (i < n) {
                    if (cr.getCurrentDefinitionLevel == md) vec.putLong(i, cr.getLong)
                    else vec.putNull(i)
                    cr.consume(); i += 1
                  }
                case IntegerType | DateType =>
                  while (i < n) {
                    if (cr.getCurrentDefinitionLevel == md) vec.putInt(i, cr.getInteger)
                    else vec.putNull(i)
                    cr.consume(); i += 1
                  }
                case DoubleType =>
                  while (i < n) {
                    if (cr.getCurrentDefinitionLevel == md) vec.putDouble(i, cr.getDouble)
                    else vec.putNull(i)
                    cr.consume(); i += 1
                  }
                case FloatType =>
                  while (i < n) {
                    if (cr.getCurrentDefinitionLevel == md) vec.putFloat(i, cr.getFloat)
                    else vec.putNull(i)
                    cr.consume(); i += 1
                  }
                case BooleanType =>
                  while (i < n) {
                    if (cr.getCurrentDefinitionLevel == md) vec.putBoolean(i, cr.getBoolean)
                    else vec.putNull(i)
                    cr.consume(); i += 1
                  }
                case StringType | BinaryType =>
                  while (i < n) {
                    if (cr.getCurrentDefinitionLevel == md) {
                      val b = cr.getBinary.getBytesUnsafe
                      vec.putByteArray(i, b, 0, b.length)
                    } else vec.putNull(i)
                    cr.consume(); i += 1
                  }
                case other => throw new IllegalStateException(
                  s"non-columnar payload type: $other")
              }
            }
        }
        c += 1
      }
      groupRemaining -= n
      DecodedBatch(vectors, n)
    }

    private def fillConstant(vec: OnHeapColumnVector, dt: DataType,
                             v: Any, n: Int): Unit =
      if (v == null) vec.putNulls(0, n)
      else dt match {
        case LongType => vec.putLongs(0, n, v.asInstanceOf[Long])
        case IntegerType => vec.putInts(0, n, v.asInstanceOf[Int])
        case DoubleType => vec.putDoubles(0, n, v.asInstanceOf[Double])
        case FloatType => vec.putFloats(0, n, v.asInstanceOf[Float])
        case BooleanType => vec.putBooleans(0, n, v.asInstanceOf[Boolean])
        case StringType =>
          val b = v.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0; while (i < n) { vec.putByteArray(i, b, 0, b.length); i += 1 }
        case TimestampType =>
          vec.putLongs(0, n, org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJavaTimestamp(v.asInstanceOf[java.sql.Timestamp]))
        case DateType =>
          vec.putInts(0, n, org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJavaDate(v.asInstanceOf[java.sql.Date]))
        case other => throw new IllegalStateException(s"constant type: $other")
      }
  }

  /** Vectorized filter compiler: a pushed `Filter` becomes a rowIdx
    * predicate over decoded vectors. Parity contract with
    * `GraftStore.eval` (three-valued null → definite-true only; string
    * order = unsigned UTF-8 bytes via `UTF8String.binaryCompare`, the
    * same order `GraftStore.cmp` uses) — pinned by ColumnarParitySpec
    * against randomized data. */
  def compilePred(f: Filter, schema: StructType,
                  vecs: Array[OnHeapColumnVector]): Int => Boolean = {
    def strCol(a: String): (Int => UTF8String) = {
      val idx = schema.fieldIndex(a)
      val v = vecs(idx)
      i => if (v.isNullAt(i)) null else v.getUTF8String(i)
    }
    def anyCol(a: String): (Int => Any) = {
      val idx = schema.fieldIndex(a)
      val v = vecs(idx)
      schema(idx).dataType match {
        case LongType => i => if (v.isNullAt(i)) null else java.lang.Long.valueOf(v.getLong(i))
        case IntegerType => i => if (v.isNullAt(i)) null else java.lang.Integer.valueOf(v.getInt(i))
        case DoubleType => i => if (v.isNullAt(i)) null else java.lang.Double.valueOf(v.getDouble(i))
        case FloatType => i => if (v.isNullAt(i)) null else java.lang.Float.valueOf(v.getFloat(i))
        case BooleanType => i => if (v.isNullAt(i)) null else java.lang.Boolean.valueOf(v.getBoolean(i))
        case StringType => i => if (v.isNullAt(i)) null else v.getUTF8String(i).toString
        case TimestampType => i => if (v.isNullAt(i)) null else
          org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(v.getLong(i))
        case DateType => i => if (v.isNullAt(i)) null else
          org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaDate(v.getInt(i))
        case other => throw new IllegalStateException(s"unfilterable type: $other")
      }
    }
    def isString(a: String): Boolean =
      schema(schema.fieldIndex(a)).dataType == StringType

    f match {
      case EqualTo(a, x: String) if isString(a) =>
        val g = strCol(a); val lit = UTF8String.fromString(x)
        i => { val y = g(i); y != null && y.binaryCompare(lit) == 0 }
      case GreaterThan(a, x: String) if isString(a) =>
        val g = strCol(a); val lit = UTF8String.fromString(x)
        i => { val y = g(i); y != null && y.binaryCompare(lit) > 0 }
      case GreaterThanOrEqual(a, x: String) if isString(a) =>
        val g = strCol(a); val lit = UTF8String.fromString(x)
        i => { val y = g(i); y != null && y.binaryCompare(lit) >= 0 }
      case LessThan(a, x: String) if isString(a) =>
        val g = strCol(a); val lit = UTF8String.fromString(x)
        i => { val y = g(i); y != null && y.binaryCompare(lit) < 0 }
      case LessThanOrEqual(a, x: String) if isString(a) =>
        val g = strCol(a); val lit = UTF8String.fromString(x)
        i => { val y = g(i); y != null && y.binaryCompare(lit) <= 0 }
      case In(a, xs) if isString(a) =>
        val g = strCol(a)
        val lits = xs.collect { case s: String => UTF8String.fromString(s) }
        i => { val y = g(i); y != null && lits.exists(y.binaryCompare(_) == 0) }
      case EqualTo(a, x) =>
        val g = anyCol(a); i => { val y = g(i); y != null && GraftStore.cmp(y, x) == 0 }
      case GreaterThan(a, x) =>
        val g = anyCol(a); i => { val y = g(i); y != null && GraftStore.cmp(y, x) > 0 }
      case GreaterThanOrEqual(a, x) =>
        val g = anyCol(a); i => { val y = g(i); y != null && GraftStore.cmp(y, x) >= 0 }
      case LessThan(a, x) =>
        val g = anyCol(a); i => { val y = g(i); y != null && GraftStore.cmp(y, x) < 0 }
      case LessThanOrEqual(a, x) =>
        val g = anyCol(a); i => { val y = g(i); y != null && GraftStore.cmp(y, x) <= 0 }
      case In(a, xs) =>
        val g = anyCol(a)
        i => { val y = g(i); y != null && xs.exists(x => x != null && GraftStore.cmp(y, x) == 0) }
      case IsNull(a) =>
        val idx = schema.fieldIndex(a); val v = vecs(idx); i => v.isNullAt(i)
      case IsNotNull(a) =>
        val idx = schema.fieldIndex(a); val v = vecs(idx); i => !v.isNullAt(i)
      case And(l, r) =>
        val pl = compilePred(l, schema, vecs); val pr = compilePred(r, schema, vecs)
        i => pl(i) && pr(i)
      case other => throw new IllegalStateException(s"unclaimed filter reached columnar eval: $other")
    }
  }
}
