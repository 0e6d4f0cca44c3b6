package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result, computed on executors:
  * the row count plus the sums of the high and low 32-bit halves of a
  * per-row xxhash64 over every column. Each half-sum stays below 2^63
  * for fewer than 2^31 rows, so the sums cannot overflow under ANSI
  * mode; summing (not xor-ing) keeps duplicate rows visible. Because
  * every column feeds the hash, Catalyst has no projection to prune,
  * unlike `count()`. */
object Digest {

  /** One-row frame `(rows, hi, lo)` for `df`. */
  def frame(df: DataFrame): DataFrame = {
    // positional names: query outputs may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => hashable(col(f.name), f.dataType))
    val h = xxhash64(cols.toIndexedSeq: _*)
    named.select(h.as("h")).agg(
      count(lit(1)).as("rows"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"))
  }

  /** `rows:hi:lo`, the form the expected-digest files hold. */
  def render(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"

  def of(df: DataFrame): String = render(frame(df).collect()(0))

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case ArrayType(et, _) => hasMap(et)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Spark refuses to hash maps: a map becomes its entries sorted by
    * key, recursively, so equal maps hash equally whatever their
    * insertion order. */
  private def hashable(c: Column, dt: DataType): Column =
    if (!hasMap(dt)) c
    else dt match {
      case MapType(kt, vt, _) =>
        array_sort(transform(map_entries(c), e => struct(
          hashable(e.getField("key"), kt).as("k"),
          hashable(e.getField("value"), vt).as("v"))))
      case ArrayType(et, _) => transform(c, x => hashable(x, et))
      case StructType(fs) =>
        when(c.isNotNull, struct(fs.toIndexedSeq.map(f =>
          hashable(c.getField(f.name), f.dataType).as(f.name)): _*))
      case _ => c
    }
}
