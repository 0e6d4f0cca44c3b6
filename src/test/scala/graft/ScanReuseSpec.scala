package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.GraftStore

/** Equal graft-store reads in one plan share one exchange: two frames
  * over the same collection with the same columns, filters and version
  * plan one shuffle, and the second side reads it as a
  * `ReusedExchangeExec`. Reads that differ in version or in a pushed
  * filter must keep their own exchange. */
class ScanReuseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("k", LongType), StructField("s", StringType)))
  private def rows(from: Int, until: Int) =
    (from until until).map(i => Row(i.toLong, (i % 7).toLong, s"v$i"))

  private lazy val table = {
    val dir = Files.createTempDirectory("graft_scan_reuse").toString
    GraftStore.register("scan_reuse", schema, rows(0, 400), shardKey = Some("id"),
      numSegments = 8, payloadDir = Some(dir))
    "scan_reuse"
  }

  private def read(name: String): DataFrame =
    spark.read.format("graft-store").option("name", name).load()
  private def shape(df: DataFrame): DataFrame =
    df.groupBy("k").agg(sum("id").as("total"), count(lit(1)).as("n"))

  private def reused(df: DataFrame): Int =
    SparkTestSession.collectExec(df) { case r: ReusedExchangeExec => r }.size

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Rows of `build()` with exchange reuse off: the reference answer. */
  private def withoutReuse(build: => DataFrame): Seq[Row] = {
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val df = build
      assert(reused(df) == 0)
      sorted(df)
    } finally spark.conf.unset("spark.sql.exchange.reuse")
  }

  test("a union of two equal graft-store reads reuses the exchange") {
    val name = table
    def q = shape(read(name)).union(shape(read(name)))
    val df = q
    assert(reused(df) >= 1, s"no ReusedExchangeExec:\n${df.queryExecution.executedPlan}")
    assert(sorted(df) == withoutReuse(q))
  }

  test("a self-join of two equal graft-store reads reuses the exchange") {
    val name = table
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      def q = {
        val (a, b) = (shape(read(name)), shape(read(name)))
        a.join(b.toDF("k", "total2", "n2"), "k")
      }
      val df = q
      assert(reused(df) >= 1, s"no ReusedExchangeExec:\n${df.queryExecution.executedPlan}")
      assert(sorted(df) == withoutReuse(q))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("reads that differ in a pushed filter do not reuse") {
    val name = table
    def q = shape(read(name).where(col("id") > 100L))
      .union(shape(read(name).where(col("id") > 200L)))
    val df = q
    assert(reused(df) == 0, s"unexpected reuse:\n${df.queryExecution.executedPlan}")
    val want = withoutReuse(q)
    assert(sorted(df) == want)
    assert(want.size == 14)
  }

  test("reads that differ in VERSION AS OF do not reuse") {
    val name = "scan_reuse_versions"
    val dir = Files.createTempDirectory("graft_scan_reuse_v").toString
    GraftStore.register(name, schema, rows(0, 400), shardKey = Some("id"),
      numSegments = 8, payloadDir = Some(dir))
    val v1 = GraftStore.currentVersion(name)
    GraftStore.append(name, schema, rows(400, 500))
    val v2 = GraftStore.currentVersion(name)
    assert(v2 > v1)
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.v2.GraftCatalog")
    def at(v: Long) = spark.sql(
      s"SELECT k, sum(id) AS total, count(1) AS n FROM graft_cat.`$name` VERSION AS OF $v GROUP BY k")
    def q = at(v1).union(at(v2))
    val df = q
    assert(reused(df) == 0, s"unexpected reuse:\n${df.queryExecution.executedPlan}")
    assert(sorted(df) == withoutReuse(q))
    // each side reads its own version: the appended rows show in v2 only
    val n = df.collect().map(_.getLong(2)).sum
    assert(n == 400L + 500L)
    // the same version twice is one read, and reuses
    val same = at(v2).union(at(v2))
    assert(reused(same) >= 1, s"no ReusedExchangeExec:\n${same.queryExecution.executedPlan}")
  }
}
