package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftParquet, GraftStore}

/** Records every Hadoop `Configuration` that loads Hadoop's default
  * resources (`core-default.xml`, `core-site.xml`) constructed since
  * `reset()`. Each constructor registers itself in Hadoop's static,
  * weakly keyed `Configuration.REGISTRY`; `poll()` copies the registry's
  * new keys into a strong set. Polled while a segment's reader is open, a
  * conf that reader built is still reachable, so the count does not
  * depend on when the collector runs. Confs built with
  * `loadDefaults = false` are left out: Hadoop's `openFile` builder makes
  * one per opened stream to hold its options, and it loads no resource.
  * An object, so executor-side closures (same JVM in local mode) reach
  * the same state. */
object ConfRegistryProbe {
  private def field(name: String) = {
    val f = classOf[Configuration].getDeclaredField(name)
    f.setAccessible(true)
    f
  }
  private val registry = field("REGISTRY")
  private val loadDefaults = field("loadDefaults")
  private def keys(): Vector[Configuration] = classOf[Configuration].synchronized {
    registry.get(null).asInstanceOf[java.util.Map[Configuration, AnyRef]]
      .keySet.asScala.toVector
  }.filter(c => loadDefaults.getBoolean(c))
  private def identitySet() =
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[Configuration, java.lang.Boolean])

  private var before = identitySet()
  private val created = identitySet()

  def reset(): Unit = synchronized {
    before = identitySet()
    keys().foreach(before.add)
    created.clear()
  }
  def poll(): Unit = synchronized {
    keys().foreach(c => if (!before.contains(c)) created.add(c))
  }
  def count: Int = synchronized { poll(); created.size }
}

/** Disk-backed segment reads build no Hadoop `Configuration` per file:
  * a fresh one re-parses Hadoop's XML defaults on first use, which cost
  * more than decoding a small segment. Both read paths are checked, the
  * columnar scan behind `graft-store` and `GraftParquet.openIterator`. */
class HadoopConfOnceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val segments = 48
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType)))

  private lazy val table = {
    val dir = Files.createTempDirectory("graft_conf_once").toString
    val rows = (0 until segments * 4).map(i => Row(i.toLong, s"v$i"))
    GraftStore.register("conf_once", schema, rows, shardKey = Some("id"),
      numSegments = segments, payloadDir = Some(dir))
    val paths = GraftStore.get("conf_once").segments.flatMap(_.payload match {
      case p: GraftStore.ParquetRows => p.paths
      case other => fail(s"expected a disk payload, got $other")
    })
    assert(paths.size >= segments, s"${paths.size} segment files")
    paths
  }

  test("a columnar graft-store scan builds no Configuration per segment") {
    table
    val df = spark.read.format("graft-store").option("name", "conf_once").load()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"disk scan must take the columnar path:\n$plan")
    ConfRegistryProbe.reset()
    val rows = df.queryExecution.toRdd
      .mapPartitions(it => Iterator(it.map { _ => ConfRegistryProbe.poll(); 1L }.sum))
      .sum().toLong
    val created = ConfRegistryProbe.count
    assert(rows == segments * 4L)
    assert(created <= 2, s"$created Configurations built to scan $segments segment files")
  }

  test("GraftParquet.openIterator builds no Configuration per segment") {
    val paths = table
    ConfRegistryProbe.reset()
    val it = GraftParquet.openIterator(paths, schema)
    var rows = 0L
    try it.foreach { _ => ConfRegistryProbe.poll(); rows += 1 }
    finally it.close()
    val created = ConfRegistryProbe.count
    assert(rows == segments * 4L)
    assert(created <= 2, s"$created Configurations built to read ${paths.size} segment files")
  }
}
