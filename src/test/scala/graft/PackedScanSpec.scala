package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftPackedPartition, GraftReaderFactory, GraftStore}

/** Scans of a disk-backed collection pack consecutive small segments
  * into one read task (Spark's file-packing rule over the manifest's
  * recorded bytes). Packing must change the task count and nothing
  * else: every answer below is compared against the same scan with
  * `spark.sql.files.maxPartitionBytes=1`, which leaves one segment per
  * task. */
class PackedScanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val name = "packed_docs"
  // the repo's committed copy of sf0.001, read-only
  private lazy val docs = Tables.documents(spark,
    java.nio.file.Paths.get("perfbench/data/sf0.001").toAbsolutePath.toString)
    .select("doc_id", "lang", "n_chars")

  private lazy val loaded: Unit = {
    GraftStore.drop(name)
    GraftStore.loadDisk(name, docs, "doc_id", 24,
      Files.createTempDirectory("graft_packed").toString)
  }

  private def read: DataFrame = {
    loaded
    spark.read.format("graft-store").option("name", name).load()
  }

  /** `body` under Spark session settings, restored after. */
  private def withConf[T](kv: (String, String))(body: => T): T = {
    spark.conf.set(kv._1, kv._2)
    try body finally spark.conf.unset(kv._1)
  }

  /** `q`'s sorted rows and its scan's task count, packed and unpacked. */
  private def both(q: => DataFrame): ((Seq[String], Int), (Seq[String], Int)) = {
    def run(): (Seq[String], Int) = {
      val df = q
      (df.collect().map(_.toString).toSeq.sorted, df.rdd.getNumPartitions)
    }
    val packed = run()
    (packed, withConf("spark.sql.files.maxPartitionBytes" -> "1")(run()))
  }

  test("packed scans answer exactly as one-segment-per-task scans, in fewer tasks") {
    loaded
    val segs = GraftStore.get(name).segments
    assert(segs.size >= 20 && segs.forall(_.bytes > 0L), s"${segs.size} segments")

    val ((rows, packedTasks), (rows1, tasks1)) =
      both(read.select(col("*"), col("_segment"), col("_pos")))
    assert(rows == rows1 && rows.size == docs.count())
    assert(tasks1 == segs.size && packedTasks < tasks1,
      s"packed $packedTasks tasks vs $tasks1 unpacked over ${segs.size} segments")

    val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0)
    val queries: Seq[(String, () => DataFrame)] = Seq(
      "pushed filter" -> (() => read.where(col("doc_id") % 7 === 3 && col("n_chars") > 100)
        .select("doc_id", "_segment", "_pos")),
      "limit" -> (() => read.limit(9).select(lit(1))),
      "asc top-k" -> (() => read.orderBy(col("doc_id")).limit(6).select("doc_id", "_pos")),
      "desc top-k" -> (() => read.orderBy(col("doc_id").desc).limit(6).select("doc_id", "_pos")),
      "runtime filter" -> (() => read.select("doc_id", "_segment").join(
        docs.where(col("doc_id") > maxId - 5).select(col("doc_id"), lit("d").as("tag")),
        "doc_id")))
    queries.foreach { case (what, q) =>
      val ((a, _), (b, _)) = both(q())
      assert(a == b && a.nonEmpty, s"$what: packed and unpacked scans differ")
    }
    // the runtime filter still prunes segments under packing
    GraftStore.resetCounters()
    queries.last._2().collect()
    assert(GraftStore.segmentsSkipped.get() > 0)
  }

  test("a packed task's row reader chains its members' rows and positions") {
    loaded
    val coll = GraftStore.get(name)
    val scan = SparkTestSession.collectExec(read.select(col("doc_id"), col("_segment"), col("_pos"))) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }.head
    val parts = scan.batch.planInputPartitions()
    val packed = parts.collectFirst { case p: GraftPackedPartition => p }
      .getOrElse(fail(s"no packed partition among ${parts.length}"))
    val factory = new GraftReaderFactory(coll.schema, scan.output.toStructType, Array.empty)
    def drain[T](r: org.apache.spark.sql.connector.read.PartitionReader[T])(f: T => Seq[Row]): Seq[Row] =
      try Iterator.continually(r.next()).takeWhile(identity).flatMap(_ => f(r.get())).toVector
      finally r.close()
    val rows = drain(factory.createReader(packed))(
      (r: InternalRow) => Seq(Row(r.getLong(0), r.getInt(1), r.getLong(2))))
    val cols = drain(factory.createColumnarReader(packed))(b =>
      (0 until b.numRows).map(i => Row(b.column(0).getLong(i), b.column(1).getInt(i),
        b.column(2).getLong(i))))
    assert(rows == cols && rows.map(_.getInt(1)).distinct == packed.members.map(_.segmentId))
    val want = read.where(col("_segment").isin(packed.members.map(_.segmentId): _*))
      .select(col("doc_id"), col("_segment"), col("_pos")).collect().toSeq
    assert(rows.sortBy(_.getLong(2)) == want.sortBy(_.getLong(2)))
  }

  test("a scan of enough bytes still spreads over every core, as Spark's file scans do") {
    loaded
    val n = GraftStore.get(name).segments.size
    val cores = spark.sparkContext.defaultParallelism
    // with a negligible open cost a scan's size is its bytes alone, and
    // the split shrinks to total bytes / parallelism
    val tasks = withConf("spark.sql.files.openCostInBytes" -> "1")(read.rdd.getNumPartitions)
    assert(tasks >= math.min(n, cores) && tasks < n, s"$tasks tasks over $n segments, $cores cores")
  }

  test("an ascending top-k over a tail append below the layout returns the smallest keys") {
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.v2.GraftCatalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.pk_tail")
    val dir = Files.createTempDirectory("graft_packed_tail").toString
    spark.sql("CREATE TABLE graft_cat.lake.pk_tail (id BIGINT, v STRING) PARTITIONED BY (id) " +
      s"TBLPROPERTIES ('payload'='disk', 'payload.dir'='$dir')")
    spark.sql("INSERT INTO graft_cat.lake.pk_tail VALUES (5, 'e'), (6, 'f')")
    spark.sql("INSERT INTO graft_cat.lake.pk_tail VALUES (0, 'a'), (1, 'b'), (2, 'c'), (3, 'd')")
    val segs = GraftStore.get("lake.pk_tail").segments
    assert(segs.size >= 2 && segs.last.zones("id")._1 == 0L, s"${segs.map(_.zones("id"))}")
    def topK(sql: String): (Seq[Long], Seq[org.apache.spark.sql.connector.read.InputPartition]) = {
      val df = spark.sql(sql)
      val scan = SparkTestSession.collectExec(df) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }.head
      (df.collect().map(_.getLong(0)).toSeq, scan.batch.planInputPartitions().toSeq)
    }
    // without a filter the scan plans the segment prefix covering k
    // rows, here every segment; with one it plans every survivor
    Seq("SELECT id FROM graft_cat.lake.pk_tail ORDER BY id LIMIT 3" -> Seq(0L, 1L, 2L),
        "SELECT id FROM graft_cat.lake.pk_tail WHERE id >= 0 ORDER BY id LIMIT 2" -> Seq(0L, 1L))
      .foreach { case (sql, want) =>
        // every segment in one task, then one segment per task
        val (packed, packedParts) = withConf("spark.sql.files.minPartitionNum" -> "1")(topK(sql))
        val (single, singleParts) = withConf("spark.sql.files.maxPartitionBytes" -> "1")(topK(sql))
        assert(packedParts.size == 1 && packedParts.head.isInstanceOf[GraftPackedPartition])
        assert(singleParts.size == segs.size)
        assert(packed == want && single == want, s"$sql: packed $packed, single $single")
      }
    spark.sql("DROP TABLE graft_cat.lake.pk_tail")
  }
}
