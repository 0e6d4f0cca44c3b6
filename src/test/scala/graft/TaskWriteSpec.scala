package graft

import java.nio.file.Files

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.GraftStore

/** Catalog/DSv2 batch writes into a disk-backed collection land from
  * the write tasks: each task streams its partition into one segment
  * file and reports only that file's manifest entry; the driver installs
  * the entries. These tests pin what that means: no rows travel as task
  * results, a small write does not fan out into one file per row, a
  * sharded write still lands pruning range segments, and a failed write
  * leaves the collection, the vacuum pins and the payload dir as they
  * were. */
class TaskWriteSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.v2.GraftCatalog")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    s
  }

  private def diskTable(t: String, ddl: String, extra: String = "",
                        props: String = ""): String = {
    val dir = Files.createTempDirectory("graft_taskwrite").toString
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.lake.$t")
    spark.sql(s"CREATE TABLE graft_cat.lake.$t ($ddl) $extra " +
      s"TBLPROPERTIES ('payload'='disk', 'payload.dir'='$dir'$props)")
    dir
  }

  private def filesUnder(d: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(d))
  }

  private def livePaths(name: String): Set[String] =
    GraftStore.get(name).segments.flatMap(_.payload match {
      case p: GraftStore.ParquetRows => p.paths
      case _ => Nil
    }).map(p => new java.io.File(p.stripPrefix("file:")).getCanonicalPath).toSet

  /** Task result bytes of every job `body` runs, from the listener bus. */
  private def taskResultBytes(body: => Unit): Long = {
    val group = s"taskwrite-${System.nanoTime()}"
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add(e.jobId); e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.resultSize)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "task-landed write")
      try body finally spark.sparkContext.clearJobGroup()
      // the bus delivers a job's task ends before its job end
      val deadline = System.currentTimeMillis() + 30000
      while ((jobs.isEmpty || !ended.containsAll(jobs)) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(!jobs.isEmpty && ended.containsAll(jobs), "write jobs never ended on the bus")
    } finally spark.sparkContext.removeSparkListener(listener)
    bytes.get()
  }

  test("disk writes land from the tasks: no rows shipped, one segment per task, not per row") {
    diskTable("tw_small", "id BIGINT, blob BINARY")
    val blobBytes = 200000
    // 5 rows from 2 partitions, each row carrying a 200 KB payload
    val df = spark.range(0, 5, 1, 2)
      .selectExpr("id", s"cast(repeat(cast(id AS string), $blobBytes) AS binary) AS blob")
    val shipped = taskResultBytes(df.writeTo("graft_cat.lake.tw_small").append())
    assert(shipped < blobBytes,
      s"write tasks must report manifest entries, not rows: $shipped result bytes")
    val segs = GraftStore.get("lake.tw_small").segments
    assert(segs.size == 2 && segs.map(_.count) == Vector(2L, 3L),
      s"one segment per write task: ${segs.map(_.count)}")
    assert(segs.forall(s => s.payload.isInstanceOf[GraftStore.ParquetRows] && s.bytes > 0L))
    val back = spark.table("graft_cat.lake.tw_small").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1).toSeq
    assert(back == (0L until 5L).map(i => (i, Seq.fill(blobBytes)(i.toString.head.toByte))))
    // a second append adds tail segments; the first two survive by reference
    spark.range(5, 8, 1, 1).selectExpr("id", "cast('x' AS binary) AS blob")
      .writeTo("graft_cat.lake.tw_small").append()
    val after = GraftStore.get("lake.tw_small").segments
    assert(after.size == 3 && after.take(2).zip(segs).forall { case (a, b) => a.payload eq b.payload })
    spark.sql("DROP TABLE graft_cat.lake.tw_small")
  }

  test("a write from many tasks adds at most DefaultSegments segments, blooms intact") {
    Seq("eager" -> "", "lazy" -> ", 'bloom.mode' = 'lazy'").foreach { case (mode, extraProps) =>
      diskTable("tw_wide", "id BIGINT, k STRING", props = s", 'bloom.columns' = 'k:100'$extraProps")
      def write(from: Long, until: Long): Unit =
        spark.range(from, until, 1, 20).selectExpr("id", "md5(cast(id AS string)) AS k")
          .writeTo("graft_cat.lake.tw_wide").append()
      write(0, 60) // the first layout, from 20 tasks
      val first = GraftStore.get("lake.tw_wide").segments
      write(60, 160) // a tail append, from 20 tasks
      val after = GraftStore.get("lake.tw_wide").segments
      val files = after.map(_.payload.asInstanceOf[GraftStore.ParquetRows].paths.size)
      assert(first.size <= GraftStore.DefaultSegments &&
        after.size - first.size <= GraftStore.DefaultSegments && files.sum == 40,
        s"$mode: segments per write must stay bounded: ${first.size}, then $files")
      assert(after.take(first.size).zip(first).forall { case (a, b) => a.payload eq b.payload })
      assert(after.map(_.count).sum == 160L && after.forall(_.blooms.contains("k")))
      // spark.range gives each task a contiguous id span, so a
      // segment's id zone is the span of its files
      val tail = after.drop(first.size)
      assert(tail.head.zones("id") == ((60L, 74L)), s"$mode: ${tail.map(_.zones("id"))}")
      assert(spark.table("graft_cat.lake.tw_wide").select("id").collect().map(_.getLong(0))
        .sorted.toSeq == (0L until 160L))
      val probe = spark.sql("SELECT md5(cast(123 AS string))").head().getString(0)
      GraftStore.resetCounters()
      assert(spark.sql(s"SELECT id FROM graft_cat.lake.tw_wide WHERE k = '$probe'")
        .collect().map(_.getLong(0)).toSeq == Seq(123L))
      assert(GraftStore.segmentsSkipped.get() > 0, s"$mode: the blooms of multi-file segments must skip")
      spark.sql("DROP TABLE graft_cat.lake.tw_wide")
    }
  }

  test("INSERT into a PARTITIONED BY disk table lands range segments that prune") {
    diskTable("tw_part", "id BIGINT, v STRING", "PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft_cat.lake.tw_part SELECT id, cast(id AS string) FROM range(400)")
    val segs = GraftStore.get("lake.tw_part").segments
    assert(segs.size > 1 && segs.forall(_.payload.isInstanceOf[GraftStore.ParquetRows]))
    // each task's file covers a contiguous key span, in segment order
    val spans = segs.map(_.zones("id"))
    assert(spans.zip(spans.tail).forall { case ((_, hi), (lo, _)) =>
      hi.asInstanceOf[Long] < lo.asInstanceOf[Long] }, s"overlapping spans: $spans")
    GraftStore.resetCounters()
    assert(spark.sql("SELECT count(*) FROM graft_cat.lake.tw_part WHERE id < 40")
      .head().getLong(0) == 40L)
    assert(GraftStore.segmentsSkipped.get() > 0, "zone maps must prune the INSERTed segments")
    spark.sql("DROP TABLE graft_cat.lake.tw_part")
  }

  test("a failed write changes nothing, unpins its generation dir, and vacuum reclaims it") {
    val dir = diskTable("tw_abort", "id BIGINT, v STRING")
    spark.range(0, 3, 1, 1).selectExpr("id", "cast(id AS string) AS v")
      .writeTo("graft_cat.lake.tw_abort").append()
    val before = GraftStore.get("lake.tw_abort").segments
    val version = GraftStore.currentVersion("lake.tw_abort")
    val dirsBefore = new java.io.File(dir).listFiles().toSet
    val boom = udf((x: Long) => if (x == 8L) throw new IllegalStateException("boom") else x)
    intercept[SparkException] {
      spark.range(3, 10, 1, 2).select(boom(col("id")).as("id"), col("id").cast("string").as("v"))
        .writeTo("graft_cat.lake.tw_abort").append()
    }
    assert(GraftStore.get("lake.tw_abort").segments eq before)
    assert(GraftStore.currentVersion("lake.tw_abort") == version)
    val root = new java.io.File(dir).getCanonicalPath
    assert(!GraftStore.pinnedDirs.exists(_.startsWith(root)),
      s"the failed write left its generation dir pinned: ${GraftStore.pinnedDirs}")
    // the failed write's generation dir: a task opened its file there
    val live = livePaths("lake.tw_abort")
    val failedDirs = new java.io.File(dir).listFiles().toSet -- dirsBefore
    assert(failedDirs.size == 1 && failedDirs.forall(d =>
      d.isDirectory && !filesUnder(d.getPath).exists(f => live(f.getCanonicalPath))),
      s"generation dirs: ${new java.io.File(dir).listFiles().toSeq}")
    // what a task that died before reporting would leave behind
    Files.write(new java.io.File(failedDirs.head, "seg-p9-t99.parquet").toPath, Array[Byte](1, 2, 3))
    val vac = spark.sql("CALL graft_cat.system.vacuum(tbl => 'lake.tw_abort', keep_last => 1)").head()
    assert(vac.getInt(1) >= 1, s"vacuum must reclaim the unpinned leftovers: $vac")
    assert(filesUnder(dir).map(_.getCanonicalPath).toSet == live)
    assert(spark.table("graft_cat.lake.tw_abort").count() == 3L)
    spark.sql("DROP TABLE graft_cat.lake.tw_abort")
  }
}
