package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.GraftStore

/** SQL surface over the store through the V2 catalog plugin
  * ([[graft.sources.v2.GraftCatalog]]): DDL/DML address collections as
  * `graft_cat.<ns>.<table>`, and everything resolves to the same
  * GraftStoreTable the path-based API uses — so pruning/pushdown and
  * the two-phase write protocol apply to SQL traffic unchanged. */
class GraftCatalogSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.v2.GraftCatalog")
    s
  }

  test("SQL DDL/DML: create (partitioned), insert, select, show, rename, drop") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("CREATE TABLE graft_cat.lake.t (id BIGINT, v STRING) PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft_cat.lake.t VALUES (3, 'c'), (1, 'a'), (2, 'b')")
    val got = spark.sql("SELECT id, v FROM graft_cat.lake.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // PARTITIONED BY (id) became the store shard key
    assert(GraftStore.get("lake.t").shardKey.contains("id"))
    assert(spark.sql("SHOW TABLES IN graft_cat.lake").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql("ALTER TABLE graft_cat.lake.t RENAME TO lake.t2")
    assert(spark.sql("SELECT count(*) FROM graft_cat.lake.t2")
      .collect()(0).getLong(0) == 3)
    spark.sql("DROP TABLE graft_cat.lake.t2")
    assert(!GraftStore.exists("lake.t2") && !GraftStore.exists("lake.t"))
  }

  test("SQL DELETE deletes exactly the claimed predicate; unclaimable predicates are rejected loudly") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("CREATE TABLE graft_cat.lake.del (id BIGINT, v STRING) PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft_cat.lake.del SELECT id, cast(id AS string) FROM range(100)")
    spark.sql("DELETE FROM graft_cat.lake.del WHERE id >= 10 AND id < 30")
    val left = spark.sql("SELECT id FROM graft_cat.lake.del ORDER BY id").collect().map(_.getLong(0))
    assert(left.length == 80 && !left.exists(i => i >= 10 && i < 30))
    // layout survives the rewrite: still sharded, zone maps still prune
    assert(GraftStore.get("lake.del").shardKey.contains("id"))
    GraftStore.resetCounters()
    spark.sql("SELECT count(*) FROM graft_cat.lake.del WHERE id >= 90").collect()
    assert(GraftStore.segmentsSkipped.get() > 0)
    // a predicate the store can't evaluate exactly can't use the fast
    // metadata delete — it falls back to the copy-on-write row-level
    // rewrite and must still delete EXACTLY
    spark.sql("DELETE FROM graft_cat.lake.del WHERE v LIKE '%1%'")
    val after = spark.sql("SELECT id FROM graft_cat.lake.del ORDER BY id")
      .collect().map(_.getLong(0)).toSet
    val expected = left.toSet.filterNot(_.toString.contains("1"))
    assert(after == expected,
      s"row-level DELETE must drop exactly the LIKE matches; diff=${after.diff(expected) ++ expected.diff(after)}")
    spark.sql("DROP TABLE graft_cat.lake.del")
  }

  test("SQL UPDATE and MERGE via copy-on-write row-level operations") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    // rowlevel=group pins the copy-on-write strategy (delta is default)
    spark.sql("CREATE TABLE graft_cat.lake.up (id BIGINT, v STRING) " +
      "PARTITIONED BY (id) TBLPROPERTIES ('rowlevel'='group')")
    spark.sql("INSERT INTO graft_cat.lake.up SELECT id, cast(id AS string) FROM range(100)")

    spark.sql("UPDATE graft_cat.lake.up SET v = 'X' WHERE id < 10")
    val rows = spark.sql("SELECT id, v FROM graft_cat.lake.up ORDER BY id").collect()
    assert(rows.length == 100, "UPDATE must not lose or duplicate rows")
    assert(rows.take(10).forall(_.getString(1) == "X"))
    assert(rows.drop(10).forall(r => r.getString(1) == r.getLong(0).toString),
      "non-matching rows must be untouched")
    // layout survives the copy-on-write
    assert(GraftStore.get("lake.up").shardKey.contains("id"))
    // GROUP PRUNING: the narrow condition touches one of the 8 range
    // segments, so runtime group filtering must confine the rewrite —
    // only the matching segment(s) get replaced, not the table
    val replaced = GraftStore.rowLevelSegmentsReplaced.get()
    assert(replaced < 8,
      s"narrow UPDATE must not rewrite every segment (replaced=$replaced)")

    // MERGE routes through the same operation: matched update + not-matched insert
    spark.sql(
      """MERGE INTO graft_cat.lake.up t
        |USING (SELECT id * 5 AS id, 'M' AS v FROM range(25)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val merged = spark.sql("SELECT id, v FROM graft_cat.lake.up ORDER BY id").collect()
    // source ids 0,5,...,120: 20 match (0..95 step 5), 5 insert (100..120 step 5)
    assert(merged.length == 105)
    assert(merged.filter(_.getLong(0) % 5 == 0).forall(_.getString(1) == "M"))
    assert(merged.filter(r => r.getLong(0) % 5 != 0 && r.getLong(0) >= 10)
      .forall(r => r.getString(1) == r.getLong(0).toString))
    spark.sql("DROP TABLE graft_cat.lake.up")
  }

  test("group MERGE with zero matched segments keeps every existing row") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("CREATE TABLE graft_cat.lake.nomatch (id BIGINT, v STRING) " +
      "PARTITIONED BY (id) TBLPROPERTIES ('rowlevel'='group')")
    spark.sql("INSERT INTO graft_cat.lake.nomatch " +
      "SELECT id, cast(id AS string) FROM range(100)")
    // every source id is beyond the table's range: the runtime group
    // filter prunes ALL segments (replacedIds empty), newRows carries
    // only the NOT-MATCHED inserts — the existing 100 rows must survive
    spark.sql(
      """MERGE INTO graft_cat.lake.nomatch t
        |USING (SELECT id + 1000 AS id, 'I' AS v FROM range(5)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val rows = spark.sql("SELECT id, v FROM graft_cat.lake.nomatch ORDER BY id").collect()
    assert(rows.length == 105,
      s"zero-matched-segment MERGE must keep existing rows (got ${rows.length})")
    assert(rows.take(100).forall(r => r.getString(1) == r.getLong(0).toString),
      "pre-existing rows must be untouched")
    assert(rows.drop(100).forall(r => r.getString(1) == "I" && r.getLong(0) >= 1000),
      "not-matched inserts must land")
    spark.sql("DROP TABLE graft_cat.lake.nomatch")
  }

  test("delta row-level operations ship O(changed rows), not segments") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    // default strategy IS delta — no property needed
    spark.sql("CREATE TABLE graft_cat.lake.dl (id BIGINT, v STRING) PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft_cat.lake.dl SELECT id, cast(id AS string) FROM range(100)")
    val segs = GraftStore.get("lake.dl").segments.size
    assert(segs == 8)

    // a 1-row UPDATE ships exactly 1 row through the write path
    spark.sql("UPDATE graft_cat.lake.dl SET v = 'X' WHERE id = 42")
    assert(GraftStore.rowLevelRowsShipped.get() == 1,
      s"1-row delta UPDATE must ship 1 row, shipped=${GraftStore.rowLevelRowsShipped.get()}")
    val rows = spark.sql("SELECT id, v FROM graft_cat.lake.dl ORDER BY id").collect()
    assert(rows.length == 100, "UPDATE must not lose or duplicate rows")
    assert(rows(42).getString(1) == "X")
    assert(rows.filter(_.getLong(0) != 42)
      .forall(r => r.getString(1) == r.getLong(0).toString),
      "non-matching rows must be untouched")
    // layout survives the delta commit
    assert(GraftStore.get("lake.dl").shardKey.contains("id"))
    assert(GraftStore.get("lake.dl").segments.size == segs)

    // MERGE: 20 matched updates + 5 not-matched inserts = 25 shipped
    spark.sql(
      """MERGE INTO graft_cat.lake.dl t
        |USING (SELECT id * 5 AS id, 'M' AS v FROM range(25)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    assert(GraftStore.rowLevelRowsShipped.get() == 25,
      s"MERGE must ship matched+inserted rows only, shipped=${GraftStore.rowLevelRowsShipped.get()}")
    val merged = spark.sql("SELECT id, v FROM graft_cat.lake.dl ORDER BY id").collect()
    assert(merged.length == 105)
    assert(merged.filter(_.getLong(0) % 5 == 0).forall(_.getString(1) == "M"))
    assert(merged.filter(r => r.getLong(0) % 5 != 0 && r.getLong(0) != 42)
      .forall(r => r.getString(1) == r.getLong(0).toString))

    // matched DELETE through the delta path stays exact
    spark.sql(
      """MERGE INTO graft_cat.lake.dl t
        |USING (SELECT id * 10 AS id FROM range(11)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val afterDel = spark.sql("SELECT id FROM graft_cat.lake.dl ORDER BY id")
      .collect().map(_.getLong(0))
    assert(afterDel.length == 94 && !afterDel.exists(i => i % 10 == 0 && i <= 100),
      "matched-delete must drop exactly the matched ids")
    spark.sql("DROP TABLE graft_cat.lake.dl")
  }

  test("TRUNCATE TABLE empties the collection but keeps it addressable") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("CREATE TABLE graft_cat.lake.tr (id BIGINT, v STRING) PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft_cat.lake.tr SELECT id, cast(id AS string) FROM range(40)")
    spark.sql("TRUNCATE TABLE graft_cat.lake.tr")
    assert(spark.sql("SELECT count(*) FROM graft_cat.lake.tr").collect()(0).getLong(0) == 0)
    // still writable after the truncate
    spark.sql("INSERT INTO graft_cat.lake.tr VALUES (1, 'a')")
    assert(spark.sql("SELECT count(*) FROM graft_cat.lake.tr").collect()(0).getLong(0) == 1)
    spark.sql("DROP TABLE graft_cat.lake.tr")
  }

  test("catalog functions: engine kernels are SQL-addressable and match the expression path") {
    // hash48 ≡ the portable md5-prefix hash the oracle twins use
    val viaCatalog = spark.sql("SELECT graft_cat.fns.hash48('hello') AS h")
      .collect()(0).getLong(0)
    val viaExpr = spark.sql(
      s"SELECT ${graft.functions.Portable.sparkHash48("'hello'")} AS h")
      .collect()(0).getLong(0)
    assert(viaCatalog == viaExpr)
    // cosine6: parallel vectors → 1.0; orthogonal → 0.0
    val cs = spark.sql(
      """SELECT graft_cat.fns.cosine6(array(1D, 2D), array(2D, 4D)) AS a,
        |       graft_cat.fns.cosine6(array(1D, 0D), array(0D, 3D)) AS b""".stripMargin)
      .collect()(0)
    assert(cs.getDouble(0) == 1.0 && cs.getDouble(1) == 0.0)
    // distributed use over a store table
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("CREATE TABLE graft_cat.lake.fx (id BIGINT, t STRING) PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft_cat.lake.fx SELECT id, 'a b  c' FROM range(50)")
    val n = spark.sql(
      "SELECT sum(graft_cat.fns.token_count(t)) AS n FROM graft_cat.lake.fx")
      .collect()(0).getLong(0)
    assert(n == 150L)
    assert(spark.sql("SHOW FUNCTIONS IN graft_cat.fns").collect()
      .map(_.getString(0)).exists(_.endsWith("hash48")))
    spark.sql("DROP TABLE graft_cat.lake.fx")
  }

  test("streaming read through the catalog: readStream.table drains the collection") {
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("CREATE TABLE graft_cat.lake.ev (id BIGINT, v STRING) PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft_cat.lake.ev SELECT id, cast(id AS string) FROM range(300)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cat_ckpt").toString
    val q = spark.readStream.table("graft_cat.lake.ev")
      .groupBy().count()
      .writeStream.format("memory").queryName("cat_sink")
      .outputMode("complete").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(!q.isActive)
    assert(spark.table("cat_sink").collect()(0).getLong(0) == 300)
    spark.sql("DROP TABLE graft_cat.lake.ev")
  }

  test("writeTo appends through the catalog; catalog scans keep zone-map pruning") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("CREATE TABLE graft_cat.lake.rows (doc_id BIGINT, n BIGINT) PARTITIONED BY (doc_id)")
    (0L until 200L).map(i => (i, i * 2)).toDF("doc_id", "n")
      .writeTo("graft_cat.lake.rows").append()
    assert(GraftStore.get("lake.rows").shardKey.contains("doc_id"))
    GraftStore.resetCounters()
    val cnt = spark.sql(
      "SELECT count(*) FROM graft_cat.lake.rows WHERE doc_id < 25")
      .collect()(0).getLong(0)
    assert(cnt == 25)
    assert(GraftStore.segmentsSkipped.get() > 0,
      s"zone maps must prune catalog scans, skipped=${GraftStore.segmentsSkipped.get()}")
    spark.sql("DROP TABLE graft_cat.lake.rows")
  }

  test("VERSION AS OF: time travel over retained store generations") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.tt")
    spark.sql("CREATE TABLE graft_cat.lake.tt (id BIGINT, v STRING) PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft_cat.lake.tt SELECT id, 'first' FROM range(100)")
    val v1 = GraftStore.currentVersion("lake.tt")
    spark.sql("UPDATE graft_cat.lake.tt SET v = 'second' WHERE id < 50")
    val v2 = GraftStore.currentVersion("lake.tt")
    spark.sql("DELETE FROM graft_cat.lake.tt WHERE id >= 90")
    assert(v2 > v1)

    def count(q: String) = spark.sql(q).head().getLong(0)
    // live table reflects all three mutations
    assert(count("SELECT count(*) FROM graft_cat.lake.tt") == 90)
    // v1: after the INSERT, before the UPDATE
    assert(count(s"SELECT count(*) FROM graft_cat.lake.tt VERSION AS OF $v1") == 100)
    assert(count(s"SELECT count(*) FROM graft_cat.lake.tt VERSION AS OF $v1 WHERE v = 'second'") == 0)
    // v2: after the UPDATE, before the DELETE
    assert(count(s"SELECT count(*) FROM graft_cat.lake.tt VERSION AS OF $v2 WHERE v = 'second'") == 50)
    assert(count(s"SELECT count(*) FROM graft_cat.lake.tt VERSION AS OF $v2") == 100)

    // snapshots keep the scan stack: zone maps prune historical reads
    GraftStore.resetCounters()
    assert(count(s"SELECT count(*) FROM graft_cat.lake.tt VERSION AS OF $v1 WHERE id < 13") == 13)
    assert(GraftStore.segmentsSkipped.get() > 0,
      "snapshot scans must keep zone-map pruning")

    // the provider path reads the same snapshot by reserved name
    val viaProvider = spark.read.format("graft-store")
      .option("name", s"lake.tt@v$v1").load().count()
    assert(viaProvider == 100)

    // snapshots are read-only: a write against one fails loudly
    val ex = intercept[Exception] {
      spark.sql(s"DELETE FROM graft_cat.lake.tt VERSION AS OF $v1 WHERE id = 1")
    }
    // (Spark rejects DML-on-time-travel itself or the store does; either
    // way it must not silently land)
    assert(ex != null)
    assert(count("SELECT count(*) FROM graft_cat.lake.tt") == 90)

    // an evicted/unknown version is a loud error, never empty results
    val missing = intercept[Exception] {
      spark.sql("SELECT count(*) FROM graft_cat.lake.tt VERSION AS OF 9999").collect()
    }
    assert(missing.getMessage.contains("9999"))
    spark.sql("DROP TABLE graft_cat.lake.tt")
  }

  test("CALL system.history lists the retained generations, joinable to VERSION AS OF") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.h")
    spark.sql("CREATE TABLE graft_cat.lake.h (id BIGINT) PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft_cat.lake.h SELECT id FROM range(10)")
    spark.sql("INSERT INTO graft_cat.lake.h SELECT id + 10 FROM range(5)")
    val hist = spark.sql("CALL graft_cat.system.history(tbl => 'lake.h')").collect()
    assert(hist.length == 3, s"create + 2 inserts = 3 generations, got ${hist.length}")
    assert(hist.map(_.getLong(2)).toSeq == Seq(0L, 10L, 15L),
      "row counts must track the mutation history")
    // the version column feeds VERSION AS OF directly
    val v = hist(1).getLong(0)
    assert(spark.sql(s"SELECT count(*) FROM graft_cat.lake.h VERSION AS OF $v")
      .head().getLong(0) == 10)
    spark.sql("DROP TABLE graft_cat.lake.h")
  }

  test("TIMESTAMP AS OF resolves to the latest generation at that instant") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.ts")
    spark.sql("CREATE TABLE graft_cat.lake.ts (id BIGINT) PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft_cat.lake.ts SELECT id FROM range(10)")
    Thread.sleep(5) // distinct install instants
    val between = java.time.Instant.now()
    Thread.sleep(5)
    spark.sql("INSERT INTO graft_cat.lake.ts SELECT id + 100 FROM range(10)")
    def count(q: String) = spark.sql(q).head().getLong(0)
    assert(count("SELECT count(*) FROM graft_cat.lake.ts") == 20)
    val tsLit = java.sql.Timestamp.from(between).toString
    assert(count(
      s"SELECT count(*) FROM graft_cat.lake.ts TIMESTAMP AS OF '$tsLit'") == 10,
      "the snapshot between the inserts must see only the first batch")
    // predating the whole history errors loudly
    val early = intercept[Exception] {
      spark.sql("SELECT count(*) FROM graft_cat.lake.ts TIMESTAMP AS OF '1999-01-01 00:00:00'")
        .collect()
    }
    assert(early != null)
    spark.sql("DROP TABLE graft_cat.lake.ts")
  }

  test("writeStream.toTable: exactly-once into a catalog table across restart, layout kept") {
    import org.apache.spark.sql.streaming.Trigger
    val src = "cat_stream_src"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    GraftStore.drop(src)
    GraftStore.load(src, docs.where("doc_id < 300"),
      shardKey = Some("doc_id"), numSegments = 4)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.strm")
    spark.sql("""CREATE TABLE graft_cat.lake.strm
                |(doc_id BIGINT, text STRING, lang STRING, source STRING,
                | n_chars BIGINT) PARTITIONED BY (doc_id)""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cat_wckpt").toString

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-store")
        .option("name", src).option("batchrows", "64").load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("graft_cat.lake.strm")
      q.awaitTermination(60000)
      assert(!q.isActive)
    }

    runOnce()
    assert(spark.table("graft_cat.lake.strm").count() ==
      docs.where("doc_id < 300").count(),
      "every source row lands through the catalog exactly once")

    // tail-append the source, restart from the same checkpoint: only the
    // delta commits (the epoch ledger makes re-delivery a no-op)
    GraftStore.append(src, docs.schema,
      docs.where("doc_id >= 300 AND doc_id < 400").collect().toIndexedSeq,
      numSegments = 4)
    runOnce()
    val got = spark.table("graft_cat.lake.strm").orderBy("doc_id").collect()
    val want = docs.where("doc_id < 400").orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq,
      "exactly-once across restart: no lost and no duplicated rows")

    // the streamed table keeps the shard-key layout the DDL declared, so
    // zone maps prune catalog scans over streamed data
    assert(GraftStore.get("lake.strm").shardKey.contains("doc_id"),
      "streaming write through the catalog must not strip the layout")
    GraftStore.resetCounters()
    spark.sql("SELECT count(*) FROM graft_cat.lake.strm WHERE doc_id < 25").collect()
    assert(GraftStore.segmentsSkipped.get() > 0,
      s"zone maps must prune streamed catalog tables, skipped=${GraftStore.segmentsSkipped.get()}")
    spark.sql("DROP TABLE graft_cat.lake.strm")
    GraftStore.drop(src)
  }

  test("INSERT OVERWRITE keeps a DDL table's nullability; a later append of nulls lands") {
    overwriteKeepsNullability("")
  }

  test("INSERT OVERWRITE keeps a disk table's nullability; a later append of nulls lands") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ow").toString
    overwriteKeepsNullability(s"TBLPROPERTIES ('payload'='disk', 'payload.dir'='$dir')")
    assert(new java.io.File(dir).list().nonEmpty, "the disk table's writes must land in its dir")
  }

  private def overwriteKeepsNullability(props: String): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql(s"CREATE TABLE graft_cat.lake.ow (id BIGINT, v STRING) $props")
    // a frame whose own schema is non-null in both columns
    val nonNull = spark.range(3).selectExpr("id", "cast(id AS string) AS v")
    assert(!nonNull.schema.exists(_.nullable))
    nonNull.createOrReplaceTempView("ow_src")
    spark.sql("INSERT OVERWRITE graft_cat.lake.ow SELECT id, v FROM ow_src")
    assert(GraftStore.get("lake.ow").schema.forall(_.nullable),
      s"overwrite narrowed the DDL schema: ${GraftStore.get("lake.ow").schema}")
    spark.sql("INSERT INTO graft_cat.lake.ow VALUES (7, NULL), (NULL, 'x')")
    val got = spark.sql("SELECT id, v FROM graft_cat.lake.ow").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(got == Set[(Option[Any], Option[Any])](
      (Some(0L), Some("0")), (Some(1L), Some("1")), (Some(2L), Some("2")),
      (Some(7L), None), (None, Some("x"))))
    spark.sql("DROP TABLE graft_cat.lake.ow")
  }
}
