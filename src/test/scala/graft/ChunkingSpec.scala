package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Chunking

class ChunkingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def roundTrip(payload: Array[Byte], chunkSize: Int): Array[Byte] = {
    val df = Seq(("f1", payload)).toDF("_id", "data")
    val chunks = Chunking.split(df, "_id", "data", chunkSize)
    val out = Chunking.reassemble(chunks).collect()
    if (out.isEmpty) Array.emptyByteArray else out(0).getAs[Array[Byte]]("data")
  }

  test("chunk/reassemble is the identity on boundary sizes") {
    val size = 1000
    val rng = new scala.util.Random(42)
    for (n <- Seq(1, 999, 1000, 1001, 2000, 2001, 5003)) {
      val payload = new Array[Byte](n)
      rng.nextBytes(payload)
      assert(java.util.Arrays.equals(roundTrip(payload, size), payload), s"size $n")
    }
  }

  test("empty payload produces zero chunk rows") {
    val df = Seq(("f1", Array.emptyByteArray)).toDF("_id", "data")
    assert(Chunking.split(df, "_id", "data", 1000).count() == 0)
  }

  test("chunk count and sizes match GridFS invariant at the real chunk size") {
    val n = Chunking.GridFsChunkSize * 2 + 12345 // 3 chunks like the reference's multi-chunk files
    val payload = new Array[Byte](n)
    new scala.util.Random(7).nextBytes(payload)
    val df = Seq(("f1", payload)).toDF("_id", "data")
    val rows = Chunking.split(df, "_id", "data").orderBy("n")
      .select(col("n"), length(col("data")).as("len")).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    assert(rows.map(_.getInt(1)).toSeq == Seq(Chunking.GridFsChunkSize, Chunking.GridFsChunkSize, 12345))
    assert(java.util.Arrays.equals(roundTrip(payload, Chunking.GridFsChunkSize), payload))
  }

  test("gridfsPut emits a consistent files catalog + chunk rows") {
    val payload = new Array[Byte](2500)
    new scala.util.Random(1).nextBytes(payload)
    val df = Seq(("abc123", "42.jpg", payload)).toDF("_id", "filename", "data")
    val (files, chunks) = Chunking.gridfsPut(df, size = 1000)
    val f = files.collect()(0)
    assert(f.getAs[String]("filename") == "42.jpg")
    assert(f.getAs[Long]("length") == 2500L)
    assert(f.getAs[Int]("chunkSize") == 1000)
    val c = chunks.orderBy("n").collect()
    assert(c.map(_.getAs[String]("_id")).toSeq == Seq("abc123_0", "abc123_1", "abc123_2"))
    assert(c.map(_.getAs[Array[Byte]]("data").length).toSeq == Seq(1000, 1000, 500))
  }

  test("ReassembleBytes aggregator matches the expression reassembly") {
    val payload = new Array[Byte](3333)
    new scala.util.Random(3).nextBytes(payload)
    val df = Seq(("f1", payload)).toDF("_id", "data")
    val chunks = Chunking.split(df, "_id", "data", 1000)
    val agg = udaf(new Chunking.ReassembleBytes)
    val out = chunks.groupBy("files_id").agg(agg(col("n"), col("data")).as("data")).collect()
    assert(java.util.Arrays.equals(out(0).getAs[Array[Byte]]("data"), payload))
  }

  test("a repeated ordinal contributes one chunk, the same one in both reassemblies") {
    val payload = new Array[Byte](2500)
    new scala.util.Random(5).nextBytes(payload)
    payload(1000) = 1
    val chunks = Chunking.split(Seq(("f1", payload)).toDF("_id", "data"), "_id", "data", 1000)
    // the file stored twice, plus a differing copy of chunk 1 that sorts
    // after the original by unsigned bytes (0xff > 0x01) but before it
    // by signed ones
    val other = payload.slice(1000, 2000)
    other(0) = (-1).toByte
    val twice = chunks.union(chunks).union(Seq(("f1", 1, other)).toDF("files_id", "n", "data"))
    val viaExpr = Chunking.reassemble(twice).collect()
    assert(viaExpr.length == 1)
    assert(java.util.Arrays.equals(viaExpr(0).getAs[Array[Byte]]("data"), payload))
    val agg = udaf(new Chunking.ReassembleBytes)
    val viaAgg = twice.groupBy("files_id").agg(agg(col("n"), col("data")).as("data")).collect()
    assert(java.util.Arrays.equals(viaAgg(0).getAs[Array[Byte]]("data"), payload))
  }
}
