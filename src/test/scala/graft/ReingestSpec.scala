package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Chunking
import graft.pipeline.{Fixtures, MuseumPipeline}

/** Running E1 twice over the same objects stores every file twice under
  * one id (ids derive from objectID and primaryImage, X3). E2 must still
  * see one file per id and one chunk per ordinal. */
class ReingestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("re-ingesting the same objects: one file per id, each image transformed once") {
    val runs = (1 to 2).map(_ =>
      MuseumPipeline.ingest(Fixtures.metObjects(spark), Fixtures.images(spark)))
    val metadata = runs.map(_._1).reduce(_ union _)
    val files = runs.map(_._2).reduce(_ union _)
    val chunks = runs.map(_._3).reduce(_ union _)
    val (kept, victims) = MuseumPipeline.dedup(MuseumPipeline.clean(metadata))
    val (keptFiles, keptChunks) =
      MuseumPipeline.deleteFiles(files, chunks, victims.select("gridfs_file_id"))

    val fileIds = keptFiles.select("_id").collect().map(_.getString(0))
    assert(fileIds.length == 4 && fileIds.distinct.length == 4) // 101, 102, 103, 110

    // 103 spans three chunks, stored twice: the blob is one copy, not both interleaved
    val original = Fixtures.images(spark).filter(col("url") === "http://img/103.jpg")
      .select("bytes").head().getAs[Array[Byte]](0)
    val id103 = keptFiles.filter(col("filename") === "103.jpg").select("_id").head().getString(0)
    val blob103 = Chunking.reassemble(keptChunks).filter(col("files_id") === id103)
      .select("data").head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(blob103, original))

    val (updated, tFiles, _) = MuseumPipeline.transform(kept, keptFiles, keptChunks)
    val names = tFiles.select("filename").collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("101_transformed.jpg", "102_transformed.jpg", "103_transformed.jpg"))
    val rows = updated.select("object_id", "transformed_gridfs_file_id").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
    assert(rows.map(_._1).sorted.toSeq == Seq(101L, 102L, 103L, 110L))
    assert(rows.filter(_._2.isDefined).map(_._1).toSet == Set(101L, 102L, 103L))
  }
}
