package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** E2 decodes each image once: `transform` materializes the kernel
  * relation, and its three outputs read the materialized rows instead of
  * re-planning the reassembly and the image UDF per write. E1 likewise
  * materializes the fetched rows once. */
class MuseumTransformOnceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val inputs = {
    val (metadata, files, chunks) =
      MuseumPipeline.ingest(Fixtures.metObjects(spark), Fixtures.images(spark))
    val (kept, victims) = MuseumPipeline.dedup(MuseumPipeline.clean(metadata))
    val (keptFiles, keptChunks) =
      MuseumPipeline.deleteFiles(files, chunks, victims.select("gridfs_file_id"))
    (kept, keptFiles, keptChunks)
  }
  private lazy val (updated, tFiles, tChunks) =
    MuseumPipeline.transform(inputs._1, inputs._2, inputs._3)

  /** Image-UDF calls in the optimized plan, over every operator. */
  private def kernelCalls(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case node =>
      node.expressions.map(_.collect {
        case u: ScalaUDF if u.udfName.contains("transformImage") => u
      }.size).sum
    }.sum

  test("no output of transform re-plans the image kernel") {
    Seq("updated" -> updated, "tFiles" -> tFiles, "tChunks" -> tChunks).foreach {
      case (name, df) => assert(kernelCalls(df) == 0, s"$name:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("the materialized kernel relation evaluates the image UDF once per row") {
    val kernel = MuseumPipeline.kernel(inputs._1, inputs._2, inputs._3)
    assert(kernelCalls(kernel) == 1, kernel.queryExecution.optimizedPlan.toString)
  }

  test("ingest's materialized limit is a top-k, not a global sort of the images") {
    val plan = MuseumPipeline.fetch(Fixtures.metObjects(spark), Fixtures.images(spark), 20)
      .queryExecution.sparkPlan
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty, plan.toString)
    assert(plan.collect { case s: SortExec if s.global => s }.isEmpty, plan.toString)
  }

  test("files, chunks and lineage name the same transformed images") {
    import spark.implicits._
    val expected = Seq(101L, 102L, 103L).toDF("object_id")
      .select(MuseumPipeline.hexId(concat(col("object_id"), lit("_transformed"))))
      .collect().map(_.getString(0)).toSet
    val fileIds = tFiles.select("_id").collect().map(_.getString(0))
    assert(fileIds.length == fileIds.distinct.length && fileIds.toSet == expected)
    assert(tChunks.select("files_id").distinct().collect().map(_.getString(0)).toSet == expected)
    val lineage = updated.filter(col("transformed_gridfs_file_id").isNotNull)
      .select("object_id", "transformed_gridfs_file_id").collect()
    assert(lineage.map(_.getString(1)).toSet == expected)
    assert(lineage.map(_.getLong(0)).toSet == Set(101L, 102L, 103L)) // 110 is undecodable
  }
}
