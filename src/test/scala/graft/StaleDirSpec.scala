package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

/** A data directory rewritten in place mid-session: every memo keyed on
  * it (the scan frames, the shared type-count frame) must notice the
  * new contents and rebuild, so a repeat query answers exactly what a
  * fresh session answers on the rewritten directory. */
class StaleDirSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  // the repository's committed copy of the sf0.001 testdata
  private val source = Paths.get("perfbench/data/sf0.001").toAbsolutePath

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a memoized query over a rewritten data dir equals a fresh session's") {
    val dir: Path = Files.createTempDirectory("graft_stale_dir")
    Files.list(source).forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val q = SparkEntry.queries("q179_domain_reweight")
    val before = rows(q(spark, dir.toString))
    assert(rows(q(spark, dir.toString)) == before, "a repeat run is served")

    // overwrite documents.parquet with a strict subset of its rows
    val docs = dir.resolve("documents.parquet")
    val tmp = Files.createTempDirectory("graft_stale_subset").resolve("out")
    spark.read.parquet(docs.toString).where("doc_id % 3 <> 0")
      .coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, docs, StandardCopyOption.REPLACE_EXISTING)

    val after = rows(q(spark, dir.toString))
    val fresh = rows(q(spark.newSession(), dir.toString))
    assert(fresh != before, "the subset must change the answer")
    assert(after == fresh)
  }
}
