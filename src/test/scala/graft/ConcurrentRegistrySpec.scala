package graft

import java.nio.file.Paths
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** Registry queries that share memos (WordPiece, Unigram + BPE, the
  * type-count frame, IVF → semantic keep, the v4 stage frames) run on 8
  * threads in a fresh session, where every memo misses and the builds
  * race, and must return exactly what the same queries return run one
  * after another. */
class ConcurrentRegistrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  // the repository's committed copy of the sf0.001 testdata
  private val dir = Paths.get("perfbench/data/sf0.001").toAbsolutePath.toString
  private val names = Seq(
    "q174_wordpiece_tokenize", "q189_wordpiece_encode",
    "q180_unigram_viterbi", "q181_tokenizer_report",
    "q179_domain_reweight", "q187_doremi_exp", "q229_doremi_round2",
    "q159_semantic_dedup", "q214_curation_v4", "q215_curation_funnel")

  private def rows(s: org.apache.spark.sql.SparkSession, q: String): Seq[String] =
    SparkEntry.queries(q)(s, dir).collect().map(_.toString).toSeq.sorted

  test("memo-sharing registry queries agree run serially and on 8 racing threads") {
    val serial = names.map(q => q -> rows(spark, q)).toMap
    val fresh = spark.newSession()
    val pool = Executors.newFixedThreadPool(8)
    val racing = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(names)(q => Future(q -> rows(fresh, q))), 15.minutes).toMap
    } finally pool.shutdownNow()
    names.foreach(q => assert(racing(q) == serial(q), s"$q differs under concurrency"))
  }
}
