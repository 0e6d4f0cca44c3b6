package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.Memos

/** The two registry workloads: each op is one `SparkEntry.queries`
  * entry, timed from construction through planning and execution to its
  * digest, then checked against the expected digest. */
object Registry {

  /** `registry_warm`'s ops. Within each registry module, sorted by name
    * and without the curation family whose cold cost ROADMAP item 3
    * targets (q129, q165, q183, q214, q215, q221, q224, q227), every 12th
    * query (the 12th, 24th, ...). Fixed here, so a query added to the
    * registry later does not change the workload. */
  val WarmOps: Seq[String] = Seq(
    "q10_collect", "q182_mix_schedule",
    "q186_soft_temperature_mix", "q229_doremi_round2", "q24_cosine_topk",
    "q28_lang_id", "q35_sessionize", "q53_dedup_clusters", "q61_tpch_q18",
    "q94_tpch_q12")

  /** `curation_cold`'s ops: the two funnel chains of the family, q215
    * (v4 chain with per-stage attrition) and q224 (the v5 chain's). */
  val ColdOps: Seq[String] = Seq("q215_curation_funnel", "q224_curation_funnel_v5")

  /** `registry_warm`'s traced-only op: q172, the cheapest of the three
    * queries that reach `graft.streaming`. Its drained stream is memoized
    * per session, so it runs in a new session of the shared context,
    * which replays the micro-batches inside the op. */
  val StreamOp = "q172_image_stream_dedup"

  def digests(file: String): Map[String, String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
  }

  def op(dir: String, expected: Map[String, String], trace: Trace, fresh: Boolean = false)
        (name: String): Op =
    Op(name, ctx => {
      val spark = if (!fresh) ctx.spark else {
        val s = ctx.spark.newSession()
        trace.watchStreams(s)
        s
      }
      val df = ctx.phase("build") { SparkEntry.queries(name)(spark, dir) }
      val d = ctx.phase("plan") {
        val d = Digest.frame(df)
        d.queryExecution.executedPlan
        d
      }
      val got = ctx.phase("exec") { Digest.render(d.collect()(0)) }
      if (trace.on) ctx.extra ++= trace.planning(d.queryExecution)
      val ok = expected.get(name).contains(got)
      if (!ok) System.err.println(s"[perfbench] $name digest $got, expected ${expected.getOrElse(name, "none")}")
      ok
    })

  final class Workload(ops: Seq[String], dataDir: String,
                       warmDir: String, expected: Map[String, String],
                       val cold: Boolean, seed: Long,
                       trace: Trace) extends perfbench.Workload {
    private val mk = op(dataDir, expected, trace) _

    /** Untimed passes: at the measured scale for the warm workload (so
      * memos, codegen cache and table frames serve, and the JIT has seen
      * every query more than once), at the warm-up scale for the cold
      * one (JIT and codegen only, no measured-scale memo survives). */
    def setup(spark: SparkSession): Unit = for (n <- ops) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try Digest.of(SparkEntry.queries(n)(spark, warmDir))
      catch { case scala.util.control.NonFatal(e) => System.err.println(s"[perfbench] warm-up $n: $e") }
      System.err.println(f"[perfbench] warm-up $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (cold) Memos.clearAll()
    }

    def passOps(pass: Int): Seq[Op] =
      new Random(seed * 1000003L + pass).shuffle(ops).map(mk)

    override def tracedOnly: Seq[Op] =
      if (cold) Seq.empty else Seq(op(dataDir, expected, trace, fresh = true)(StreamOp))

    override def beforeOp(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      if (cold) Memos.clearAll()
    }
  }
}
