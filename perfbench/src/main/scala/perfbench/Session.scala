package perfbench

import org.apache.spark.sql.SparkSession

/** The engine configuration every workload runs under: `graft.Bench`'s
  * session, pinned here so a change to the engine's own session builders
  * cannot silently change what the benchmark measures. Only the
  * scratch locations differ, and they point into the run's work dir. */
object Session {
  def build(cpus: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.customCostEvaluatorClass",
        "graft.plans.GraftCostEvaluator")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
