package perfbench

import org.apache.spark.sql.SparkSession

/** A workload: untimed set-up, then passes of ops in a closed loop. */
trait Workload {
  /** Untimed input generation, before the session exists; seconds spent. */
  def generate(): Double = 0.0
  def setup(spark: SparkSession): Unit
  def beforePass(spark: SparkSession, pass: Int): Unit = ()
  def passOps(pass: Int): Seq[Op]
  def beforeOp(spark: SparkSession): Unit = ()
  /** Persisted RDDs that hold the harness's own inputs, left out of
    * `pinned_mb` so it counts only what the engine keeps. */
  def harnessRdds: Set[Int] = Set.empty
  /** Ops only the traced run makes, once warm and once traced, after its
    * passes: layers whose cost the timed passes cannot afford. They
    * count in `attempted` and `failed` but in no timing. */
  def tracedOnly: Seq[Op] = Seq.empty
  /** Traced run only: untimed per-op extras, by the op's index in its pass. */
  def afterOp(index: Int): Map[String, Double] = Map.empty
  /** End-of-run numbers beyond the common ones (museum: throughput,
    * space amplification), given the pass times. */
  def finish(spark: SparkSession, passSeconds: Seq[Double]): Map[String, Double] = Map.empty
}
