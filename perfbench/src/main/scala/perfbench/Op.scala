package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What an op may do while it is timed: split itself into phases, each
  * with its own job group (so Spark jobs are attributed to the phase
  * that started them) and, in the traced run, its own span. Nested
  * spans (e.g. one store write inside a pipeline phase) keep the
  * enclosing phase's job group. */
final class OpCtx(val spark: SparkSession, trace: Trace, val op: Int, opSpan: Int) {
  val phases = mutable.LinkedHashMap.empty[String, Int]
  val phaseNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stack = mutable.Stack[Int](opSpan)

  def phase[T](name: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(s"op$op.$name", name, interruptOnCancel = false)
    timed(name, keep = true)(body)
  }

  /** A timed child of the innermost open span; `phaseNs` sums by name. */
  def span[T](name: String)(body: => T): T = timed(name, keep = false)(body)

  private def timed[T](name: String, keep: Boolean)(body: => T): T = {
    val s = trace.now
    val id = if (trace.on) trace.add(stack.top, name, op, s, s) else -1
    if (keep && trace.on) phases(name) = id
    stack.push(id)
    try body
    finally {
      stack.pop()
      val e = trace.now
      phaseNs(name) += e - s
      if (trace.on) trace.close(id, e)
    }
  }

  /** Extra per-op numbers an op reports (store counters, kernel timings). */
  val extra = mutable.Map.empty[String, Double]
}

/** One unit of timed work. `run` returns whether the op's output checks
  * passed; an exception counts as a failed op too. */
final case class Op(name: String, run: OpCtx => Boolean)
