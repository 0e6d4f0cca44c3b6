package perfbench

import scala.collection.mutable

import org.apache.spark.{BusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One interval of the traced run. Times are nanoseconds since the run's
  * epoch; `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, op: Int, start: Long, end: Long,
                      label: String = "") {
  def dur: Long = end - start
}

/** Everything the traced run records, kept in memory and written out
  * when the run ends. Op spans and their phase children are taken on
  * the driver thread; Spark job and stage spans come from a
  * `SparkListener` and hang under the phase whose job group started the
  * job. Listener times have millisecond resolution, so job and stage
  * spans are clamped into their parent's interval.
  *
  * With tracing off every call here is a no-op apart from the clock, so
  * the untraced run pays nothing for it. */
final class Trace(val on: Boolean) {
  import Trace.{JobRec, StageRec}
  private val epochNs = System.nanoTime()
  private val epochMs = System.currentTimeMillis()
  def now: Long = System.nanoTime() - epochNs
  private def fromMs(ms: Long): Long = (ms - epochMs) * 1000000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  def add(parent: Int, name: String, op: Int, start: Long, end: Long, label: String = ""): Int = {
    val id = nextId; nextId += 1
    spans += Span(id, parent, name, op, start, end, label)
    id
  }
  def close(id: Int, end: Long): Unit = spans(id) = spans(id).copy(end = end)

  // ----------------------------------------------- listener-fed records

  final class TaskAgg {
    var tasks, failed = 0L
    var durMs, runMs, gcMs, fetchWaitMs = 0L
    var cpuNs = 0L
    var shuffleWrite, shuffleRead, spill, inBytes, inRows = 0L
    var peakMem = 0L
  }

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageDone = mutable.Map.empty[Int, StageRec]
  private val taskAgg = mutable.Map.empty[Int, TaskAgg] // by stage id
  private var streamBatches = 0L
  private var streamBatchMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs += JobRec(e.jobId, g, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      stageDone(i.stageId) = StageRec(i.stageId, i.name, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val a = taskAgg.getOrElseUpdate(e.stageId, new TaskAgg)
      a.tasks += 1
      if (e.reason != Success) a.failed += 1
      a.durMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        streamBatches += 1
        streamBatchMs += e.progress.batchDuration
      }
  }

  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(listener)
    watchStreams(spark)
  }

  /** Streaming listeners are per session: call for every session an op uses. */
  def watchStreams(spark: SparkSession): Unit = if (on) spark.streams.addListener(streamListener)

  // ----------------------------------------------------------- per op

  /** The layer numbers of one op; the run reports their means. */
  val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
  /** The same for the workload's traced-only ops. */
  val tracedOnly = mutable.ArrayBuffer.empty[Map[String, Double]]
  val maxima = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Planning phases and rule counters of the op's timed action. */
  def planning(qe: QueryExecution): Map[String, Double] = {
    val t = qe.tracker
    val ph = t.phases
    def phase(n: String) = ph.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    val graft = t.rules.filter(_._1.startsWith("graft.plans")).values
    Map(
      "plans.analysis_s" -> phase("analysis"),
      "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning"),
      "plans.graft_rule_s" -> graft.map(_.totalTimeNs).sum / 1e9,
      "plans.rule_invocations" -> t.rules.values.map(_.numInvocations).sum.toDouble,
      "plans.rule_effective" -> t.rules.values.map(_.numEffectiveInvocations).sum.toDouble)
  }

  /** Called after an op (untimed): drains the listener bus, hangs the
    * op's jobs and stages under its phase spans, and returns the op's
    * scheduling numbers. `phases` maps job-group suffix to span id. */
  def closeOp(spark: SparkSession, op: Int, opSpan: Int, phases: Map[String, Int]): Map[String, Double] = {
    BusDrain(spark.sparkContext)
    synchronized {
      val mine = jobs.toVector
      jobs.clear()
      val opS = spans(opSpan)
      // jobs with another thread's group (e.g. a streaming query's
      // micro-batches) hang under the phase whose interval holds them
      val kids = spans.filter(s => s.op == op && s.name != "job" && s.name != "stage")
        .groupBy(_.parent)
      def deepest(id: Int, t: Long): Int =
        kids.getOrElse(id, Nil).find(c => c.start <= t && t <= c.end)
          .map(c => deepest(c.id, t)).getOrElse(id)
      def phaseOf(j: JobRec): Int = {
        val t = fromMs(j.start)
        phases.collectFirst { case (p, id) if j.group == s"op$op.$p" => id }
          .getOrElse(deepest(opSpan, t))
      }
      def clamp(s: Long, e: Long, p: Span): (Long, Long) = {
        val a = math.min(math.max(s, p.start), p.end)
        (a, math.min(math.max(e, a), p.end))
      }
      var stagesN, tasks, failed = 0L
      var durMs, runMs, gcMs, fetchMs, cpuNs = 0L
      var shW, shR, spill, inB, inR, peak = 0L
      val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
      var buildJobs = 0
      mine.foreach { j =>
        val phase = phaseOf(j)
        if (phases.get("build").contains(phase)) buildJobs += 1
        val parent = deepest(phase, fromMs(j.start))
        val end = if (j.end < 0) j.start else j.end
        val (js, je) = clamp(fromMs(j.start), fromMs(end), spans(parent))
        val jobSpan = add(parent, "job", op, js, je)
        intervals += ((js, je))
        j.stages.foreach { sid =>
          stageDone.remove(sid).foreach { st =>
            if (st.start > 0) {
              val (ss, se) = clamp(fromMs(st.start), fromMs(st.end), spans(jobSpan))
              add(jobSpan, "stage", op, ss, se, st.name)
            }
          }
          taskAgg.remove(sid).foreach { a =>
            stagesN += 1; tasks += a.tasks; failed += a.failed
            durMs += a.durMs; runMs += a.runMs; gcMs += a.gcMs; fetchMs += a.fetchWaitMs
            cpuNs += a.cpuNs; shW += a.shuffleWrite; shR += a.shuffleRead; spill += a.spill
            inB += a.inBytes; inR += a.inRows; peak = math.max(peak, a.peakMem)
          }
        }
      }
      stageDone.clear(); taskAgg.clear()
      val covered = Trace.unionLength(intervals.toSeq, opS.start, opS.end)
      val mb = 1024.0 * 1024.0
      maxima("exec.peak_exec_mb") = math.max(maxima("exec.peak_exec_mb"), peak / mb)
      val streaming = Map(
        "streaming.batches" -> streamBatches.toDouble,
        "streaming.batch_s" -> streamBatchMs / 1e3)
      streamBatches = 0; streamBatchMs = 0
      streaming ++ Map(
        "operators.build_jobs" -> buildJobs.toDouble,
        "operators.build_served" -> (if (buildJobs == 0) 1.0 else 0.0),
        "exec.driver_only_s" -> (opS.dur - covered) / 1e9,
        "exec.jobs" -> mine.size.toDouble,
        "exec.stages" -> stagesN.toDouble,
        "exec.tasks" -> tasks.toDouble,
        "exec.task_s" -> durMs / 1e3,
        "exec.task_cpu_s" -> cpuNs / 1e9,
        "exec.task_overhead_s" -> (durMs - runMs) / 1e3,
        "exec.gc_s" -> gcMs / 1e3,
        "exec.failed_tasks" -> failed.toDouble,
        "exec.shuffle_write_mb" -> shW / mb,
        "exec.shuffle_read_mb" -> shR / mb,
        "exec.fetch_wait_s" -> fetchMs / 1e3,
        "exec.spill_mb" -> spill / mb,
        "sources.scan_rows" -> inR.toDouble,
        "sources.scan_mb" -> inB / mb)
    }
  }

  /** Drops whatever the listeners saw outside any op (warm-up, resets). */
  def discard(spark: SparkSession): Unit = if (on) {
    BusDrain(spark.sparkContext)
    synchronized {
      jobs.clear(); stageDone.clear(); taskAgg.clear()
      streamBatches = 0; streamBatchMs = 0
    }
  }

  /** Self time of every span: its duration minus the part covered by
    * its children. */
  def selfTimes: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      s.id -> (s.dur - Trace.unionLength(cs, s.start, s.end))
    }.toMap
  }
}

object Trace {
  final case class JobRec(id: Int, group: String, start: Long, stages: Seq[Int], var end: Long = -1L)
  final case class StageRec(id: Int, name: String, start: Long, end: Long)

  /** Length of the union of `iv`, cut to `[lo, hi]`. */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
