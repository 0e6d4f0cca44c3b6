package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run in this JVM: build the workload's inputs, set up,
  * then run passes of timed ops in a closed loop (one client, no think
  * time) until `--seconds` have elapsed, always finishing the pass in
  * progress. Writes `result.json` (and, traced, `trace.json`) to
  * `--out`; `run.py` turns them into the benchmark's output line.
  *
  * {{{
  * perfbench.Main --workload registry_warm --seed 1 --seconds 10 --trace 0
  *   --data perfbench/data --work <scratch dir> --out <dir> [--scale toy]
  *   [--expected <digest file>]
  * }}}
  */
object Main {
  private val MB = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = new Trace(opt("trace") == "1")
    val toy = opt.get("scale").contains("toy")
    val data = opt("data")
    val work = opt("work")
    val out = new File(opt("out"))
    out.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()

    val sf = if (toy) "sf0.001" else "sf0.01"
    def expected = Registry.digests(opt.getOrElse("expected", s"$data/../expected/$sf.json"))
    val wl: Workload = workload match {
      case "registry_warm" =>
        new Registry.Workload(if (toy) Registry.WarmOps.take(3) else Registry.WarmOps,
          s"$data/$sf", s"$data/$sf", expected, cold = false,
          seed, trace)
      case "curation_cold" =>
        new Registry.Workload(if (toy) Registry.ColdOps.take(1) else Registry.ColdOps,
          s"$data/$sf", s"$data/sf0.001", expected, cold = true,
          seed, trace)
      case "museum_etl" =>
        new Museum.Workload(
          if (toy) Museum.Sizes(batches = 2, chunks = Seq(2, 1, 1))
          else Museum.Sizes(batches = 3, chunks = Museum.ReferenceChunks),
          seed, work, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val genS = wl.generate()
    val spark = Session.build(cpus, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS
    trace.install(spark)
    wl.setup(spark)
    trace.discard(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS

    val sc = spark.sparkContext
    def storageMB = sc.getRDDStorageInfo.filterNot(i => wl.harnessRdds(i.id))
      .map(i => i.memSize + i.diskSize).sum / MB
    var pinnedPeak = storageMB
    val latencies = mutable.ArrayBuffer.empty[Double]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    val opRecords = mutable.ArrayBuffer.empty[String]
    var opId = 0

    /** Runs one op; returns its latency, and in the traced run files its
      * per-layer numbers under `into`. */
    def runOp(op: Op, index: Int, pass: Int, into: mutable.ArrayBuffer[Map[String, Double]]): Double = {
      wl.beforeOp(spark)
      val rdds0 = sc.getPersistentRDDs.size
      val pinned0 = if (trace.on) storageMB else 0.0
      val cgTime0 = CodeGenerator.compileTime
      val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val start = trace.now
      val opSpan = if (trace.on) trace.add(-1, "op", opId, start, start, op.name) else -1
      val ctx = new OpCtx(spark, trace, opId, opSpan)
      val ok = try op.run(ctx) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] ${op.name} failed: $e")
          false
      }
      val end = trace.now
      sc.clearJobGroup()
      if (!ok) failures += op.name
      opRecords += s"""{"op":$opId,"pass":$pass,"name":${str(op.name)},"latency_s":${num((end - start) / 1e9)},"ok":$ok}"""
      val pinned = storageMB
      pinnedPeak = math.max(pinnedPeak, pinned)
      if (trace.on) {
        trace.close(opSpan, end)
        val sched = trace.closeOp(spark, opId, opSpan, ctx.phases.toMap)
        def ph(n: String) = ctx.phaseNs(n) / 1e9
        into += sched ++ ctx.extra ++ wl.afterOp(index) ++ Map(
          "wall_s" -> (end - start) / 1e9,
          "operators.build_s" -> ph("build"),
          "operators.checkpoints" -> (sc.getPersistentRDDs.size - rdds0).toDouble,
          "operators.pinned_mb_delta" -> (pinned - pinned0),
          "codegen.compile_s" -> (CodeGenerator.compileTime - cgTime0) / 1e9,
          "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0).toDouble,
          "store.write_s" -> ph("store.write"),
          "pipeline.e1_s" -> ph("e1"),
          "pipeline.e2_s" -> ph("e2"),
          "has_build" -> (if (ctx.phases.contains("build")) 1.0 else 0.0))
      }
      opId += 1
      (end - start) / 1e9
    }

    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      wl.beforePass(spark, pass)
      trace.discard(spark)
      var passS = 0.0
      wl.passOps(pass).zipWithIndex.foreach { case (op, index) =>
        val l = runOp(op, index, pass, trace.perOp)
        passS += l
        latencies += l
      }
      passTimes += passS
      pass += 1
    }
    // traced run only, after the passes and outside every end-to-end
    // number: each op once untimed (JIT), then once traced
    val tracedOnly = if (trace.on) wl.tracedOnly else Seq.empty
    tracedOnly.foreach { op =>
      runOp(op, -1, -1, mutable.ArrayBuffer.empty)
      trace.discard(spark)
      runOp(op, -1, pass, trace.tracedOnly)
    }

    val attempted = opRecords.size
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (Stats.median(passTimes.toSeq), "s"),
      "op_p50_s" -> (Stats.median(latencies.toSeq), "s"),
      "op_tail_s" -> (Stats.tailMean(latencies.toSeq), "s"),
      "op_fail_frac" -> (failures.size.toDouble / attempted, "frac"),
      "pinned_mb" -> (pinnedPeak, "MB"))
    val extraE2e = wl.finish(spark, passTimes.toSeq)
    extraE2e.get("images_per_s").foreach(v => endToEnd("images_per_s") = (v, "1/s"))
    extraE2e.get("space_amp").foreach(v => endToEnd("space_amp") = (v, "ratio"))

    val perLayer = if (trace.on) layerMetrics(trace, sessionS, passTimes.toSeq,
      failures.size.toDouble / attempted, pinnedPeak, extraE2e) else Seq.empty
    spark.stop()

    def metricsJson(ms: Iterable[(String, (Double, String))]) = ms.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val result =
      s"""{"workload":"$workload","seed":$seed,"attempted":$attempted,"failed":${failures.size},""" +
      s""""failures":${failures.distinct.map(str).mkString("[", ",", "]")},""" +
      s""""passes":${passTimes.size},"cpus":$cpus,"max_heap_mb":${num(Runtime.getRuntime.maxMemory / MB)},""" +
      s""""end_to_end":${metricsJson(endToEnd)},"per_layer":${metricsJson(perLayer)},""" +
      s""""ops":${opRecords.mkString("[", ",", "]")}}"""
    write(new File(out, "result.json"), result)
    if (trace.on) write(new File(out, "trace.json"), traceJson(trace, workload, seed, result))
  }

  /** Per-layer numbers: per-op means unless the name says otherwise. */
  private def layerMetrics(t: Trace, sessionS: Double, passTimes: Seq[Double],
                           failFrac: Double, pinned: Double,
                           e2e: Map[String, Double]): Seq[(String, (Double, String))] = {
    val ops = t.perOp.toSeq
    def col(k: String) = ops.map(_.getOrElse(k, 0.0))
    def mean(k: String) = Stats.mean(col(k))
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val built = ops.filter(_.getOrElse("has_build", 0.0) > 0)
    val wall = col("wall_s")
    val driverOnly = col("exec.driver_only_s")
    Seq(
      "session.start_s" -> (sessionS, "s"),
      "operators.build_s" -> (mean("operators.build_s"), "s/op"),
      "operators.build_jobs" -> (mean("operators.build_jobs"), "jobs/op"),
      "operators.build_serve_frac" -> (Stats.mean(built.map(_.getOrElse("operators.build_served", 0.0))), "frac"),
      "operators.checkpoints" -> (mean("operators.checkpoints"), "rdds/op"),
      "operators.pinned_mb_delta" -> (mean("operators.pinned_mb_delta"), "MB/op"),
      "operators.pinned_mb" -> (pinned, "MB"),
      "plans.analysis_s" -> (mean("plans.analysis_s"), "s/op"),
      "plans.optimization_s" -> (mean("plans.optimization_s"), "s/op"),
      "plans.planning_s" -> (mean("plans.planning_s"), "s/op"),
      "plans.graft_rule_s" -> (mean("plans.graft_rule_s"), "s/op"),
      "plans.rule_effective_frac" -> (ratio(col("plans.rule_effective").sum, col("plans.rule_invocations").sum), "frac"),
      "codegen.compile_s" -> (mean("codegen.compile_s"), "s/op"),
      "codegen.compiles" -> (mean("codegen.compiles"), "count/op"),
      "exec.exec_s" -> (Stats.mean(wall.zip(driverOnly).map { case (w, d) => w - d }), "s/op"),
      "exec.driver_only_s" -> (Stats.mean(driverOnly), "s/op"),
      "exec.jobs" -> (mean("exec.jobs"), "count/op"),
      "exec.stages" -> (mean("exec.stages"), "count/op"),
      "exec.tasks" -> (mean("exec.tasks"), "count/op"),
      "exec.task_s" -> (mean("exec.task_s"), "s/op"),
      "exec.task_cpu_s" -> (mean("exec.task_cpu_s"), "s/op"),
      "exec.task_overhead_s" -> (mean("exec.task_overhead_s"), "s/op"),
      "exec.gc_s" -> (mean("exec.gc_s"), "s/op"),
      "exec.failed_tasks" -> (mean("exec.failed_tasks"), "count/op"),
      "exec.shuffle_write_mb" -> (mean("exec.shuffle_write_mb"), "MB/op"),
      "exec.shuffle_read_mb" -> (mean("exec.shuffle_read_mb"), "MB/op"),
      "exec.fetch_wait_s" -> (mean("exec.fetch_wait_s"), "s/op"),
      "exec.spill_mb" -> (mean("exec.spill_mb"), "MB/op"),
      "exec.peak_exec_mb" -> (t.maxima("exec.peak_exec_mb"), "MB"),
      "sources.scan_rows" -> (mean("sources.scan_rows"), "rows/op"),
      "sources.scan_mb" -> (mean("sources.scan_mb"), "MB/op"),
      "store.write_s" -> (mean("store.write_s"), "s/op"),
      "store.write_mb" -> (mean("store.write_bytes") / MB, "MB/op"),
      "store.write_amp" -> (ratio(col("store.write_bytes").sum, col("store.user_bytes").sum), "ratio"),
      "store.segments_read" -> (mean("store.segments_read"), "count/op"),
      "store.segments_skipped" -> (mean("store.segments_skipped"), "count/op"),
      "store.prune_frac" -> (ratio(col("store.segments_skipped").sum,
        col("store.segments_read").sum + col("store.segments_skipped").sum), "frac"),
      "functions.image_calls" -> (mean("functions.image_calls"), "count/op"),
      "functions.image_ms" -> (ratio(col("functions.image_ms_total").sum, col("functions.image_calls").sum), "ms/call"),
      "functions.decode_ok_frac" -> (ratio(col("functions.decode_ok").sum, col("functions.image_calls").sum), "frac"),
      "pipeline.e1_s" -> (mean("pipeline.e1_s"), "s/op"),
      "pipeline.e2_s" -> (mean("pipeline.e2_s"), "s/op"),
      // from the traced-only ops (the passes reach no stream)
      "streaming.batches" -> (Stats.mean(t.tracedOnly.toSeq.map(_.getOrElse("streaming.batches", 0.0))), "count/op"),
      "streaming.batch_s" -> (Stats.mean(t.tracedOnly.toSeq.map(_.getOrElse("streaming.batch_s", 0.0))), "s/op"),
      "museum.images_per_s" -> (e2e.getOrElse("images_per_s", 0.0), "1/s"),
      "museum.space_amp" -> (e2e.getOrElse("space_amp", 0.0), "ratio"),
      "checks.op_fail_frac" -> (failFrac, "frac"),
      "trace.pass_s" -> (Stats.median(passTimes), "s"))
  }

  private def traceJson(t: Trace, workload: String, seed: Long, result: String): String = {
    val self = t.selfTimes
    val spans = t.spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","label":${str(s.label)},"op":${s.op},""" +
      s""""start_s":${num(s.start / 1e9)},"end_s":${num(s.end / 1e9)},"self_s":${num(self(s.id) / 1e9)}}"""
    }
    val byName = t.spans.groupBy(s => s.name).map { case (n, ss) =>
      s""""$n":${num(ss.map(s => self(s.id)).sum / 1e9)}""" }.mkString("{", ",", "}")
    s"""{"workload":"$workload","seed":$seed,"self_time_s":$byName,"result":$result,""" +
      s""""spans":${spans.mkString("[\n", ",\n", "]")}}"""
  }

  /** JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON number with every digit Java prints; non-finite becomes 0. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  private def write(f: File, s: String): Unit =
    Files.write(f.toPath, (s + "\n").getBytes(StandardCharsets.UTF_8))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length else 0L
}
