package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The layered benchmark's JVM side. One closed-loop client (this thread)
  * drives one workload for a fixed time and prints one JSON result line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --detail FILE [--small] [--inject-wrong KIND]
  *
  * With --trace 0 the line holds the end-to-end metrics. With --trace 1
  * cycles alternate untraced and traced; the traced ones give the
  * per-layer metrics and the difference gives the tracing overhead. */
object Main {
  val SetupReps = 3
  val MinCycles = 1

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File,
                        detail: File, small: Boolean, injectWrong: Option[String])

  private def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toInt, req("--trace") == "1",
      new File(req("--work")), new File(req("--detail")), a.contains("--small"), m.get("--inject-wrong"))
  }

  private val jvmStart = System.nanoTime()
  /** Phase marks on stderr, for reading a slow run's log. */
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%.2f s: $what")

  def main(argv: Array[String]): Unit = {
    mark("main")
    val args = parse(argv)
    val slots = math.min(Runtime.getRuntime.availableProcessors, 4)
    val t0 = System.nanoTime()
    val spark = session(slots, args.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer
    val ctx = new Ctx(spark, args.seed, args.small, args.work, tracer, slots)
    val wl: Workload = args.workload match {
      case "decode_scan" => new DecodeScan(ctx)
      case "mql_mix" => new MqlMix(ctx)
      case "wire_rw" => new WireRw(ctx)
      case "curation" => new Curation(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try run(args, spark, wl, tracer, slots, sessionS)
    finally { wl.close(); spark.stop(); mark("stopped") }
  }

  private def session(slots: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private final case class Sample(kind: String, ms: Double, var ok: Boolean, docs: Long,
                                  traced: Boolean)

  private def run(args: Args, spark: SparkSession, wl: Workload, tracer: Tracer, slots: Int,
                  sessionS: Double): Unit = {
    val sc = spark.sparkContext
    val jl = new JobListener
    val qel = new QeListener
    def attach(): Unit = { sc.addSparkListener(jl); spark.listenerManager.register(qel); tracer.on = true }
    def detach(): Unit = {
      tracer.on = false
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(jl)
      spark.listenerManager.unregister(qel)
    }

    val tp = System.nanoTime()
    wl.prepare()
    val prepareS = (System.nanoTime() - tp) / 1e9
    mark("prepared")

    // set-up, repeated: build the stores through the engine, open them and
    // answer one first operation; the last repetition's stores are measured.
    // Every operation kind runs once (untimed, unchecked) after the first
    // repetition, so the later ones time set-up rather than JVM warm-up.
    var warmupS = 0.0
    val setupTimes = (0 until SetupReps).map { rep =>
      val traceThis = args.trace && rep == SetupReps - 1
      if (traceThis) { attach(); tracer.op = 0 }
      val ts = System.nanoTime()
      tracer.span("bench", "setup") {
        wl.setup(rep)
        wl.cycle(0).minBy(_.kind).run()
      }
      val secs = (System.nanoTime() - ts) / 1e9
      if (traceThis) detach()
      if (rep == 0) {
        val tw = System.nanoTime()
        wl.cycle(0).groupBy(_.kind).values.map(_.head).foreach(_.run())
        warmupS = (System.nanoTime() - tw) / 1e9
      }
      secs
    }
    mark("set up and warmed")

    val mem = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType.toString == "Heap memory")
    mem.foreach(_.resetPeakUsage())
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

    val samples = mutable.ArrayBuffer.empty[Sample]
    val opRecs = mutable.ArrayBuffer.empty[OpRec]
    val failures = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = if (failures.size < 20) failures += msg.take(300)
    val answers = mutable.ArrayBuffer.empty[(Int, Op, Answer)] // (sample index, op, answer)
    var nextOp = 0
    var tracedGcMs = 0L
    val gcStart = gcMs
    val start = System.nanoTime()
    val deadline = start + args.seconds * 1000000000L
    val minCycles = if (args.trace) 2 * MinCycles else MinCycles
    var k = 0
    while (System.nanoTime() < deadline || k < minCycles) {
      val traced = args.trace && k % 2 == 1
      val gc0 = gcMs
      if (traced) attach()
      var complete = true
      val it = wl.cycle(k).iterator
      while (it.hasNext && complete) {
        val op = it.next()
        if (k >= minCycles && System.nanoTime() >= deadline) complete = false
        else {
          nextOp += 1
          tracer.op = nextOp
          if (traced) sc.setLocalProperty(JobListener.OpProperty, nextOp.toString)
          val s0 = System.nanoTime()
          val (ok, docs) =
            try tracer.span("bench", "op") {
              val (d, ans) = op.run()
              answers += ((samples.size, op, ans))
              (true, d)
            } catch {
              case scala.util.control.NonFatal(e) =>
                fail(s"${op.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}")
                (false, 0L)
            }
          val s1 = System.nanoTime()
          if (traced) sc.setLocalProperty(JobListener.OpProperty, null)
          samples += Sample(op.kind, (s1 - s0) / 1e6, ok, docs, traced)
          opRecs += OpRec(nextOp, op.kind, s0, s1, ok, docs, traced)
        }
      }
      if (traced) { detach(); tracedGcMs += gcMs - gc0 }
      k += 1
    }
    val measureS = (System.nanoTime() - start) / 1e9
    mark("measured")
    val finalFailures = try wl.finish() catch {
      case scala.util.control.NonFatal(e) => Seq(s"final check: ${e.getMessage}")
    }
    finalFailures.foreach(fail)

    // check every answer against its expected one: a wrong answer is a
    // failed operation, never a fast one
    val expects = answers.map(_._2.expected).distinct.toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(slots)
    try expects.map(e => pool.submit(new Runnable { def run(): Unit = e.value: Unit })).foreach(_.get())
    finally pool.shutdown()
    answers.foreach { case (i, op, ans) =>
      val exp = if (args.injectWrong.contains(op.kind)) Answer.corrupt(op.expected.value) else op.expected.value
      if (!ans.matches(exp)) {
        samples(i).ok = false
        fail(s"${op.kind}: expected ${exp.brief}, got ${ans.brief}")
      }
    }
    mark("checked")
    samples.zipWithIndex.foreach { case (smp, i) => opRecs(i) = opRecs(i).copy(ok = smp.ok) }

    val attempted = samples.size + (if (args.workload == "wire_rw") 1 else 0)
    val failed = samples.count(!_.ok) + (if (finalFailures.nonEmpty) 1 else 0)

    // end-to-end, from untraced samples. Throughput is the closed loop's at
    // the median latencies: a cycle's operations over the time its kinds'
    // medians add up to, so a cycle cut short by the deadline cannot bias it
    val perCycle = wl.cycle(0).groupBy(_.kind).map { case (kd, ops) => kd -> ops.size }
    def summary(ss: Seq[Sample]) = {
      val ok = ss.filter(_.ok).groupBy(_.kind)
      val kinds = ok.map { case (kd, xs) => kd -> xs.map(_.ms) }
      val cycleMs = ok.map { case (kd, xs) => perCycle.getOrElse(kd, 0) * Stats.median(xs.map(_.ms)) }.sum
      val cycleDocs = ok.map { case (kd, xs) => perCycle.getOrElse(kd, 0) * Stats.mean(xs.map(_.docs.toDouble)) }.sum
      val complete = perCycle.keySet.subsetOf(ok.keySet) && cycleMs > 0
      (kinds, if (complete) perCycle.values.sum * 1000.0 / cycleMs else 0.0,
        if (complete) cycleDocs * 1000.0 / cycleMs else 0.0)
    }
    val untraced = samples.filterNot(_.traced).toSeq
    val (kinds, opsPerS, docsPerS) = summary(untraced)
    val opP50 = if (kinds.isEmpty) 0.0 else Stats.geomean(kinds.values.map(Stats.median).toSeq)
    val peakRss = vmHwmMb()

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setupTimes), "s"),
      "ops_per_s" -> (opsPerS, "1/s"),
      "docs_per_s" -> (docsPerS, "1/s"),
      "op_p50_ms" -> (opP50, "ms"),
      "space_amp" -> (wl.spaceAmp, "ratio"))

    val perKind = kinds.toSeq.sortBy(_._1).map { case (kd, xs) =>
      kd -> (mutable.LinkedHashMap[String, Any]("n" -> xs.size, "p50_ms" -> Stats.median(xs),
        "mean_ms" -> Stats.mean(xs)) ++
        (if (xs.size >= 100) Seq("p90_ms" -> Stats.quantile(xs, 0.9)) else Nil))
    }.toMap

    val layer: Option[(Layers.Result, Map[String, (Double, String)])] =
      if (!args.trace) None
      else {
        val res = Layers.compute(opRecs.toSeq, tracer, jl, qel, slots, wl.notApplicable)
        val tracedS = samples.filter(_.traced).toSeq
        val (tk, _, _) = summary(tracedS)
        val tP50 = if (tk.isEmpty) 0.0 else Stats.geomean(tk.values.map(Stats.median).toSeq)
        val overhead = if (opP50 > 0) (tP50 / opP50 - 1.0) * 100.0 else 0.0
        val nTraced = math.max(1, tracedS.size)
        val heapPeak = mem.map(_.getPeakUsage.getUsed).sum / 1048576.0
        val values = res.metrics ++ wl.layerExtras ++ Map(
          "store.files" -> Files.usage(wl.storeDir)._1.toDouble,
          "jvm.gc_ms" -> tracedGcMs.toDouble / nTraced,
          "jvm.heap_peak_mb" -> heapPeak,
          "jvm.rss_peak_mb" -> peakRss,
          "trace.overhead_pct" -> overhead)
        Some((res, PerLayer.all.map { case (name, unit) => name -> (values.getOrElse(name, 0.0), unit) }.toMap))
      }

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "small" -> args.small, "slots" -> slots,
      "clients" -> 1, "loop" -> "closed",
      "session_start_s" -> sessionS, "prepare_s" -> prepareS, "setup_runs_s" -> setupTimes, "warmup_s" -> warmupS,
      "measure_s" -> measureS, "cycles" -> k, "peak_rss_mb" -> peakRss,
      "measure_gc_ms" -> (gcMs - gcStart), "store_bytes" -> Files.usage(wl.storeDir)._2,
      "attempted" -> attempted, "failed" -> failed, "error_rate" -> failed.toDouble / attempted,
      "failures" -> failures.toSeq,
      "end_to_end" -> e2e.map { case (kk, (v, u)) => kk -> Map("value" -> v, "unit" -> u) },
      "per_kind" -> perKind)
    layer.foreach { case (res, vals) =>
      detail("per_layer") = vals.toSeq.sortBy(_._1).map { case (kk, (v, u)) => kk -> Map("value" -> v, "unit" -> u) }.toMap
      detail("not_applicable") = res.notes
      detail("spans_by_layer") = res.spansByLayer
      detail("traced_ops") = samples.count(_.traced)
      detail("untraced_ops") = samples.count(!_.traced)
    }
    args.detail.getParentFile.mkdirs()
    java.nio.file.Files.write(args.detail.toPath, (Json.render(detail) + "\n").getBytes("UTF-8"))

    val metrics = layer.map(_._2).getOrElse(e2e.toMap)
    val line = Json.render(mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (kk, (v, u)) =>
        kk -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }.toMap))
    println(s"detail: ${args.detail.getPath}")
    println(line)
  }

  private def vmHwmMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) Runtime.getRuntime.totalMemory / 1048576.0
    else scala.io.Source.fromFile(f).getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Names and units of the per-layer metrics (BENCHMARK.json lists the
  * same set). */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "mql.compile_ms" -> "ms", "mql.self_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "catalyst.plan_nodes" -> "count", "catalyst.non_codegen_nodes" -> "count", "catalyst.self_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.sched_wait_ms" -> "ms", "exec.driver_ms" -> "ms", "exec.slot_util" -> "ratio",
    "exec.task_skew" -> "ratio", "exec.task_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.shuffle_bytes" -> "B", "exec.spill_bytes" -> "B", "exec.failed_tasks" -> "count",
    "exec.self_ms" -> "ms", "llmops.build_ms" -> "ms",
    "scan.docs" -> "count", "scan.bytes" -> "B", "scan.tasks" -> "count", "scan.task_ms" -> "ms",
    "scan.ns_per_doc" -> "ns", "scan.docs_per_result" -> "ratio", "scan.self_ms" -> "ms",
    "wire.find_rtt_ms" -> "ms", "wire.getmore_rtt_ms" -> "ms", "wire.agg_rtt_ms" -> "ms",
    "wire.insert_rtt_ms" -> "ms", "wire.frames_per_op" -> "count", "wire.request_bytes" -> "B",
    "wire.reply_bytes" -> "B", "wire.server_job_ms" -> "ms", "wire.server_other_ms" -> "ms",
    "wire.client_codec_ms" -> "ms", "wire.self_ms" -> "ms",
    "store.files_per_insert" -> "count", "store.bytes_written_per_doc_byte" -> "ratio",
    "store.files" -> "count", "store.self_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB", "jvm.rss_peak_mb" -> "MB",
    "trace.overhead_pct" -> "%", "trace.spans_per_op" -> "count")
}
