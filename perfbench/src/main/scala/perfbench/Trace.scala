package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` is the operation id (0 is
  * the traced set-up repetition); `parent` is the enclosing span's id. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      start: Long, end: Long)

/** Catalyst's view of one executed query. */
final case class Catalyst(analysisMs: Double, optimizationMs: Double, planningMs: Double,
                          planNodes: Int, nonCodegenNodes: Int)

object Catalyst {
  def of(qe: QueryExecution): Catalyst = {
    val ph = qe.tracker.phases
    def ms(n: String): Double =
      ph.get(n).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val plan = qe.executedPlan
    Catalyst(ms("analysis"), ms("optimization"), ms("planning"), nodes(plan),
      nonCodegen(plan, inCodegen = false))
  }

  /** Physical operators of the final plan, looking through adaptive
    * wrappers and query stages. */
  def nodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => 1 + other.children.map(nodes).sum
  }

  /** Operators that run outside whole-stage codegen (wrappers, exchanges
    * and codegen boundaries excluded) plus expressions that fall back to
    * interpreted evaluation (`CodegenFallback`). */
  def nonCodegen(p: SparkPlan, inCodegen: Boolean): Int = p match {
    case a: AdaptiveSparkPlanExec => nonCodegen(a.executedPlan, inCodegen = false)
    case q: QueryStageExec => nonCodegen(q.plan, inCodegen = false)
    case w: WholeStageCodegenExec => nonCodegen(w.child, inCodegen = true)
    case i: InputAdapter => nonCodegen(i.child, inCodegen = false)
    case _: ReusedExchangeExec => 0
    case e: Exchange => e.children.map(nonCodegen(_, inCodegen = false)).sum
    case other =>
      val fallbacks = other.expressions.map(_.collect { case _: CodegenFallback => 1 }.sum).sum
      (if (inCodegen) 0 else 1) + fallbacks + other.children.map(nonCodegen(_, inCodegen)).sum
  }
}

/** One wire round trip as the client saw it. */
final case class RoundTrip(op: Int, cmd: String, start: Long, end: Long,
                           requestBytes: Long, replyBytes: Long)

/** Span recorder for the benchmark's single client thread. When off, a
  * span is just the call it wraps. Spans stay in memory until the run
  * ends. */
final class Tracer {
  @volatile var on = false
  var op = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  val catalyst = mutable.ArrayBuffer.empty[(Int, Catalyst)]
  val roundTrips = mutable.ArrayBuffer.empty[RoundTrip]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, layer, name, t0, t1)
      }
    }

  def recordCatalyst(qe: QueryExecution): Unit =
    if (on) catalyst += ((op, Catalyst.of(qe)))

  def recordRoundTrip(cmd: String, start: Long, end: Long, req: Long, reply: Long): Unit =
    if (on) roundTrips += RoundTrip(op, cmd, start, end, req, reply)
}

/** Job, stage and task events of the traced cycles. Epoch-millisecond
  * event times convert to the client's nanoTime clock via `offsetNs`. */
final class JobListener extends SparkListener {
  import JobListener._
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val offsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def ns(ms: Long): Long = ms * 1000000L - offsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(JobListener.OpProperty)).orNull
    jobs.put(e.jobId, Job(e.jobId, e.time, tag, e.stageIds)): Unit
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo
    stages.put(s.stageId, Stage(s.stageId,
      s.submissionTime.getOrElse(System.currentTimeMillis()), -1L)): Unit
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Option(stages.get(s.stageId)).foreach(_.doneMs =
      s.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    if (m == null) tasks.add(Task(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, failed))
    else tasks.add(Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, failed))
    ()
  }
}

object JobListener {
  final case class Job(id: Int, startMs: Long, tag: String, stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final case class Stage(id: Int, submitMs: Long, var doneMs: Long)
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, records: Long, bytes: Long, shuffleBytes: Long,
                        spillBytes: Long, failed: Boolean)

  /** Local property tagging the client's jobs with their operation id. */
  val OpProperty = "perfbench.op"
}

/** Catalyst stats of queries the client cannot see (those the wire
  * server runs), stamped with their completion time. */
final class QeListener extends QueryExecutionListener {
  val done = new ConcurrentLinkedQueue[(Long, Catalyst)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    try done.add((System.nanoTime(), Catalyst.of(qe))): Unit
    catch { case scala.util.control.NonFatal(_) => () }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** A traced operation as the measurement loop recorded it. */
final case class OpRec(id: Int, kind: String, start: Long, end: Long, ok: Boolean, docs: Long,
                       traced: Boolean)

/** Turns spans and listener events into the per-layer metrics. Values are
  * per operation (means) unless the name says otherwise. */
object Layers {
  private def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def clip(iv: (Long, Long), w: (Long, Long)): (Long, Long) =
    (math.max(iv._1, w._1), math.min(iv._2, w._2))

  final case class Result(metrics: Map[String, Double], notes: Map[String, String],
                          spansByLayer: Map[String, Int])

  def compute(ops: Seq[OpRec], tracer: Tracer, jl: JobListener, qel: QeListener,
              slots: Int, applies: Map[String, String]): Result = {
    val traced = ops.filter(_.traced)
    val n = math.max(traced.size, 1).toDouble
    val jobs = jl.jobs.values.asScala.toSeq.filter(_.endMs >= 0)
    val stages = jl.stages.asScala
    val tasksByStage = jl.tasks.asScala.toSeq.groupBy(_.stage)
    val stageJob = mutable.Map.empty[Int, Int]
    jobs.sortBy(_.id).foreach(j => j.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j.id)))
    val opIds = traced.map(_.id).toSet
    def jobIv(j: JobListener.Job): (Long, Long) = (jl.ns(j.startMs), jl.ns(j.endMs))

    // attribute jobs: the client's by tag, the server's by time window
    val jobsOf: Map[Int, Seq[JobListener.Job]] = traced.map { o =>
      o.id -> jobs.filter { j =>
        if (j.tag != null) j.tag == o.id.toString
        else { val (s, _) = jobIv(j); s >= o.start && s <= o.end }
      }
    }.toMap

    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val waits = mutable.ArrayBuffer.empty[Double]
    val skews = mutable.ArrayBuffer.empty[Double]
    var taskMsAll = 0.0
    var jobWallMsAll = 0.0
    var scanNs = 0.0
    var scanDocs = 0.0
    var resultDocs = 0.0
    traced.foreach { o =>
      val js = jobsOf(o.id)
      val sIds = js.flatMap(_.stageIds).distinct.filter(s => stages.contains(s) &&
        stageJob.get(s).exists(j => js.exists(_.id == j)))
      val ts = sIds.flatMap(s => tasksByStage.getOrElse(s, Nil))
      val wall = unionNs(js.map(jobIv))
      acc("exec.jobs") += js.size
      acc("exec.stages") += sIds.size
      acc("exec.tasks") += ts.size
      acc("exec.driver_ms") += ((o.end - o.start) - wall) / 1e6
      acc("exec.task_ms") += ts.map(_.runMs).sum
      acc("exec.cpu_ms") += ts.map(_.cpuNs).sum / 1e6
      acc("exec.gc_ms") += ts.map(_.gcMs).sum
      acc("exec.shuffle_bytes") += ts.map(_.shuffleBytes).sum
      acc("exec.spill_bytes") += ts.map(_.spillBytes).sum
      acc("exec.failed_tasks") += ts.count(_.failed)
      taskMsAll += ts.map(t => (t.finishMs - t.launchMs).toDouble).sum
      jobWallMsAll += wall / 1e6
      sIds.foreach { s =>
        val st = stages(s)
        tasksByStage.getOrElse(s, Nil).foreach(t => waits += (t.launchMs - st.submitMs).toDouble)
      }
      if (sIds.nonEmpty) {
        val longest = sIds.maxBy(s => stages(s).doneMs - stages(s).submitMs)
        val durs = tasksByStage.getOrElse(longest, Nil).map(t => (t.finishMs - t.launchMs).toDouble)
        if (durs.nonEmpty) skews += durs.max / math.max(Stats.median(durs), 1.0)
      }
      val scanStages = sIds.filter(s => tasksByStage.getOrElse(s, Nil).exists(_.records > 0))
      val sts = scanStages.flatMap(s => tasksByStage.getOrElse(s, Nil))
      acc("scan.docs") += sts.map(_.records).sum
      acc("scan.bytes") += sts.map(_.bytes).sum
      acc("scan.tasks") += sts.size
      acc("scan.task_ms") += sts.map(_.runMs).sum
      scanNs += sts.map(_.runMs).sum * 1e6
      scanDocs += sts.map(_.records).sum
      resultDocs += o.docs
    }

    // catalyst: the client's own queries, else the server's by window
    traced.foreach { o =>
      val own = tracer.catalyst.filter(_._1 == o.id).map(_._2)
      val cs = if (own.nonEmpty) own
        else qel.done.asScala.toSeq.filter { case (t, _) => t >= o.start && t <= o.end }.map(_._2)
      acc("catalyst.analysis_ms") += cs.map(_.analysisMs).sum
      acc("catalyst.optimization_ms") += cs.map(_.optimizationMs).sum
      acc("catalyst.planning_ms") += cs.map(_.planningMs).sum
      acc("catalyst.plan_nodes") += cs.map(_.planNodes).sum
      acc("catalyst.non_codegen_nodes") += cs.map(_.nonCodegenNodes).sum
    }

    val opSpans = tracer.spans.filter(s => opIds.contains(s.op))
    def spanMs(name: String): Double =
      opSpans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum / n

    val m = mutable.LinkedHashMap.empty[String, Double]
    acc.foreach { case (k, v) => m(k) = v / n }
    m("exec.sched_wait_ms") = Stats.mean(waits.toSeq)
    m("exec.slot_util") = if (jobWallMsAll > 0) taskMsAll / (jobWallMsAll * slots) else 0.0
    m("exec.task_skew") = if (skews.nonEmpty) Stats.median(skews.toSeq) else 0.0
    m("scan.ns_per_doc") = if (scanDocs > 0) scanNs / scanDocs else 0.0
    m("scan.docs_per_result") = if (resultDocs > 0) scanDocs / resultDocs else 0.0
    m("mql.compile_ms") = spanMs("mql.compile")
    m("llmops.build_ms") = spanMs("llmops.build")

    // wire: round trips and the server jobs inside them
    val rts = tracer.roundTrips.filter(r => opIds.contains(r.op)).toSeq
    val wireOps = rts.map(_.op).distinct.size.toDouble
    def rttMs(cmd: String): Double = {
      val xs = rts.filter(_.cmd == cmd).map(r => (r.end - r.start) / 1e6)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    m("wire.find_rtt_ms") = rttMs("find")
    m("wire.getmore_rtt_ms") = rttMs("getMore")
    m("wire.agg_rtt_ms") = rttMs("aggregate")
    m("wire.insert_rtt_ms") = rttMs("insert")
    if (rts.nonEmpty) {
      val jobIvs = jobs.filter(_.tag == null).map(jobIv)
      val inRt = rts.map { r =>
        unionNs(jobIvs.filter(j => j._1 >= r.start && j._1 <= r.end).map(clip(_, (r.start, r.end))))
      }
      m("wire.frames_per_op") = rts.size * 2 / wireOps
      m("wire.request_bytes") = rts.map(_.requestBytes).sum / wireOps
      m("wire.reply_bytes") = rts.map(_.replyBytes).sum / wireOps
      m("wire.server_job_ms") = inRt.sum / 1e6 / rts.size
      m("wire.server_other_ms") = rts.zip(inRt).map { case (r, j) => (r.end - r.start - j) / 1e6 }.sum / rts.size
      m("wire.client_codec_ms") =
        opSpans.filter(_.name == "wire.codec").map(s => (s.end - s.start) / 1e6).sum / wireOps
    }

    // span forest: client spans plus job and stage spans under them
    val all = mutable.ArrayBuffer.empty[Span] ++= tracer.spans
    var nextId = if (tracer.spans.isEmpty) 0 else tracer.spans.map(_.id).max
    def derive(layer: String, name: String, parent: Int, opId: Int, s: Long, e: Long): Int = {
      nextId += 1
      all += Span(nextId, parent, opId, layer, name, s, e)
      nextId
    }
    // the traced set-up repetition (op 0) owns the untagged jobs in its window
    val setupSpans = tracer.spans.filter(_.op == 0)
    val setupJobs =
      if (setupSpans.isEmpty) Nil
      else {
        val (lo, hi) = (setupSpans.map(_.start).min, setupSpans.map(_.end).max)
        jobs.filter { j => val (s, _) = jobIv(j); j.tag == null && s >= lo && s <= hi }
      }
    (jobsOf.toSeq :+ (0 -> setupJobs)).foreach { case (opId, js) =>
      val mine = tracer.spans.filter(_.op == opId)
      js.foreach { j =>
        val (s, e) = jobIv(j)
        val holder = mine.filter(c => c.start <= s && c.end >= s)
          .sortBy(c => c.end - c.start).headOption
        val jid = derive("exec", "exec.job", holder.map(_.id).getOrElse(0), opId, s, e)
        j.stageIds.filter(sid => stageJob.get(sid).contains(j.id)).flatMap(stages.get).foreach { st =>
          if (st.doneMs >= 0) {
            val scan = tasksByStage.getOrElse(st.id, Nil).exists(_.records > 0)
            derive(if (scan) "scan" else "exec", if (scan) "scan.stage" else "exec.stage",
              jid, opId, jl.ns(st.submitMs), jl.ns(st.doneMs))
          }
        }
      }
    }
    val children = all.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.filter(s => s.op == 0 || opIds.contains(s.op)).foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
      val covered = unionNs(kids.filter(_.op == s.op).map(k => clip((k.start, k.end), (s.start, s.end))).toSeq)
      val key = if (s.op == 0) s"setup:${s.layer}" else s.layer
      self(key) += ((s.end - s.start) - covered) / 1e6
    }
    Seq("mql", "catalyst", "exec", "scan", "wire").foreach(l => m(s"$l.self_ms") = self(l) / n)
    // the store layer is exercised by set-up (collection builds); its self
    // time is reported for the traced set-up repetition as a whole
    m("store.self_ms") = self("setup:store")
    val byLayer = all.filter(s => s.op == 0 || opIds.contains(s.op)).groupBy(_.layer)
      .map { case (l, ss) => l -> ss.size }
    m("trace.spans_per_op") =
      all.count(s => opIds.contains(s.op)).toDouble / n
    Result(m.toMap, applies, byLayer)
  }
}
