package graftbench

import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.v2.V2CommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same axis as
  * the timestamps Spark puts in its listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `op` is the operation it belongs to (-1: none). */
final case class Span(id: Long, parent: Long, op: Int, name: String,
                      startMs: Double, endMs: Double) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Local properties the harness sets on the driver thread before it calls
  * into a layer; Spark copies them onto every job that call submits. */
object Props {
  val Op = "graftbench.op"
  val Span = "graftbench.span"
}

/** Opens and closes the harness spans around each call into a layer, and
  * tags the driver thread with the op and span so Spark carries both onto
  * every job the call submits. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var lastId = 0L
  def nextId(): Long = { lastId += 1; lastId }

  private var op = -1
  private var opSpanId = 0L
  private var opStart = 0.0
  private val opSpans = mutable.ArrayBuffer.empty[Span]

  private def tag(opId: Int, spanId: Long): Unit = {
    spark.sparkContext.setLocalProperty(Props.Op, opId.toString)
    spark.sparkContext.setLocalProperty(Props.Span, spanId.toString)
  }

  def beginOp(i: Int): Unit = {
    op = i; opSpanId = nextId(); opStart = Clock.nowMs; opSpans.clear()
    tag(op, opSpanId)
  }

  /** Ends the op; returns its spans, the op span first. */
  def endOp(): Seq[Span] = {
    val s = Span(opSpanId, 0L, op, "op", opStart, Clock.nowMs)
    tag(-1, 0L)
    op = -1
    val all = s +: opSpans.toSeq
    spans ++= all
    all
  }

  def phase[A](name: String)(body: => A): A = {
    val id = nextId()
    val t0 = Clock.nowMs
    tag(op, id)
    try body
    finally {
      opSpans += Span(id, opSpanId, op, name, t0, Clock.nowMs)
      tag(op, opSpanId)
    }
  }
}

/** Everything the traced run observes from outside the engine: a
  * SparkListener (jobs, stages, tasks), a QueryExecutionListener (planning
  * phases, executed-plan shape) and a log appender (codegen fallbacks).
  * Events are attributed to operations through [[Props]] (jobs) or by time
  * (query executions, log events); operations run one at a time. */
final class Ledger(spark: SparkSession) {
  import Ledger.{JobRec, QeRec}

  private final class StageAgg {
    var job = -1
    var submitMs = 0L
    var endMs = 0L
    var tasks, failed = 0
    var runMs, cpuNs, gcMs, waitMs = 0L
    var shuffleW, shuffleR, spill, outBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val fallbackLogMs = mutable.ArrayBuffer.empty[Long]

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Ledger.this.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val op = prop(Props.Op).map(_.toInt).getOrElse(-1)
      val parent = prop(Props.Span).map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = JobRec(op, parent, e.time)
      e.stageIds.foreach(s => if (stage(s).job < 0) stage(s).job = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Ledger.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Ledger.this.synchronized {
      val s = stage(e.stageInfo.stageId)
      if (s.submitMs == 0L) s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Ledger.this.synchronized {
      stage(e.stageInfo.stageId).endMs = e.stageInfo.completionTime.getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Ledger.this.synchronized {
      val s = stage(e.stageId)
      s.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) s.failed += 1
      s.durations += e.taskInfo.duration
      if (s.submitMs > 0L) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleW += m.shuffleWriteMetrics.bytesWritten
        s.shuffleR += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      val plan = qe.executedPlan
      if (phases.nonEmpty) Ledger.this.synchronized {
        qes += QeRec(phases, Ledger.nonCodegenOps(plan), Ledger.scans(plan))
      }
    }
  }

  private val appender = new AbstractAppender("graftbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val m = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("").toLowerCase
      if (Ledger.FallbackPatterns.exists(m.contains))
        Ledger.this.synchronized { fallbackLogMs += e.getTimeMillis }
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    attached = false
  }

  def drain(): Unit = org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)

  /** Per-layer figures of one traced operation. `phaseSpans` are the
    * harness spans of that op (the op span first). */
  def opMetrics(op: Int, opSpans: Seq[Span], cores: Int): Map[String, Double] = synchronized {
    val opSpan = opSpans.head
    val wallS = (opSpan.endMs - opSpan.startMs) / 1000.0
    val opJobs = jobs.filter(_._2.op == op)
    val opStages = stages.values.filter(s => opJobs.contains(s.job) && s.submitMs > 0L).toSeq
    def sumL(f: StageAgg => Long) = opStages.map(f).sum.toDouble
    val buildIds = opSpans.filter(_.name == "operators.build").map(_.id).toSet
    val opQes = qes.filter(q => q.startMs >= opSpan.startMs - 1 && q.startMs <= opSpan.endMs)
    val opScans = opQes.flatMap(_.scans).distinctBy(_._1).toSeq
    def phaseMs(p: String) = opQes.flatMap(_.phases.filter(_._1 == p)).map(x => (x._3 - x._2).toDouble).sum
    val slowest = opStages.sortBy(s => s.endMs - s.submitMs).lastOption
    val skew = slowest.filter(_.durations.nonEmpty).map { s =>
      val d = s.durations.sorted
      d.last.toDouble / math.max(1L, d(d.length / 2)).toDouble
    }.getOrElse(1.0)
    val runS = sumL(_.runMs) / 1000.0
    val mb = 1024.0 * 1024.0
    Map(
      "plan.analysis_ms" -> phaseMs("analysis"),
      "plan.optimization_ms" -> phaseMs("optimization"),
      "plan.planning_ms" -> phaseMs("planning"),
      "functions.non_codegen_ops" -> opQes.map(_.nonCodegen).sum.toDouble,
      "functions.codegen_fallbacks" ->
        fallbackLogMs.count(t => t >= opSpan.startMs - 1 && t <= opSpan.endMs + 1).toDouble,
      "operators.build_jobs" -> opJobs.count(j => buildIds.contains(j._2.parent)).toDouble,
      "exec.jobs" -> opJobs.size.toDouble,
      "exec.stages" -> opStages.size.toDouble,
      "exec.tasks" -> opStages.map(_.tasks).sum.toDouble,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> sumL(_.cpuNs) / 1e9,
      "exec.gc_s" -> sumL(_.gcMs) / 1000.0,
      "exec.task_wait_s" -> sumL(_.waitMs) / 1000.0,
      "exec.core_util" -> runS / (wallS * cores),
      "exec.shuffle_write_mb" -> sumL(_.shuffleW) / mb,
      "exec.shuffle_read_mb" -> sumL(_.shuffleR) / mb,
      "exec.spill_mb" -> sumL(_.spill) / mb,
      "exec.task_skew" -> skew,
      "exec.failed_tasks" -> opStages.map(_.failed).sum.toDouble,
      "sources.scan_mb" -> opScans.map(_._2).sum / mb,
      "sources.scan_rows" -> opScans.map(_._3).sum.toDouble,
      "sources.write_mb" -> sumL(_.outBytes) / mb)
  }

  /** Spans derived from the listeners for one op: its jobs (parented to the
    * harness span that submitted them), their stages, and the planning
    * phases of its query executions (parented to the harness span whose
    * interval holds them). */
  def derivedSpans(op: Int, opSpans: Seq[Span], nextId: () => Long): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.empty[Span]
    val jobSpan = mutable.Map.empty[Int, Long]
    jobs.filter(_._2.op == op).foreach { case (id, j) =>
      val sid = nextId()
      jobSpan(id) = sid
      out += Span(sid, j.parent, op, "exec.job", j.startMs.toDouble,
        math.max(j.endMs, j.startMs).toDouble)
    }
    stages.values.filter(s => jobSpan.contains(s.job) && s.submitMs > 0L).foreach { s =>
      out += Span(nextId(), jobSpan(s.job), op, "exec.stage", s.submitMs.toDouble,
        math.max(s.endMs, s.submitMs).toDouble)
    }
    val opSpan = opSpans.head
    val inner = opSpans.tail
    qes.filter(q => q.startMs >= opSpan.startMs - 1 && q.startMs <= opSpan.endMs)
      .foreach(_.phases.foreach { case (name, s, e) =>
        val parent = inner.find(p => s >= p.startMs - 1 && s <= p.endMs).getOrElse(opSpan)
        out += Span(nextId(), parent.id, op, s"plan.$name", s.toDouble, e.toDouble)
      })
    out.toSeq
  }
}

object Ledger {
  private final case class JobRec(op: Int, parent: Long, startMs: Long,
                                  var endMs: Long = 0L)
  private final case class QeRec(phases: Seq[(String, Long, Long)], nonCodegen: Int,
                                 scans: Seq[(Long, Long, Long)]) {
    def startMs: Long = phases.map(_._2).min
  }

  /** Log lines (lower-cased) that mean generated code was not used: a
    * compile failure, whole-stage codegen switched off for a plan, an
    * expression evaluated by the interpreter instead, or a method too
    * large for the JIT. */
  val FallbackPatterns: Seq[String] = Seq(
    "failed to compile", "codegen disabled", "falling back to interpreter",
    "fallback to interpreter", "found too long generated codes")

  /** Every node of an executed plan, through adaptive query stages and
    * subqueries (and, with `throughCache`, the plans of cached relations),
    * with whether it runs inside a WholeStageCodegen stage. A reused
    * exchange is not walked again: it does not execute again. */
  def nodes(plan: SparkPlan, throughCache: Boolean = false): Seq[(SparkPlan, Boolean)] = {
    def walk(p: SparkPlan, inCodegen: Boolean): Seq[(SparkPlan, Boolean)] = {
      val kids: Seq[(SparkPlan, Boolean)] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> false)
        case q: QueryStageExec => Seq(q.plan -> false)
        case w: WholeStageCodegenExec => Seq(w.child -> true)
        case i: InputAdapter => Seq(i.child -> false)
        case _: ReusedExchangeExec => Nil
        case m: InMemoryTableScanExec if throughCache => Seq(m.relation.cachedPlan -> false)
        case other => other.children.map(_ -> inCodegen)
      }
      (p -> inCodegen) +: (kids ++ p.subqueries.map(_ -> false))
        .flatMap { case (c, cg) => walk(c, cg) }
    }
    walk(plan, inCodegen = false)
  }

  /** Physical operators that execute outside any WholeStageCodegen stage.
    * Exchanges, query-stage wrappers and write commands are plumbing, not
    * operators, and are not counted. */
  def nonCodegenOps(plan: SparkPlan): Int = nodes(plan).count {
    case (_: WholeStageCodegenExec | _: InputAdapter | _: AdaptiveSparkPlanExec |
          _: QueryStageExec | _: Exchange | _: ReusedExchangeExec |
          _: AQEShuffleReadExec | _: V2CommandExec | _: ExecutedCommandExec |
          _: DataWritingCommandExec, _) => false
    case (_, inCodegen) => !inCodegen
  }

  /** The plan's file scans as (metric id, bytes of the files read, rows
    * produced), from the scans' own SQL metrics. A scan under a cached
    * relation shows up in every plan that reads the cache; its metric id
    * lets the caller count it once. */
  def scans(plan: SparkPlan): Seq[(Long, Long, Long)] =
    nodes(plan, throughCache = true).collect { case (f: FileSourceScanExec, _) =>
      val bytes = f.metrics.get("filesSize")
      (bytes.map(_.id).getOrElse(-1L), bytes.map(_.value).getOrElse(0L),
        f.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }

  /** Self time of each layer over `spans`: a span's duration minus the part
    * of its interval that its children cover. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(iv => iv._2 > iv._1))
      s.layer -> math.max(0.0, (s.endMs - s.startMs) - covered)
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
  }

  private def union(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    ivs.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0.0)
  }
}
