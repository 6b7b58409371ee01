package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{Engine, Session}

/** Span and event recorder for the traced run. Everything here observes
  * the program from outside: a SparkListener and a QueryExecutionListener
  * registered on the session the harness creates, and [[TracedEngine]],
  * which times each call into the public `Engine.run(sql, session)`.
  * Records stay in memory until the run ends; `enabled` gates recording
  * so one run can measure an untraced phase and then a traced one.
  */
final class Tracer {
  @volatile var enabled = false

  final case class Job(id: Int, group: String, start: Long, var end: Long,
      stages: Seq[Int])
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, inBytes: Long, shufR: Long, shufW: Long,
      spill: Long, outBytes: Long)
  /** One Catalyst phase of one QueryExecution, wall-clock ms. */
  final case class Phase(execId: Long, name: String, start: Long, end: Long)
  /** One call into Engine.run: its job group, wall interval and whether
    * it returned a plan seen before (a plan-cache hit).
    */
  final case class EngineSpan(group: String, start: Long, end: Long,
      startNs: Long, endNs: Long, hit: Boolean)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  val execGroup = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  val spans = new ConcurrentLinkedQueue[EngineSpan]()
  private val seenPlans = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, g, e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (enabled) e.stageInfo.submissionTime.foreach(t =>
        stageSubmit.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if enabled =>
        execGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
      case _ => ()
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit =
      if (enabled) record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      if (enabled) record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Phase(qe.id, name, p.startTimeMs, p.endTimeMs))
      }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Times one Engine.run call made by the program's own front end. */
  def engineRun(spark: SparkSession, body: => DataFrame): DataFrame = {
    if (!enabled) return body
    val group = Option(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
      .getOrElse("")
    val (s, sNs) = (System.currentTimeMillis(), System.nanoTime())
    var hit = false
    try {
      val df = body
      if (df != null) {
        val qe = df.queryExecution
        hit = seenPlans.put(qe, java.lang.Boolean.TRUE) != null
      }
      df
    } finally spans.add(EngineSpan(group, s, System.currentTimeMillis(),
      sNs, System.nanoTime(), hit))
  }
}

/** An Engine whose `run(sql, session)` — the entry point the pgwire
  * server calls for every statement — is timed by a [[Tracer]].
  */
final class TracedEngine(spark: SparkSession, warehouse: String, tracer: Tracer)
    extends Engine(spark, warehouse) {
  override def run(sql: String, session: Session): DataFrame =
    tracer.engineRun(spark, super.run(sql, session))
}

/** Per-statement attribution of recorded events. A statement is a window
  * [start, end] (wall-clock ms) on one job group ("" on the DataFrame
  * path, where one thread runs queries back to back); an event belongs to
  * it when its group matches and it starts inside the window.
  */
final class Attribution(val t: Tracer) {
  private val jobs = t.jobs.values.asScala.toVector
  private val tasksByStage = t.tasks.asScala.toVector.groupBy(_.stage)
  private val phasesAll = t.phases.asScala.toVector
  private val spans = t.spans.asScala.toVector

  private def inWin(x: Long, s: Long, e: Long) = x >= s - 1 && x <= e + 1

  final case class StmtLayers(engineStart: Long, engineMs: Double, routeMs: Double,
      catalyst: Map[String, Double], qes: Int, jobs: Int, stages: Int,
      tasks: Int, floorMs: Double, delays: Seq[Double], taskList: Seq[t.Task],
      hit: Option[Boolean], runMs: Double)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur = Long.MinValue
    c.foreach { case (a, b) =>
      val from = math.max(a, cur)
      if (b > from) { total += b - from; cur = b }
    }
    total
  }

  def stmt(group: String, start: Long, end: Long): StmtLayers = {
    val js = jobs.filter(j => j.group == group && inWin(j.start, start, end))
    val stageIds = js.flatMap(_.stages).filter(t.stageSubmit.containsKey)
    val ts = stageIds.flatMap(s => tasksByStage.getOrElse(s, Vector.empty))
    val floor = js.map { j =>
      val e = if (j.end < 0) end else j.end
      val iv = j.stages.flatMap(s => tasksByStage.getOrElse(s, Vector.empty))
        .map(k => (k.launch, k.finish))
      (e - j.start) - covered(iv, j.start, e)
    }.sum
    val delays = stageIds.flatMap(s => tasksByStage.getOrElse(s, Vector.empty)
      .map(k => (k.launch - t.stageSubmit.get(s)).toDouble))
    val ph = phasesAll.filter(p =>
      Option(t.execGroup.get(p.execId)).getOrElse(group) == group &&
        inWin(p.start, start, end))
    val cat = Seq(QueryPlanningTracker.PARSING, QueryPlanningTracker.ANALYSIS,
      QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
      .map(n => n -> ph.filter(_.name == n).map(p => (p.end - p.start).toDouble).sum)
      .toMap
    val sp = spans.filter(s => s.group == group && inWin(s.start, start, end))
    val runMs = sp.map(s => (s.endNs - s.startNs) / 1e6).sum
    // engine-side span: first Engine.run entry to the later of its return
    // and the statement's last job end (reads execute after run returns)
    val engineMs =
      if (sp.isEmpty) 0.0
      else {
        val lastJob = (js.map(_.end).filter(_ > 0) :+ sp.map(_.end).max).max
        (lastJob - sp.map(_.start).min).toDouble.max(runMs)
      }
    // route: Engine.run wall not covered by Catalyst phases or jobs
    val routeMs = sp.map { s =>
      val iv = ph.map(p => (p.start, p.end)) ++
        js.map(j => (j.start, if (j.end < 0) s.end else j.end))
      ((s.endNs - s.startNs) / 1e6 - covered(iv, s.start, s.end)).max(0.0)
    }.sum
    StmtLayers(if (sp.isEmpty) end else sp.map(_.start).min, engineMs, routeMs, cat, ph.map(_.execId).distinct.size,
      js.size, stageIds.size, ts.size, floor.toDouble, delays, ts,
      if (sp.isEmpty) None else Some(sp.exists(_.hit)), runMs)
  }
}
