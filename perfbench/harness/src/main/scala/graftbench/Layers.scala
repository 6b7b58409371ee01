package graftbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import graft.engine.Engine

/** Per-layer metrics of a traced phase. Every workload reports the same
  * names; a layer the workload does not cross reports 0.
  */
object Layers {
  private val writeKinds = Seq("insert", "update", "delete", "merge")

  def apply(w: Workload, t: Tracer, untraced: Phase, traced: Phase,
      poll: Option[LockPoller], canaryS: Double, gcS: Double,
      queryNames: Seq[String]): Map[String, Double] = {
    val attr = new Attribution(t)
    val ops = traced.opsSeq.filter(_.ok)
    val reads = ops.filter(_.kind == "read")
    val served = w.engine.isDefined
    val per = ops.map(o => o -> attr.stmt(o.group, o.start, o.end)).toMap
    val readLayers = reads.map(per)
    val n = math.max(1, ops.size).toDouble
    def p50(xs: Seq[Double]) = Stats.median(xs)
    def mb(b: Long) = b / 1e6
    val tasks = per.values.flatMap(_.taskList).toSeq.distinct

    val m = collection.mutable.LinkedHashMap[String, Double]()
    // a read waits for stmtLock in the server before Engine.run; the
    // poller's write-held intervals bound that wait from outside
    def lockWait(o: Op): Double = poll.map(p =>
      attr.covered(p.writeIntervals.toSeq, o.start, per(o).engineStart).toDouble).getOrElse(0.0)
    // wire: client latency minus the engine-side span and the lock wait
    m("wire.ms_p50") =
      if (served) p50(reads.map(o => (o.ms - per(o).engineMs - lockWait(o)).max(0.0))) else 0.0
    m("wire.bytes_per_stmt") = if (served) ops.map(_.bytes).sum / n else 0.0
    // text + route
    val (textMs, textPasses) = w.engine.map(e => TextProbe(e, w.texts)).getOrElse((0.0, 0))
    m("text.ms_p50") = textMs
    m("text.passes") = textPasses.toDouble
    m("route.ms_p50") = if (served) p50(readLayers.map(_.routeMs)) else 0.0
    val hits = readLayers.flatMap(_.hit)
    m("plancache.hit_ratio") = if (hits.isEmpty) 0.0 else hits.count(identity).toDouble / hits.size
    // catalyst, per statement (per query on the DataFrame path)
    val stmts = if (served) readLayers else per.values.toSeq
    for ((k, phase) <- Seq("parse" -> "parsing", "analysis" -> "analysis",
        "optimization" -> "optimization", "planning" -> "planning"))
      m(s"catalyst.${k}_ms_p50") = p50(stmts.map(_.catalyst.getOrElse(phase, 0.0)))
    m("catalyst.qe_per_stmt") = per.values.map(_.qes).sum / n
    // scheduler
    m("sched.jobs_per_stmt") = per.values.map(_.jobs).sum / n
    m("sched.stages_per_stmt") = per.values.map(_.stages).sum / n
    m("sched.tasks_per_stmt") = per.values.map(_.tasks).sum / n
    m("sched.delay_ms_p50") = p50(per.values.flatMap(_.delays).toSeq)
    m("sched.floor_ms_per_stmt") = per.values.map(_.floorMs).sum / n
    // executors, totals per completed operation
    m("exec.run_s") = tasks.map(_.runMs).sum / 1e3 / n
    m("exec.cpu_s") = tasks.map(_.cpuNs).sum / 1e9 / n
    m("exec.gc_s") = tasks.map(_.gcMs).sum / 1e3 / n
    m("exec.input_mb") = mb(tasks.map(_.inBytes).sum) / n
    m("exec.shuffle_read_mb") = mb(tasks.map(_.shufR).sum) / n
    m("exec.shuffle_write_mb") = mb(tasks.map(_.shufW).sum) / n
    m("exec.spill_mb") = mb(tasks.map(_.spill).sum) / n
    // query build (DataFrame path) and per-query wall
    m("build.ms_sum") = Stats.median(traced.buildMs.asScala)
    queryNames.distinct.foreach { q =>
      m(s"query.$q.wall_s") = Option(traced.queryWalls.get(q))
        .map(x => Stats.median(x.asScala)).getOrElse(0.0)
    }
    // commit path: engine-side span of each write kind
    def engineP50(kind: String) =
      p50(ops.filter(_.kind == kind).map(o => per(o).runMs))
    writeKinds.foreach(k => m(s"commit.${k}_ms_p50") = engineP50(k))
    m("ivm.refresh_ms_p50") = engineP50("refresh")
    val writeTasks = ops.filterNot(_.kind == "read").flatMap(o => per(o).taskList).distinct
    val written = writeTasks.map(_.outBytes).sum
    m("commit.bytes_written_mb") = mb(written)
    val wh = w match { case d: DmlMixed => Some(d.warehouseDir); case _ => None }
    val (liveBytes, liveFiles, historyBytes, liveRows) = wh.map(warehouse(_, w.engine.get))
      .getOrElse((0L, 0L, 0L, 0L))
    // base: rows the client changed x live bytes per row
    val changedRows = ops.filterNot(o => o.kind == "read" || o.kind == "refresh")
      .map(rowsChanged).sum
    val userBytes = if (liveRows == 0) 0.0 else changedRows * liveBytes.toDouble / liveRows
    m("commit.write_amp") = if (userBytes == 0) 0.0 else written / userBytes
    m("commit.live_files") = liveFiles.toDouble
    m("commit.history_mb") = mb(historyBytes)
    // statement lock
    m("lock.queue_len_mean") = poll.map(p => p.queued.toDouble / math.max(1L, p.samples)).getOrElse(0.0)
    m("lock.write_held_frac") = poll.map(p => p.writeHeld.toDouble / math.max(1L, p.samples)).getOrElse(0.0)
    m("lock.read_wait_ms_p50") = if (served) p50(reads.map(lockWait)) else 0.0
    // host / JVM
    m("host.canary_s") = canaryS
    m("jvm.gc_s") = gcS
    m("jvm.heap_peak_mb") = Main.heapPeakMb()
    // client-observed write latency and space amplification (dml_mixed)
    val writes = ops.filterNot(_.kind == "read").map(_.ms)
    m("dml.write_p50_ms") = Stats.pct(writes, 50)
    m("dml.write_max_ms") = Stats.pct(writes, 100)
    m("dml.space_amp") = wh.map(Main.spaceAmp).getOrElse(0.0)
    // tracing overhead on the workload's headline figure
    def headline(p: Phase) =
      if (served) Stats.median(p.opsSeq.filter(_.kind == "read").map(_.ms))
      else w.roundS(p)
    val base = headline(untraced)
    m("trace.overhead_frac") = if (base == 0) 0.0 else (headline(traced) - base) / base
    m.toMap
  }

  /** Rows a write statement touched, from its text (the writer issues
    * fixed shapes: multi-row INSERT VALUES, single-key UPDATE/DELETE, 2-row
    * MERGE).
    */
  private def rowsChanged(o: Op): Long = o.kind match {
    case "insert" | "stage_insert" => o.text.count(_ == '(').toLong
    case "merge" => 2L
    case _ => 1L
  }

  /** (live bytes, live parquet files, history bytes, live rows of acct) */
  private def warehouse(wh: Path, e: Engine): (Long, Long, Long, Long) = {
    def live(p: Path) = !wh.relativize(p).toString.startsWith(".")
    val rows = e.run("select count(*) from acct").collect()(0).getLong(0)
    (Fs.bytes(wh, live), Fs.count(wh, p => live(p) && p.toString.endsWith(".parquet")),
      Fs.bytes(wh.resolve(".history")), rows)
  }
}

/** The text layer, measured by calling the program's SQL text passes
  * directly on the statements the workload sent: comment stripping,
  * literal conforming, QUALIFY rewriting (`graft.engine.SqlText`) and
  * function inlining (`Engine.inlineFunctions`). Looked up by name, as
  * `SqlText` is not public, so a pass that is renamed or removed does not
  * break the build. It is not silent either: the probe returns how many of
  * the four passes it found next to the median ms per statement, reported
  * as `text.passes`, and warns when one is missing.
  */
object TextProbe {
  val Passes = 4

  def apply(e: Engine, texts: Seq[String]): (Double, Int) = {
    val fns: Seq[String => String] = {
      val st = scala.util.Try {
        val cls = Class.forName("graft.engine.SqlText$")
        val mod = cls.getField("MODULE$").get(null)
        Seq("stripComments", "conformLiterals", "rewriteQualify").flatMap { n =>
          scala.util.Try(cls.getMethod(n, classOf[String])).toOption
            .map(m => (s: String) => m.invoke(mod, s).asInstanceOf[String])
        }
      }.getOrElse(Nil)
      val inl = scala.util.Try(e.getClass.getMethod("inlineFunctions", classOf[String]))
        .toOption.map(m => (s: String) => m.invoke(e, s).asInstanceOf[String])
      st ++ inl
    }
    if (fns.size < Passes)
      System.err.println(s"[perfbench] warning: found ${fns.size} of $Passes SQL text passes; " +
        "text.ms_p50 covers only those")
    if (fns.isEmpty || texts.isEmpty) return (0.0, fns.size)
    val sample = texts.take(400)
    val reps = 20
    sample.foreach(s => fns.foreach(_(s))) // warm
    val ms = Stats.median(sample.map { s =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < reps) { fns.foreach(_(s)); i += 1 }
      (System.nanoTime() - t0) / 1e6 / reps
    })
    (ms, fns.size)
  }
}
