package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Benchmark harness entry point. Runs one workload against the program
  * in this JVM and writes `report.json` to the output directory:
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --data DIR --out DIR
  *
  * Untraced, the whole window is measured with no instrumentation. Traced,
  * the first half is measured untraced and the second half with every
  * recorder on, so the report carries its own tracing overhead.
  */
object Main {
  /** Registry queries of the pipeline_ops workload: native text hashing,
    * simhash/minhash dedup, BPE, perplexity, vector distance and search.
    */
  val pipelineOps: Seq[String] = Seq(
    "text_fingerprint", "dedup_simhash_pairs", "dedup_minhash_lsh",
    "curation_lm_perplexity", "curation_bpe_tokens", "vector_l2_topk",
    "ann_brute_force_topk", "search_bm25_topk")

  def olapQueries: Seq[String] = SparkEntry.benchQueries.keys.toSeq.sorted

  private def arg(args: Array[String], k: String, default: String = null): String = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) args(i + 1)
    else Option(default).getOrElse(sys.error(s"missing $k"))
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace", "0") == "1"
    val dataDir = Paths.get(arg(args, "--data")).toAbsolutePath.toString
    val outDir = Paths.get(arg(args, "--out")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(outDir)
    Stats.penaltyMs = seconds * 1000.0
    val started = System.nanoTime()
    def log(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1fs $msg")

    val w: Workload = workload match {
      case "olap_tpch" => new DataFrameWorkload(olapQueries, dataDir)
      case "pipeline_ops" => new DataFrameWorkload(pipelineOps, dataDir)
      case "served_short" => new ServedShort(dataDir, seed, cores, rows(dataDir, "orders"))
      case "dml_mixed" => new DmlMixed(dataDir, seed, cores, math.min(5000L, rows(dataDir, "orders")))
      case other => sys.error(s"unknown workload $other")
    }
    val tracer = if (trace) Some(new Tracer) else None

    def session(): SparkSession = {
      val s = Tables.configure(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", outDir.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", outDir.resolve("spark-warehouse").toString))
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // set-up: session, engine, table load — several times, median reported
    val setupS = collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (cycle <- 1 to w.setups) {
      val t0 = System.nanoTime()
      spark = session()
      w.setup(spark, outDir, cycle, tracer)
      setupS += (System.nanoTime() - t0) / 1e9
      if (cycle < w.setups) {
        w.teardown()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    log("set up")
    val canary = Stats.median((1 to 3).map(_ => canaryOnce(spark)))
    w.warmup()
    log("warmed up")

    val untraced = new Phase
    w.measure(if (trace) seconds / 2 else seconds, untraced)
    val rssMb = peakRssMb()
    log("measured")

    // every attempted operation counts, traced half included
    val traced = new Phase
    val layers = tracer.map { t =>
      t.install(spark)
      t.enabled = true
      val gc0 = gcMs()
      val poll = w.engine.map(e => new LockPoller(e.stmtLock))
      w.measure(seconds / 2, traced)
      poll.foreach(_.stop())
      val gc = (gcMs() - gc0) / 1e3
      Thread.sleep(1500) // let the listener bus deliver the last events
      t.enabled = false
      Layers(w, t, untraced, traced, poll, canary, gc, olapQueries)
    }

    val checks = w.check(outDir)
    log("checked")
    val ops = untraced.opsSeq
    val all = ops ++ traced.opsSeq
    val reads = ops.filter(_.kind == "read")
    val writes = ops.filterNot(_.kind == "read")
    val failed = all.count(!_.ok)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "round_s" -> w.roundS(untraced),
      "stmts_per_s" -> ops.count(_.ok) / untraced.elapsedS,
      "read_p50_ms" -> Stats.pct(w.readMs(untraced), 50),
      "read_p75_ms" -> Stats.pct(w.readMs(untraced), 75),
      "peak_rss_mb" -> rssMb)
    val wh = w match { case d: DmlMixed => Some(d.warehouseDir); case _ => None }
    val extra = Map(
      "failed_frac" -> (if (all.isEmpty) 1.0 else failed.toDouble / all.size),
      "reads" -> reads.size, "writes" -> writes.size, "rounds" -> untraced.rounds.size,
      "write_p50_ms" -> Stats.pct(writes.map(_.ms), 50),
      "write_max_ms" -> Stats.pct(writes.map(_.ms), 100),
      "space_amp" -> wh.map(spaceAmp).getOrElse(0.0),
      "setup_samples_s" -> setupS,
      "query_wall_s" -> untraced.queryWalls.asScala.map { case (q, xs) =>
        q -> Stats.median(xs.asScala) },
      "errors" -> all.filterNot(_.ok).take(5).map(o => s"${o.text.take(120)}: ${o.error}"))
    val provenance = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "master" -> s"local[$cores]", "clients" -> w.clients,
      "data" -> dataDir, "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"), "canary_s" -> canary,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    Json.write(outDir.resolve("report.json"), Map(
      "provenance" -> provenance, "e2e" -> e2e, "extra" -> extra,
      "layers" -> layers.getOrElse(Map.empty), "attempted" -> all.size,
      "failed" -> failed, "checks" -> checks))
    w.teardown()
    spark.stop()
  }

  private def rows(dir: String, table: String): Long = {
    val f = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/$table.parquet"),
        new org.apache.hadoop.conf.Configuration()))
    try f.getRecordCount finally f.close()
  }

  /** `graft.Bench`'s host canary: a CPU-bound codegen'd sum, no IO. */
  def canaryOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 26).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Sum of the heap pools' peak use since start, in MB. */
  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / (1 << 20).toDouble

  /** Peak resident set of this process (the engine), from VmHWM. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** (live + history bytes) / live table bytes under the warehouse. */
  def spaceAmp(wh: Path): Double = {
    val total = Fs.bytes(wh)
    val live = Fs.bytes(wh, p => !wh.relativize(p).toString.startsWith("."))
    if (live == 0) 0.0 else total.toDouble / live
  }
}

/** Samples the statement lock's queue length and write-held state every
  * millisecond, and keeps the wall-clock intervals it was write-held.
  */
final class LockPoller(lock: java.util.concurrent.locks.ReentrantReadWriteLock) {
  @volatile private var running = true
  var samples = 0L
  var queued = 0L
  var writeHeld = 0L
  val writeIntervals = collection.mutable.ArrayBuffer.empty[(Long, Long)]
  private val t = new Thread(() => {
    var since = -1L
    while (running) {
      samples += 1
      queued += lock.getQueueLength
      val now = System.currentTimeMillis()
      if (lock.isWriteLocked) {
        writeHeld += 1
        if (since < 0) since = now
      } else if (since >= 0) {
        writeIntervals += ((since, now)); since = -1
      }
      Thread.sleep(1)
    }
    if (since >= 0) writeIntervals += ((since, System.currentTimeMillis()))
  }, "perfbench-lock-poll")
  t.setDaemon(true)
  t.start()
  def stop(): Unit = { running = false; t.join() }
}
