package graftbench

import java.net.{InetAddress, ServerSocket}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Server, SparkEntry, Tables}
import graft.engine.Engine

/** One client-observed operation: latency in ms, and the wall-clock
  * window (epoch ms) used to attribute Spark's events to it.
  */
final case class Op(kind: String, ms: Double, ok: Boolean, group: String,
    start: Long, end: Long, bytes: Long, text: String, error: String)

/** What one measurement phase observed. */
final class Phase {
  val ops = new ConcurrentLinkedQueue[Op]()
  /** wall seconds of each completed round (pass or client cycle) */
  val rounds = new ConcurrentLinkedQueue[Double]()
  /** DataFrame path: per-query wall seconds and per-pass build ms */
  val queryWalls = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  val buildMs = new ConcurrentLinkedQueue[Double]()
  var elapsedS = 0.0

  def opsSeq: Vector[Op] = ops.asScala.toVector
  def add(op: Op): Unit = ops.add(op)
}

/** A workload: set up on a fresh session, warm up, measure for a number
  * of seconds, then produce the material its correctness checks need.
  */
trait Workload {
  /** Set-ups per run; `setup_s` is their median. The first also carries
    * JVM class loading, so the median is a warm set-up.
    */
  def setups: Int = 3
  def setup(spark: SparkSession, runDir: Path, cycle: Int, tracer: Option[Tracer]): Unit
  def teardown(): Unit = ()
  def warmup(): Unit
  def measure(seconds: Double, phase: Phase): Unit
  /** Runs the output checks (outside the timed window); returns check
    * results for the report. Checks that need DuckDB leave material in
    * `outDir` for the runner.
    */
  def check(outDir: Path): Map[String, Any]
  /** Statement texts seen by the program, for the text-layer probe. */
  def texts: Seq[String] = Nil
  def engine: Option[Engine] = None
  def clients: Int
  /** Wall seconds of one round: by default the median complete round. */
  def roundS(p: Phase): Double = Stats.median(p.rounds.asScala)
  /** Read latencies the read percentiles are taken over: every read. */
  def readMs(p: Phase): Seq[Double] = p.opsSeq.filter(_.kind == "read").map(_.ms)
}

object Clock {
  def now(): (Long, Long) = (System.currentTimeMillis(), System.nanoTime())
}

/** The DataFrame path: registry queries built by their Scala functions and
  * fully materialized to the noop sink, one client, sequential passes.
  */
final class DataFrameWorkload(names: Seq[String], dataDir: String) extends Workload {
  private var spark: SparkSession = _
  private lazy val registry = SparkEntry.registry
  val clients = 1
  /** A set-up here is only about 0.3 s, so one slow one moved a median of
    * 3 by up to 30%; seven cost about 2 s.
    */
  override def setups: Int = 7

  private var results: Path = _
  private val failedChecks = collection.mutable.ArrayBuffer.empty[String]

  def setup(s: SparkSession, runDir: Path, cycle: Int, tracer: Option[Tracer]): Unit = {
    spark = s
    results = runDir.resolve("results")
    Tables.register(spark, dataDir)
  }

  /** Runs one query into the noop sink; returns the ms spent building it. */
  private def runQuery(name: String, p: Phase): Double = {
    spark.catalog.clearCache()
    val (s, sNs) = Clock.now()
    var ok = true
    var err: String = null
    var built = 0.0
    try {
      val df = registry(name).fn(spark, dataDir)
      built = (System.nanoTime() - sNs) / 1e6
      df.write.format("noop").mode("overwrite").save()
    } catch {
      case e: Throwable => ok = false; err = String.valueOf(e.getMessage)
    }
    val ms = (System.nanoTime() - sNs) / 1e6
    p.add(Op("read", if (ok) ms else Stats.penaltyMs, ok, "", s,
      System.currentTimeMillis(), 0L, name, err))
    if (ok) p.queryWalls.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]())
      .add(ms / 1e3)
    built
  }

  /** The warm-up pass writes each result as parquet for the oracle
    * check, so checking costs no extra pass.
    */
  def warmup(): Unit = names.foreach { n =>
    spark.catalog.clearCache()
    try registry(n).fn(spark, dataDir).write.mode("overwrite")
      .parquet(results.resolve(n).toString)
    catch { case _: Throwable => failedChecks += n }
  }

  def measure(seconds: Double, phase: Phase): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // whole passes while the window is open; the last may end after it, so
    // a pass shorter than the window gives each query at least two samples
    do {
      val p0 = System.nanoTime()
      var build = 0.0
      names.foreach { n => build += runQuery(n, phase) }
      phase.rounds.add((System.nanoTime() - p0) / 1e9)
      phase.buildMs.add(build)
    } while (System.nanoTime() < deadline)
    phase.elapsedS = (System.nanoTime() - t0) / 1e9
  }

  /** Each query's median wall (ms) over the run's passes: a host slow
    * phase during one pass moves one sample per query, not the figure. A
    * failed query is a sample as long as the window, and fails the run.
    */
  private def queryMedians(p: Phase): Seq[Double] =
    p.opsSeq.groupBy(_.text).values.map(ops => Stats.median(ops.map(_.ms))).toSeq

  /** One pass, composed from each query's median wall. */
  override def roundS(p: Phase): Double = queryMedians(p).sum / 1e3

  /** Read percentiles are order statistics of the query list. */
  override def readMs(p: Phase): Seq[Double] = queryMedians(p)

  def check(outDir: Path): Map[String, Any] = {
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Json.write(outDir.resolve("oracle_sql.json"), oracles)
    Map("results_written" -> (names.size - failedChecks.size),
      "results_failed" -> failedChecks.toSeq,
      "without_oracle" -> names.filterNot(oracles.contains))
  }
}

/** Shared parts of the served workloads: the program's pgwire server on
  * an ephemeral loopback port over an Engine on a fresh warehouse.
  */
abstract class ServedWorkload(dataDir: String, seed: Long, val clients: Int) extends Workload {
  protected var spark: SparkSession = _
  protected var eng: Engine = _
  protected var warehouse: Path = _
  private var socket: ServerSocket = _
  private var serveThread: Thread = _
  protected val textLog = new ConcurrentLinkedQueue[String]()
  override def engine: Option[Engine] = Option(eng)
  override def texts: Seq[String] = textLog.asScala.toVector.distinct

  /** DDL/CTAS run through the engine once the server is up. */
  protected def load(): Unit

  def setup(s: SparkSession, runDir: Path, cycle: Int, tracer: Option[Tracer]): Unit = {
    spark = s
    warehouse = runDir.resolve(s"warehouse-$cycle")
    Fs.rmrf(warehouse)
    eng = tracer match {
      case Some(t) => new TracedEngine(spark, warehouse.toString, t)
      case None => new Engine(spark, warehouse.toString)
    }
    load()
    socket = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
    val sock = socket
    val e = eng
    serveThread = new Thread(() => Server.serve(sock, e), "perfbench-serve")
    serveThread.setDaemon(true)
    serveThread.start()
  }

  override def teardown(): Unit = {
    if (socket != null) socket.close()
    if (serveThread != null) serveThread.join(10000)
  }

  protected def connect(): Pg = new Pg(socket.getLocalPort)

  /** Runs one statement on `pg` and records it. */
  protected def timed(pg: Pg, phase: Option[Phase], kind: String, sql: String,
      params: Seq[String]): Pg#Result = {
    val b0 = pg.bytesSent + pg.bytesRecv
    val (s, sNs) = Clock.now()
    val r =
      try if (params.isEmpty) pg.query(sql) else pg.execute(sql, params)
      catch { case e: Exception => pg.Result(Vector.empty, String.valueOf(e)) }
    val ms = (System.nanoTime() - sNs) / 1e6
    val ok = r.error == null
    phase.foreach(_.add(Op(kind, if (ok) ms else Stats.penaltyMs, ok,
      s"pgwire-session-${pg.pid}", s, System.currentTimeMillis(),
      pg.bytesSent + pg.bytesRecv - b0, Pg.inline(sql, params), r.error)))
    r
  }

  /** Warm-up (no phase) runs one cycle per client. A measured phase keeps
    * every client busy until the deadline, checked before each statement,
    * so writer and readers contend for the whole window.
    */
  protected def deadline(seconds: Double, phase: Option[Phase]): () => Boolean =
    if (phase.isEmpty) () => true
    else {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      () => System.nanoTime() < end
    }

  /** Runs `body(client)` on `n` threads and waits for all; a client that
    * throws fails the run.
    */
  protected def parallel(n: Int)(body: Int => Unit): Unit = {
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { i =>
      val t = new Thread(() => try body(i) catch { case e: Throwable => errs.add(e) },
        s"perfbench-client-$i")
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }
}

/** The read mix: point lookups with seeded random keys, one repeated
  * dashboard aggregate, and small range scans — one round is one cycle.
  * The 5:1:2 proportions are a design choice, not a measured trace (see
  * perfbench/METRICS.md): mostly plan-cache misses, as keys are drawn from
  * far more values than the cache holds, one cache hit per cycle, and range
  * scans as the reads that return more than one row.
  */
final class ReadMix(table: String, key: String, cols: String, amount: String,
    status: String, keys: () => Long) {
  val point = s"select $cols from $table where $key = cast($$1 as bigint)"
  val dashboard = s"select $status, count(*) as n, sum($amount) as amount " +
    s"from $table group by $status order by $status"
  val range = s"select $key, $amount from $table where $key between " +
    s"cast($$1 as bigint) and cast($$2 as bigint) order by $key"
  /** (kind, sql, params) for one cycle */
  def cycle(): Seq[(String, String, Seq[String])] = {
    def pt = ("read", point, Seq(keys().toString))
    def rg = {
      val k = keys()
      ("read", range, Seq(k.toString, (k + 20).toString))
    }
    Seq(pt, pt, ("read", dashboard, Nil), pt, rg, pt, pt, rg)
  }
}

/** served_short: `clients` closed-loop pgwire clients, reads only. */
final class ServedShort(dataDir: String, seed: Long, clients: Int, orderRows: Long)
    extends ServedWorkload(dataDir, seed, clients) {
  private val recorded = new ConcurrentLinkedQueue[(String, Vector[Vector[String]])]()

  protected def load(): Unit =
    eng.run(s"create table orders as select o_orderkey, o_custkey, o_orderstatus, " +
      s"o_totalprice, o_orderdate from parquet.`$dataDir/orders.parquet`").collect()

  private def loop(seconds: Double, phase: Option[Phase], record: Boolean, salt: Int): Unit = {
    val live = deadline(seconds, phase)
    parallel(clients) { c =>
      val rng = new java.util.Random(seed * 1000003L + c * 7919L + salt)
      val mix = new ReadMix("orders", "o_orderkey",
        "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate",
        "cast(round(o_totalprice * 100) as bigint)", "o_orderstatus",
        () => (rng.nextDouble() * orderRows).toLong)
      val pg = connect()
      try {
        do {
          val c0 = System.nanoTime()
          var allOk = true
          mix.cycle().foreach { case (kind, sql, params) =>
            if (live()) {
              val r = timed(pg, phase, kind, sql, params)
              allOk &&= r.error == null
              textLog.add(Pg.inline(sql, params))
              if (record && r.error == null) recorded.add((Pg.inline(sql, params), r.rows))
            } else allOk = false
          }
          if (allOk) phase.foreach(_.rounds.add((System.nanoTime() - c0) / 1e9))
        } while (phase.isDefined && live())
      } finally pg.close()
    }
  }

  def warmup(): Unit = loop(0.0, None, record = false, salt = 1)

  def measure(seconds: Double, phase: Phase): Unit = {
    val t0 = System.nanoTime()
    loop(seconds, Some(phase), record = true, salt = 2)
    phase.elapsedS = (System.nanoTime() - t0) / 1e9
  }

  def check(outDir: Path): Map[String, Any] = {
    val lines = recorded.asScala.map { case (sql, rows) =>
      Json(Map("sql" -> sql, "rows" -> rows))
    }
    Files.write(outDir.resolve("served_reads.jsonl"), lines.asJava)
    Map("reads_recorded" -> lines.size)
  }
}

/** dml_mixed: one writer cycling INSERT / UPDATE / DELETE / MERGE /
  * REFRESH MATERIALIZED VIEW on `acct`, beside `clients - 1` readers
  * running the served read mix on the same table. The writer keeps a
  * model of every acknowledged write; the checks compare the table, a
  * freshly opened Engine on the same warehouse, and the matview to it.
  */
final class DmlMixed(dataDir: String, seed: Long, clients: Int, acctRows: Long)
    extends ServedWorkload(dataDir, seed, clients) {
  /** id -> (cust, cents, status) */
  private val model = collection.concurrent.TrieMap[Long, (Long, Long, String)]()
  @volatile private var cycleNo = 0L
  private val mvSql = "select status, count(*) as n, sum(cents) as cents from acct group by status"

  protected def load(): Unit = {
    val src = s"parquet.`$dataDir/orders.parquet`"
    eng.run(s"create table acct as select o_orderkey as id, o_custkey as cust, " +
      s"cast(round(o_totalprice * 100) as bigint) as cents, o_orderstatus as status " +
      s"from $src where o_orderkey < $acctRows").collect()
    eng.run("create table stage (batch bigint, id bigint, cust bigint, cents bigint)").collect()
    eng.run("create view stage_cur as select id, cust, cents from stage " +
      "where batch = (select max(batch) from stage)").collect()
    eng.run(s"create materialized view acct_mv as $mvSql").collect()
    // the model starts from the source rows, read without the engine
    model.clear()
    spark.read.parquet(s"$dataDir/orders.parquet")
      .where(s"o_orderkey < $acctRows")
      .selectExpr("o_orderkey", "o_custkey",
        "cast(round(o_totalprice * 100) as bigint)", "o_orderstatus")
      .collect().foreach(r => model.put(r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
    cycleNo = 0
  }

  /** One writer cycle; returns whether every write was acknowledged. A
    * statement is not issued once `live` turns false. The cycle is a design
    * choice, not a measured trace (see perfbench/METRICS.md): one statement
    * of each commit kind per cycle, so each kind is sampled equally often,
    * and a REFRESH every cycle, so the matview is never more than one cycle
    * stale and IVM runs on every batch of changes.
    */
  private def writerCycle(pg: Pg, rng: java.util.Random, phase: Option[Phase],
      live: () => Boolean): Boolean = {
    cycleNo += 1
    val base = 1000000000L + cycleNo * 100
    def pick(): Long = {
      val ks = model.keysIterator
      val n = rng.nextInt(math.max(1, model.size))
      ks.drop(n).next()
    }
    def w(kind: String, sql: String)(apply: => Unit): Boolean = live() && {
      textLog.add(sql)
      val ok = timed(pg, phase, kind, sql, Nil).error == null
      if (ok) apply
      ok
    }
    val ins = (0 until 5).map(j => (base + j, rng.nextInt(15000).toLong, rng.nextInt(1000000).toLong))
    val ok1 = w("insert", "insert into acct values " +
      ins.map { case (i, c, v) => s"($i, $c, $v, 'N')" }.mkString(", ")) {
      ins.foreach { case (i, c, v) => model.put(i, (c, v, "N")) }
    }
    val ku = pick()
    val ok2 = w("update", s"update acct set cents = cents + 7, status = 'U' where id = $ku") {
      model.get(ku).foreach { case (c, v, _) => model.put(ku, (c, v + 7, "U")) }
    }
    val kd = pick()
    val ok3 = w("delete", s"delete from acct where id = $kd")(model.remove(kd))
    val km = pick()
    val mrows = Seq((km, 77L, rng.nextInt(1000000).toLong), (base + 50, 88L, rng.nextInt(1000000).toLong))
    val ok4 = w("stage_insert", "insert into stage values " +
      mrows.map { case (i, c, v) => s"($cycleNo, $i, $c, $v)" }.mkString(", "))(())
    val ok5 = ok4 && w("merge", "merge into acct using stage_cur on acct.id = stage_cur.id " +
      "when matched then update set cents = stage_cur.cents, status = 'M' " +
      "when not matched then insert (id, cust, cents, status) " +
      "values (stage_cur.id, stage_cur.cust, stage_cur.cents, 'M')") {
      mrows.foreach { case (i, c, v) =>
        model.get(i) match {
          case Some((c0, _, _)) => model.put(i, (c0, v, "M"))
          case None => model.put(i, (c, v, "M"))
        }
      }
    }
    val ok6 = w("refresh", "refresh materialized view acct_mv")(())
    ok1 && ok2 && ok3 && ok4 && ok5 && ok6
  }

  private def loop(seconds: Double, phase: Option[Phase], salt: Int): Unit = {
    val live = deadline(seconds, phase)
    parallel(clients) { c =>
      val rng = new java.util.Random(seed * 1000003L + c * 7919L + salt)
      val pg = connect()
      try {
        if (c == 0) {
          do {
            val c0 = System.nanoTime()
            if (writerCycle(pg, rng, phase, live))
              phase.foreach(_.rounds.add((System.nanoTime() - c0) / 1e9))
          } while (phase.isDefined && live())
        } else {
          val mix = new ReadMix("acct", "id", "id, cust, cents, status", "cents",
            "status", () => (rng.nextDouble() * acctRows).toLong)
          do {
            mix.cycle().foreach { case (kind, sql, params) =>
              if (live()) {
                timed(pg, phase, kind, sql, params)
                textLog.add(Pg.inline(sql, params))
              }
            }
          } while (phase.isDefined && live())
        }
      } finally pg.close()
    }
  }

  def warmup(): Unit = loop(0.0, None, salt = 1)

  /** One writer cycle, composed from the median latency of each of its
    * statements: a run holds only a few whole cycles, but several samples
    * of every statement.
    */
  override def roundS(p: Phase): Double =
    Seq("insert", "update", "delete", "stage_insert", "merge", "refresh").map { k =>
      Stats.median(p.opsSeq.filter(_.kind == k).map(_.ms)) / 1e3
    }.sum

  def measure(seconds: Double, phase: Phase): Unit = {
    val t0 = System.nanoTime()
    loop(seconds, Some(phase), salt = 2)
    phase.elapsedS = (System.nanoTime() - t0) / 1e9
  }

  /** Rows as a multiset (row -> count), so a duplicated row is seen. */
  private def bag[T](rows: Iterable[T]): Map[T, Int] =
    rows.groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def tableRows(e: Engine): Map[(Long, Long, Long, String), Int] =
    bag(e.run("select id, cust, cents, status from acct").collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))))

  private def mvRows(e: Engine): Map[(String, Long, Long), Int] =
    bag(e.run("select status, n, cents from acct_mv").collect().toSeq.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))))

  private def rowCount(e: Engine): Long = e.run("select count(*) from acct").collect()(0).getLong(0)

  /** Multiset difference: rows missing from `got`, and rows in excess. */
  private def diff[T](got: Map[T, Int], want: Map[T, Int]): Map[String, Any] = {
    def minus(a: Map[T, Int], b: Map[T, Int]) =
      a.iterator.flatMap { case (r, n) => Iterator.fill(n - b.getOrElse(r, 0))(r) }.toSeq
    val (missing, extra) = (minus(want, got), minus(got, want))
    Map("missing" -> missing.size, "extra" -> extra.size,
      "sample" -> (missing.take(3) ++ extra.take(3)).map(_.toString))
  }

  def check(outDir: Path): Map[String, Any] = {
    val pg = connect()
    val refreshed = try pg.query("refresh materialized view acct_mv").error == null
      finally pg.close()
    val want = bag(model.iterator.map { case (i, (c, v, s)) => (i, c, v, s) }.toSeq)
    val mvWant = bag(want.keys.groupBy(_._4).map { case (s, rs) =>
      (s, rs.size.toLong, rs.toSeq.map(_._3).sum) })
    val reopenedEng = new Engine(spark, warehouse.toString)
    val (live, reopened) = (tableRows(eng), tableRows(reopenedEng))
    val (liveCount, reopenedCount) = (rowCount(eng), rowCount(reopenedEng))
    val (mvLive, mvReopened) = (mvRows(eng), mvRows(reopenedEng))
    Map(
      "model_rows" -> model.size, "live_count" -> liveCount, "reopen_count" -> reopenedCount,
      "table_equals_model" -> (live == want && liveCount == model.size),
      "table_diff" -> diff(live, want),
      "reopen_equals_model" -> (reopened == want && reopenedCount == model.size),
      "reopen_diff" -> diff(reopened, want),
      "final_refresh_ok" -> refreshed,
      "matview_equals_query" -> (refreshed && mvLive == mvWant && mvReopened == mvWant),
      "matview_diff" -> diff(mvLive, mvWant), "matview_reopen_diff" -> diff(mvReopened, mvWant))
  }

  def warehouseDir: Path = warehouse
}
