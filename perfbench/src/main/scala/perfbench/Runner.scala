package perfbench

import graft.SparkEntry
import graft.dialect.DialectRewriter
import graft.ingest.IngestOptions
import graft.results.ResultWriter
import graft.session.{AsyncEngine, Connection, Engine, EngineConfig}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Everything one run needs, resolved by `run.py`. `base` is the catalog
  * directory and `files` the names registered in the engine's FileRegistry
  * with their paths. */
final case class Settings(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    base: String,
    files: Seq[(String, String)],
    answers: Seq[String],
    out: String)

/** One timed statement execution. `traced` executions make the layer calls
  * one at a time inside spans. `firstNanos` is the time to the first result
  * batch in hand; `payload` the bytes a load handed to the engine. */
final case class Exec(
    exec: Int, stmt: Stmt, pass: Int, traced: Boolean,
    start: Long, end: Long, firstNanos: Long, bytes: Long, payload: Long,
    rows: Long, batches: Int, error: Option[String], wrong: Option[String]) {
  def nanos: Long = end - start
  def ok: Boolean = error.isEmpty && wrong.isEmpty
}

/** An open engine with the benchmark's clients: one `AsyncEngine`
  * connection and one `Connection`, the files registered and the Arrow IPC
  * inputs read into memory. */
final class Session(val base: String, files: Seq[(String, String)]) {
  val engine = new Engine(EngineConfig(path = Some(base)))
  val spark = engine.spark
  files.foreach { case (name, path) => engine.files.registerFilePath(name, path) }
  val arrowInputs: Map[String, Array[Byte]] = files.collect {
    case (n, p) if n.endsWith(".arrows") => n -> Files.readAllBytes(Paths.get(p))
  }.toMap
  val async = new AsyncEngine(engine)
  val asyncId: Long = Await.result(async.connect(), Duration.Inf)
  val conn: Connection = engine.connect()
  /** The benchmark's own rewriter, used to time the dialect layer. */
  lazy val rewriter = new DialectRewriter(spark, engine.files, engine.macros)

  /** The scan views the dialect layer has registered so far. */
  def scanViews(): Set[String] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog
      .listLocalTempViews("__graft_scan_*").map(_.table).toSet

  def close(): Unit = {
    conn.close()
    async.close()
    engine.close()
  }
}

/** Runs one workload: set-up, timed passes, checks. */
final class Runner(s: Settings, stmts: Seq[Stmt], passCount: Int, checker: Checker) {

  private val listener = new BenchListener
  private var session: Session = _
  private var tracer = new Tracer(false)
  private var nextExec = 0
  private val pings = scala.collection.mutable.ArrayBuffer[Long]()

  // ------------------------------------------------------------------ setup

  /** Engine open, catalog open, file registration and the untimed warm-up
    * passes, in seconds from JVM start. */
  def setup(): Double = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    session = new Session(s.base, s.files)
    for (_ <- 1 to Workloads.WarmupPasses; st <- stmts) execute(st, -1, traced = false)
    val secs = (System.currentTimeMillis() - jvmStart) / 1000.0
    System.err.println(f"[perfbench] set-up: $secs%.3f s")
    secs
  }

  // -------------------------------------------------------------- execution

  private def qe(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution

  private def phases(df: DataFrame): Map[String, Long] =
    qe(df).tracker.phases.map { case (k, v) => k -> v.durationMs * 1000000L }

  private def opts(table: String) = IngestOptions(name = table)

  private def readAll(first: () => Unit, fetch: () => Array[Byte], schema: Array[Byte]) = {
    val chunks = scala.collection.mutable.ArrayBuffer(schema)
    var b = fetch()
    while (b.nonEmpty) {
      if (chunks.length == 1) first()
      chunks += b
      b = fetch()
    }
    Digest.IpcStreams(chunks.toSeq)
  }

  /** The plain call path, as an application would make it. Returns the
    * result and the time of the first batch. */
  private def plain(st: Stmt, t0: Long): (Option[Digest.Arrow], Long, Long) = {
    val sess = session
    var first = -1L
    val mark = () => if (first < 0) first = System.nanoTime() - t0
    val res: Option[Digest.Arrow] = st.call match {
      case Call.RunQuery(sql) =>
        Some(Digest.IpcFile(Await.result(sess.async.runQuery(sess.asyncId, sql), Duration.Inf)))
      case Call.Query(sql) => Some(Digest.IpcFile(sess.conn.query(sql)))
      case Call.Stream(sql) =>
        val st0 = sess.conn.send(sql)
        Some(readAll(mark, () => sess.conn.fetchQueryResults(), st0.schemaIpc))
      case Call.AsyncStream(sql) =>
        def await[T](f: scala.concurrent.Future[T]) = Await.result(f, Duration.Inf)
        val schema = await(sess.async.sendQuery(sess.asyncId, sql))
        Some(readAll(mark, () => await(sess.async.fetchQueryResults(sess.asyncId)), schema))
      case Call.Operator(name) =>
        val df = SparkEntry.queries(name)(sess.spark, sess.base)
        val bytes = ResultWriter.ipcFile(df, sess.engine.config.emitBigInt)
        graft.pipeline.Pins.releaseEphemeral(sess.spark)
        Some(Digest.IpcFile(bytes))
      case Call.Load(format, file, table) =>
        load(format, file, table)
        None
    }
    (res, first, payloadOf(st))
  }

  private def load(format: String, file: String, table: String): Unit = format match {
    case "csv" => session.conn.insertCSVFromPath(file, opts(table))
    case "json" => session.conn.insertJSONFromPath(file, opts(table))
    case "arrow" => session.conn.insertArrowFromIPCStream(session.arrowInputs(file), opts(table))
  }

  private def payloadOf(st: Stmt): Long = st.call match {
    case Call.Load(_, file, _) =>
      new java.io.File(session.engine.files.resolve(file)).length
    case _ => 0L
  }

  /** Catalyst's optimization and planning times, inside the span of the
    * `executedPlan` call that ran them. */
  private def placePlanning(ph: Map[String, Long]): Unit =
    tracer.last("plan.executedPlan").foreach { p =>
      val o = ph.getOrElse("optimization", 0L)
      tracer.derived(p, "plan.optimization", p.start, o)
      tracer.derived(p, "plan.planning", p.start + o, ph.getOrElse("planning", 0L))
    }

  /** Time the dialect rewrite of `sql` on the benchmark's own rewriter: the
    * rewrite inside `queryDF` cannot be timed from outside. The probe is
    * the rewriter call alone (the engine also substitutes `current_setting`
    * first, which no workload statement uses). Its side effects are undone
    * so they do not count against the engine: the Spark jobs it starts (scan
    * schema inference) carry [[BenchListener.ProbeStmt]] and are attributed
    * to no statement, and the scan views it registers are dropped. The whole
    * probe is trace overhead. */
  private def rewriteProbe(sql: String, stmtId: Int): Long = {
    val sess = session
    tracer.span("trace.rewrite_probe") {
      val sc = sess.spark.sparkContext
      val before = sess.scanViews()
      sc.setLocalProperty(BenchListener.StmtProperty, BenchListener.ProbeStmt.toString)
      val t = System.nanoTime()
      try sess.rewriter.rewrite(sql.trim.stripSuffix(";")) catch { case NonFatal(_) => "" }
      val nanos = System.nanoTime() - t
      sc.setLocalProperty(BenchListener.StmtProperty, stmtId.toString)
      (sess.scanViews() -- before).foreach(sess.spark.catalog.dropTempView)
      nanos
    }
  }

  /** The same work, one layer call at a time, each timed as a span. */
  private def decomposed(st: Stmt, stmtId: Int, t0: Long): (Option[Digest.Arrow], Long, Long) = {
    val sess = session
    val emit = sess.engine.config.emitBigInt
    var first = -1L
    val mark = () => if (first < 0) first = System.nanoTime() - t0
    def sqlPath(sql: String, stream: Boolean): Digest.Arrow = {
      // a COPY is dispatched by Commands, not rewritten as one statement
      val rewriteNanos = if (st.kind == "copy") 0L else rewriteProbe(sql, stmtId)
      val df = tracer.span("session.queryDF")(sess.conn.queryDF(sql))
      tracer.span("plan.executedPlan")(qe(df).executedPlan)
      val ph = phases(df)
      tracer.last("session.queryDF").foreach { q =>
        tracer.derived(q, "dialect.rewrite", q.start, rewriteNanos)
        val a = ph.getOrElse("analysis", 0L)
        tracer.derived(q, "plan.analysis", q.end - a, a)
      }
      placePlanning(ph)
      if (stream) {
        val rs = tracer.span("results.stream")(ResultWriter.stream(df, emit))
        readAll(mark, () => tracer.span("results.fetch")(rs.nextBatch()), rs.schemaIpc)
      } else Digest.IpcFile(tracer.span("results.ipcFile")(ResultWriter.ipcFile(df, emit)))
    }
    val res: Option[Digest.Arrow] = st.call match {
      case Call.RunQuery(sql) => Some(sqlPath(sql, stream = false))
      case Call.Query(sql) => Some(sqlPath(sql, stream = false))
      case Call.Stream(sql) => Some(sqlPath(sql, stream = true))
      case Call.AsyncStream(sql) => Some(sqlPath(sql, stream = true))
      case Call.Operator(name) =>
        val df = tracer.span("pipeline.build")(SparkEntry.queries(name)(sess.spark, sess.base))
        tracer.span("plan.executedPlan")(qe(df).executedPlan)
        val ph = phases(df)
        tracer.last("pipeline.build").foreach { b =>
          val a = ph.getOrElse("analysis", 0L)
          tracer.derived(b, "plan.analysis", b.end - a, a)
        }
        placePlanning(ph)
        val bytes = tracer.span("results.ipcFile")(ResultWriter.ipcFile(df, emit))
        tracer.span("pipeline.releaseEphemeral")(graft.pipeline.Pins.releaseEphemeral(sess.spark))
        Some(Digest.IpcFile(bytes))
      case Call.Load(format, file, table) =>
        tracer.span(s"ingest.$format")(load(format, file, table))
        None
    }
    (res, first, payloadOf(st))
  }

  /** Execute `st` once; `pass` < 0 marks warm-up. Checks run after the
    * timed interval. */
  private def execute(st: Stmt, pass: Int, traced: Boolean): Exec = {
    val id = nextExec; nextExec += 1
    val sc = session.spark.sparkContext
    sc.setLocalProperty(BenchListener.StmtProperty, id.toString)
    val t0 = System.nanoTime()
    val out =
      try {
        val (res, first, payload) =
          if (!traced) plain(st, t0)
          else tracer.statement(id, "stmt")(decomposed(st, id, t0))
        Right((res, first, payload))
      } catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    sc.setLocalProperty(BenchListener.StmtProperty, null)
    out match {
      case Left(e) =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
        Exec(id, st, pass, traced, t0, t1, t1 - t0, 0L, 0L, 0L, 0, Some(msg), None)
      case Right((res, first, payload)) =>
        val bytes = res.map {
          case Digest.IpcFile(b) => b.length.toLong
          case Digest.IpcStreams(cs) => cs.map(_.length.toLong).sum
        }.getOrElse(0L)
        val firstNanos = if (first >= 0) first else t1 - t0
        val (wrong, rows, batches) =
          if (pass < 0) (None, 0L, 0) else checker.check(st, res)
        Exec(id, st, pass, traced, t0, t1, firstNanos, bytes, payload,
          rows, batches, None, wrong)
    }
  }

  /** `n` whole passes in listed order. The order is fixed: every
    * statement's first execution in a fresh JVM pays for JIT and code
    * generation of whatever it is first to use, and a varying order moved
    * that cost between statements. A traced pass makes the layer calls one
    * at a time, each in a span; before an `AsyncEngine` statement it times
    * one `ping()` round trip, the path `runQuery` adds to the query (post to
    * the worker thread, run, complete the future). */
  private def passes(n: Int, traced: Boolean): Seq[Exec] =
    (0 until n).flatMap { pass =>
      stmts.map { st =>
        if (traced && st.call.isInstanceOf[Call.RunQuery]) {
          val t = System.nanoTime()
          Await.result(session.async.ping(), Duration.Inf)
          pings += System.nanoTime() - t
        }
        execute(st, pass, traced)
      }
    }

  // -------------------------------------------------------------------- run

  def run(): Map[String, Any] = {
    HeapWatch.install()
    val setupS = setup()
    val sc = session.spark.sparkContext
    sc.addSparkListener(listener)
    listener.clear()
    HeapWatch.reset()
    if (s.trace) tracer = new Tracer(true)
    val (tracedRuns, plainRuns) = passes(passCount, s.trace).partition(_.traced)
    val heapPeakMb = HeapWatch.peakMb
    val heapMb = HeapWatch.settledOldGenMb
    val jobs = listener.drain(sc)
    val windows = (plainRuns ++ tracedRuns).map(e => JobAttribution.Window(e.exec, e.start, e.end))
    val jobExec = jobs.map(j => j -> JobAttribution.assign(j.stmtProperty, j.submitted, windows))
    val tracedIds = tracedRuns.map(_.exec).toSet
    jobExec.foreach {
      case (j, Some(e)) if tracedIds(e) => tracer.attach(e, "exec.job", j.submitted, j.ended)
      case _ => ()
    }
    System.err.println(f"[perfbench] checks: ${checker.seconds}%.3f s")
    val views = session.scanViews().size
    val pinnedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
    val report = new Report(s, setupS, plainRuns, tracedRuns, pings.toSeq, jobExec, tracer.spans,
      heapMb, heapPeakMb, views, pinnedMb)
    val out = report.result
    session.close()
    out
  }
}

/** Peak old-generation occupancy after GC, from GC notifications and the
  * pools' collection usage. */
object HeapWatch {
  @volatile private var peak = 0L
  private def oldPool(name: String) = name.contains("Old Gen") || name.contains("Tenured")

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
              if (oldPool(pool)) peak = math.max(peak, u.getUsed)
            }
          }
        }, null, null)
      case _ => ()
    }

  def reset(): Unit = peak = 0L

  def oldGenMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => oldPool(p.getName))
      .map(_.getUsage.getUsed).sum / 1e6

  /** Old generation after full GCs, repeated until it stops shrinking:
    * cached blocks, broadcasts and shuffles that statements let go of are
    * freed asynchronously (unpersist without blocking, the ContextCleaner
    * after a GC), and one collection can run before they are. */
  def settledOldGenMb: Double = {
    def collect(): Double = { System.gc(); Thread.sleep(250); oldGenMb }
    var previous = Double.MaxValue
    var current = collect()
    var rounds = 1
    while (rounds < 8 && previous - current > 1.0) {
      previous = current
      current = collect()
      rounds += 1
    }
    current
  }

  def peakMb: Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => oldPool(p.getName) && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed)
    (pools.foldLeft(peak)(math.max)) / 1e6
  }
}
