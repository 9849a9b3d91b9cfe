package graft.session

import graft.dialect.DialectRewriter
import graft.ingest.{CsvIngest, IngestOptions, JsonIngest}
import graft.results.ResultWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.{ArrowBridge, CasePreserve, ParsedSql}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One engine session: query / streaming-send / prepared statements / ingest
  * (reference Connection — lib/include/duckdb/web/webdb.h:33-99). Tables are
  * shared engine-wide (one catalog), prepared statements and the single
  * active result stream are per-connection, exactly like the reference. */
final class Connection(val engine: Engine) {

  private def spark: SparkSession = engine.spark
  private lazy val rewriter = new DialectRewriter(spark, engine.files, engine.macros)

  private val stmtCounter = new AtomicLong()
  private val statements = mutable.Map[Long, PreparedStatement]()
  @volatile private var activeStream: Option[ResultStream] = None

  /** The one statement path: DuckDB text (plus optional positional `?`
    * parameters) → DataFrame. `current_setting` substitution, the dialect
    * rewrite (with strict math when SET), the parse-level operator fixes
    * (ParsedSql: `//`, `/`, `%`, DATE−DATE, DATE+INTERVAL, date_part, CAST
    * to BOOLEAN) and stored-case output names (CasePreserve). Queries,
    * prepared statements, DML expressions, EXPLAIN and PIVOT sources all
    * plan their dialect text here. */
  private[session] def dialectDF(sql: String, params: Seq[Any] = Nil): DataFrame =
    CasePreserve.fix(ParsedSql.sql(spark, dialectText(sql), params))

  /** Spark's `EXPLAIN <mode>` over the plan [[dialectDF]] would run. */
  private[session] def explainDF(sql: String, mode: String): DataFrame =
    ParsedSql.explain(spark, dialectText(sql), mode)

  private def dialectText(sql: String): String =
    rewriter.rewrite(substituteSettings(sql.trim.stripSuffix(";")), engine.strictMath)

  /** Inline `current_setting('name')` from the engine's SET/RESET map —
    * numerics as numeric literals, everything else as a string literal;
    * unknown names error, like DuckDB. Call sites inside string literals
    * or comments are untouched (manual scan — the quoted NAME is itself a
    * literal, so a segment-based outside-literals map can never see the
    * whole call). */
  private def substituteSettings(sql: String): String = {
    val S = graft.dialect.SqlText
    // java StringBuilder: scala's lacks append(CharSequence, from, to) and
    // silently ADAPTS the three arguments into a tuple (appending its
    // toString) — the bug class this comment exists to keep out
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' =>
          val e = S.literalEnd(sql, i); sb.append(sql, i, e); i = e
        case '-' | '/' =>
          val ce = S.commentEnd(sql, i)
          if (ce > i) { sb.append(sql, i, ce); i = ce }
          else { sb.append(sql.charAt(i)); i += 1 }
        case c if (c == 'c' || c == 'C') &&
            (i == 0 || !(sql.charAt(i - 1).isLetterOrDigit || sql.charAt(i - 1) == '_')) &&
            sql.regionMatches(true, i, "current_setting", 0, 15) =>
          val p = S.skipWsAndComments(sql, i + 15)
          var matched = false
          if (p < sql.length && sql.charAt(p) == '(') {
            val q = S.skipWsAndComments(sql, p + 1)
            if (q < sql.length && sql.charAt(q) == '\'') {
              val qe = S.literalEnd(sql, q)
              val r = S.skipWsAndComments(sql, qe)
              if (r < sql.length && sql.charAt(r) == ')') {
                val name = sql.substring(q + 1, qe - 1).toLowerCase
                val v = engine.settings.get(name)
                if (v == null)
                  throw new IllegalArgumentException(s"unrecognized setting: $name")
                sb.append(
                  if (v.matches("-?\\d+(\\.\\d+)?")) v
                  else "'" + v.replace("'", "''") + "'")
                i = r + 1
                matched = true
              }
            }
          }
          if (!matched) { sb.append(sql.charAt(i)); i += 1 }
        case c => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  // ------------------------------------------------------------------ query
  /** Run SQL, return the DataFrame (the engine-native form). */
  def queryDF(sql: String): DataFrame = {
    val trimmed = sql.trim.stripSuffix(";")
    Commands.dispatch(this, trimmed).getOrElse(dialectDF(trimmed))
  }

  /** Run SQL, materialize as an Arrow IPC file buffer (reference
    * RunQuery → MaterializeQueryResult, webdb.cc:84-119,141-154). */
  def query(sql: String): Array[Byte] =
    ResultWriter.ipcFile(queryDF(sql), engine.config.emitBigInt)

  // ----------------------------------------------------------------- stream
  /** Start a streaming result (reference SendQuery, webdb.cc:156-167):
    * schema first, then one Arrow batch per fetch; one active stream per
    * connection — a new send replaces the previous stream. */
  def send(sql: String): ResultStream = {
    val st = ResultWriter.stream(queryDF(sql), engine.config.emitBigInt)
    activeStream = Some(st)
    st
  }

  /** Fetch the next batch of the active stream; empty array = end-of-stream
    * (mirrors FetchQueryResults, webdb.cc:169-202: state is cleared on end
    * AND on error — a failed stream doesn't wedge the connection). */
  def fetchQueryResults(): Array[Byte] = activeStream match {
    case None => Array.emptyByteArray
    case Some(st) =>
      val b =
        try st.nextBatch()
        catch { case e: Throwable => activeStream = None; throw e }
      if (b.isEmpty) activeStream = None
      b
  }

  // --------------------------------------------------------------- prepared
  def prepare(sql: String): Long = {
    val id = stmtCounter.incrementAndGet()
    statements(id) = new PreparedStatement(this, sql)
    id
  }

  def runPrepared(id: Long, params: Seq[Any]): DataFrame =
    statements.getOrElse(id,
      throw new IllegalArgumentException(s"no prepared statement $id")).run(params)

  /** Streaming form of a prepared execution (reference sendPrepared,
    * webdb.cc:259-277): schema first, then batch-per-fetch, replacing any
    * active stream like send(). */
  def sendPrepared(id: Long, params: Seq[Any]): ResultStream = {
    val st = ResultWriter.stream(runPrepared(id, params), engine.config.emitBigInt)
    activeStream = Some(st)
    st
  }

  def closePrepared(id: Long): Unit = statements.remove(id)

  // ----------------------------------------------------------------- ingest
  /** CSV ingest (reference insertCSVFromPath, webdb.cc:339-404). */
  def insertCSVFromPath(name: String, opts: IngestOptions): Unit =
    saveIngested(CsvIngest.read(spark, engine.files.resolve(name), opts), opts)

  /** JSON ingest w/ shape auto-detection (webdb.cc:407-453). */
  def insertJSONFromPath(name: String, opts: IngestOptions): Unit =
    saveIngested(JsonIngest.read(spark, engine.files.resolve(name), opts), opts)

  /** Arrow IPC stream ingest (webdb.cc:280-337). The reference's worker
    * protocol delivers the stream in chunks across multiple calls, buffering
    * until the end-of-stream marker (webdb.cc:284-304) — mirrored here: call
    * repeatedly with chunks; the table materializes when the IPC EOS marker
    * (or an empty chunk) arrives. A complete stream in one call works too. */
  def insertArrowFromIPCStream(bytes: Array[Byte], opts: IngestOptions): Unit = {
    val key = s"${opts.schema}.${opts.name}"
    val buf = arrowBuffers.getOrElseUpdate(key, new java.io.ByteArrayOutputStream())
    buf.write(bytes)
    // EOS is detected on the ACCUMULATED buffer's tail (a marker split
    // across two chunks never lines up with a single chunk's tail); the
    // tail is tracked incrementally — materializing the whole buffer per
    // chunk would make an N-chunk ingest O(total²) in memory traffic.
    // Batch payload bytes that merely *look* like EOS at a chunk boundary
    // can still false-positive — a PARSE failure on a non-final chunk
    // therefore keeps buffering; but once the stream parses, a failure to
    // SAVE is a genuine error and always propagates (it must not be
    // mistaken for an incomplete stream).
    if (bytes.isEmpty || endsWithEos(tail(key, bytes))) {
      val all = buf.toByteArray
      val parsed =
        try Some(ArrowBridge.fromIpcStream(spark, all))
        catch {
          case _: Throwable if bytes.nonEmpty => None // spurious EOS: keep buffering
          case e: Throwable => dropBuffer(key); throw e
        }
      parsed.foreach { df =>
        dropBuffer(key)
        saveIngested(df, opts)
      }
    }
  }

  private val arrowBuffers = mutable.Map[String, java.io.ByteArrayOutputStream]()
  private val arrowTails = mutable.Map[String, Array[Byte]]()

  /** Rolling last-8-bytes of the accumulated stream for `key`. */
  private def tail(key: String, chunk: Array[Byte]): Array[Byte] = {
    val t = (arrowTails.getOrElse(key, Array.emptyByteArray) ++ chunk).takeRight(8)
    arrowTails(key) = t
    t
  }

  private def dropBuffer(key: String): Unit = {
    arrowBuffers.remove(key)
    arrowTails.remove(key)
  }

  /** Arrow IPC end-of-stream marker: 0xFFFFFFFF followed by length 0. */
  private def endsWithEos(b: Array[Byte]): Boolean = {
    val n = b.length
    n >= 8 &&
      b(n - 8) == -1 && b(n - 7) == -1 && b(n - 6) == -1 && b(n - 5) == -1 &&
      b(n - 4) == 0 && b(n - 3) == 0 && b(n - 2) == 0 && b(n - 1) == 0
  }

  private def saveIngested(df: DataFrame, opts: IngestOptions): Unit = {
    val table = s"${opts.schema}.`${opts.name}`"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${opts.schema}")
    if (opts.create)
      df.write.mode("overwrite").saveAsTable(table)
    else
      df.write.mode("append").saveAsTable(table)
  }

  def close(): Unit = { statements.clear(); activeStream = None }
}

/** A started streaming result: schema message up front, then IPC batches. */
final class ResultStream(val schemaIpc: Array[Byte], batches: Iterator[Array[Byte]]) {
  def nextBatch(): Array[Byte] =
    if (batches.hasNext) batches.next() else Array.emptyByteArray
}

/** Strict prepared statements with positional `?` params (reference
  * webdb.cc:204-277; strict type checks pinned by bindings.test.ts:86-143 —
  * e.g. binding 10000 into a TINYINT column must error, where plain Spark
  * would silently coerce). */
final class PreparedStatement(conn: Connection, sql: String) {

  private def spark: SparkSession = conn.engine.spark

  // '?' inside string literals is not a parameter marker
  private val paramCount = graft.dialect.SqlText.countOutsideLiterals(sql, '?')

  private val InsertInto =
    """(?is)\s*insert\s+into\s+([\w.`"]+)\s*(?:\(([^)]*)\))?\s*values\s*(\(.*)""".r

  def run(params: Seq[Any]): DataFrame = {
    require(params.length == paramCount,
      s"expected $paramCount parameters, got ${params.length}")
    validateStrict(params)
    conn.dialectDF(sql, params)
  }

  /** Reference semantics: reject out-of-range numerics against the target
    * column types of an INSERT (Spark alone would coerce/overflow). Each `?`
    * marker is mapped to its actual position inside its VALUES tuple —
    * literals mixed into the tuple (`VALUES (1, ?)`) shift the marker to
    * the right-hand column, and multi-row VALUES reuse per-tuple positions. */
  private def validateStrict(params: Seq[Any]): Unit = sql match {
    case InsertInto(table, colList, valuesPart) =>
      val schema = spark.table(table.replace("`", "").replace("\"", "")).schema
      val targets: Seq[org.apache.spark.sql.types.DataType] =
        Option(colList).filter(_ != null).map(_.split(",").map(_.trim.replace("`", ""))
            .toSeq.map(c => schema(c).dataType))
          .getOrElse(schema.fields.toSeq.map(_.dataType))
      params.zip(markerColumns(valuesPart)).zipWithIndex.foreach {
        case ((p, colIdx), i) if colIdx < targets.length =>
          Strict.check(p, targets(colIdx), i + 1)
        case _ => ()
      }
    case _ => ()
  }

  /** Tuple-column index of every `?` marker in a VALUES section, in marker
    * order (literal-aware; nested parens belong to the enclosing column). */
  private def markerColumns(valuesPart: String): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    var depth = 0
    var colIdx = 0
    var i = 0
    while (i < valuesPart.length) {
      valuesPart.charAt(i) match {
        case '\'' => // skip string literal (shared literal-aware scanner)
          i = graft.dialect.SqlText.literalEnd(valuesPart, i) - 1
        case '(' => depth += 1; if (depth == 1) colIdx = 0
        case ')' => depth -= 1
        case ',' if depth == 1 => colIdx += 1
        case '?' if depth >= 1 => out += colIdx
        case _ => ()
      }
      i += 1
    }
    out.toSeq
  }
}

private object Strict {
  import org.apache.spark.sql.types._

  def check(value: Any, dt: DataType, pos: Int): Unit = {
    def fail(msg: String) =
      throw new IllegalArgumentException(s"parameter $pos: $msg")
    def asNum: Option[Double] = value match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case i: Int => Some(i.toDouble)
      case l: Long => Some(l.toDouble)
      case s: Short => Some(s.toDouble)
      case b: Byte => Some(b.toDouble)
      case _ => None
    }
    if (value == null) return
    dt match {
      case ByteType => asNum.foreach { d =>
        if (d < Byte.MinValue || d > Byte.MaxValue || d != math.floor(d))
          fail(s"value $d out of range for TINYINT")
      }
      case ShortType => asNum.foreach { d =>
        if (d < Short.MinValue || d > Short.MaxValue || d != math.floor(d))
          fail(s"value $d out of range for SMALLINT")
      }
      case IntegerType => asNum.foreach { d =>
        if (d < Int.MinValue || d > Int.MaxValue || d != math.floor(d))
          fail(s"value $d out of range for INTEGER")
      }
      case LongType => asNum.foreach { d =>
        if (d != math.floor(d)) fail(s"value $d not an integer for BIGINT")
      }
      case BooleanType => value match {
        case _: Boolean => ()
        case other => fail(s"value $other is not a BOOLEAN")
      }
      case _ => ()
    }
  }
}
