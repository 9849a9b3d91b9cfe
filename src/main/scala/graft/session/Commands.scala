package graft.session

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Non-SELECT command surface of the reference dialect:
  *  - `PRAGMA show_tables` → one `name` column (bindings.test.ts:43-51)
  *  - `COPY t TO 'f' (FORMAT CSV|PARQUET, ...)` incl. `COPY (SELECT ...) TO`
  *    single-file sinks (filesystem.test.ts:116-142,:246-259)
  *  - `EXPORT DATABASE 'dir' [(FORMAT PARQUET)]` — every table + schema.sql
  *    + load.sql (filesystem.test.ts:183-244)
  *
  * Spark writes part-directories; these sinks `coalesce(1)` and move the
  * single part to the exact requested filename for byte-level parity. (At
  * 100 TB a COPY would drop the coalesce and write a partitioned directory —
  * single-file output is inherently client-bound, like the reference's.)
  */
object Commands {

  private val ShowTables = """(?i)\s*PRAGMA\s+show_tables\s*""".r
  private val TableInfo =
    """(?i)\s*PRAGMA\s+table_info\s*\(\s*'?([\w.]+)'?\s*\)\s*""".r
  // target = a table name, or (like DuckDB) a full SELECT/subquery
  private val Describe = """(?is)\s*DESCRIBE\s+(?:TABLE\s+)?(.+?)\s*""".r
  private val Summarize = """(?is)\s*SUMMARIZE\s+(?:TABLE\s+)?(.+?)\s*""".r
  // source = lazy up to the LAST " TO '...'" clause so subqueries with
  // nested parens (COPY (SELECT count(*) ...) TO ...) parse correctly
  private val CopyTo =
    """(?is)\s*COPY\s+(.+)\s+TO\s+'([^']+)'\s*(?:\(?\s*(?:WITH\s*\()?(.*?)\)?\s*)?""".r
  private val CopyFrom =
    """(?is)\s*COPY\s+([\w.`"]+)\s+FROM\s+'([^']+)'\s*(?:\(?\s*(?:WITH\s*\()?(.*?)\)?\s*)?""".r
  private val ExportDb = """(?is)\s*EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\(\s*FORMAT\s+(\w+)\s*\))?\s*""".r
  private val ImportDb = """(?is)\s*IMPORT\s+DATABASE\s+'([^']+)'\s*""".r
  private val DeleteFrom =
    """(?is)\s*DELETE\s+FROM\s+([\w.`"]+)(?:\s+WHERE\s+(.+?))?\s*""".r
  private val UpdateSet =
    """(?is)\s*UPDATE\s+([\w.`"]+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*""".r
  private val InsertReturning =
    """(?is)\s*INSERT\s+INTO\s+([\w.`"]+)\s*(\([^)]*\))?\s+(.+?)\s+RETURNING\s+(.+?)\s*""".r
  private val Explain = """(?is)\s*EXPLAIN\s+(ANALYZE\s+)?(.+)""".r
  // Utility statements accepted for script portability. CREATE/DROP INDEX
  // are perf hints with no Spark counterpart (no secondary indexes —
  // Catalyst prunes via parquet statistics instead); CHECKPOINT flushes
  // DuckDB's WAL (writes here materialize immediately); VACUUM is a stub
  // even in DuckDB; ANALYZE recomputes table stats (Spark's CBO reads
  // file-level stats at plan time and AQE re-plans at runtime). All are
  // documented no-ops returning an empty result, like the reference.
  // CREATE UNIQUE INDEX is NOT a perf-only no-op: DuckDB enforces the
  // uniqueness constraint on later INSERTs. Accepting it silently would
  // let inserts succeed that the reference rejects, so it loud-rejects.
  private val CreateUniqueIndex =
    """(?is)\s*CREATE\s+UNIQUE\s+INDEX\s+.+""".r
  private val CreateIndex =
    """(?is)\s*CREATE\s+INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?[\w`"]+\s+ON\s+.+""".r
  private val DropIndex = """(?is)\s*DROP\s+INDEX\s+(?:IF\s+EXISTS\s+)?[\w`"]+\s*""".r
  private val Checkpoint = """(?is)\s*(?:FORCE\s+)?CHECKPOINT\s*[\w`"]*\s*""".r
  private val Vacuum = """(?is)\s*VACUUM(?:\s+.*)?""".r
  private val Analyze = """(?is)\s*ANALYZE\s*[\w.`"]*\s*""".r
  // Session options: SET/RESET maintain the engine's setting map (DuckDB
  // names, read back via current_setting('name') — substituted by the
  // Connection before the dialect rewrite).
  private val SetOpt =
    """(?is)\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?([\w.]+)\s*(?:=|\s+TO\s+)\s*(.+?)\s*""".r
  private val ResetOpt = """(?is)\s*RESET\s+([\w.]+)\s*""".r

  /** Returns Some(result) when the SQL is a command handled here. */
  def dispatch(conn: Connection, sql: String): Option[DataFrame] = sql match {
    case ShowTables() => Some(showTables(conn))
    case TableInfo(table) => Some(tableInfo(conn.engine.spark, table))
    // toOption fallback: a target this handler can't resolve (e.g. Spark's
    // own `DESCRIBE EXTENDED t` / `DESCRIBE FUNCTION f`) drops through to
    // the plain spark.sql path instead of erroring here
    case Describe(target) =>
      scala.util.Try(describeFrame(conn.engine.spark, relation(conn, target))).toOption
    case Summarize(target) =>
      Some(summarizeFrame(conn.engine.spark, relation(conn, target)))
    case ExportDb(dir, fmt) => Some(exportDatabase(conn, dir, Option(fmt)))
    case ImportDb(dir) => Some(importDatabase(conn, dir))
    case CopyFrom(table, path, opts) => Some(copyFrom(conn, table, path, Option(opts)))
    case CopyTo(src, target, opts) => Some(copyTo(conn, src.trim, target, Option(opts)))
    case Explain(analyze, query) =>
      Some(explainQuery(conn, query, analyze != null))
    case DeleteFrom(table, cond) => Some(deleteFrom(conn, table, Option(cond)))
    case UpdateSet(table, setList, cond) =>
      Some(updateSet(conn, table, setList, Option(cond)))
    case InsertReturning(table, colList, source, returning) =>
      Some(insertReturning(conn, table, Option(colList), source, returning))
    case CreateUniqueIndex() =>
      throw new UnsupportedOperationException(
        "CREATE UNIQUE INDEX is not supported: the engine cannot enforce " +
          "the uniqueness constraint on later INSERTs (DuckDB would), so " +
          "accepting it silently would be a correctness divergence. Use a " +
          "plain CREATE INDEX (accepted as a no-op) or enforce uniqueness " +
          "in the query layer.")
    case CreateIndex() | DropIndex() | Checkpoint() | Vacuum() | Analyze() =>
      Some(conn.engine.spark.emptyDataFrame)
    case SetOpt(name, value) =>
      val raw = value.trim
      // A quoted value: strip the outer quotes, then collapse the SQL
      // escape '' back to ' — SET s = 'it''s' must store it's.
      val v =
        if (raw.length >= 2 && raw.head == '\'' && raw.last == '\'')
          raw.substring(1, raw.length - 1).replace("''", "'")
        else raw
      conn.engine.settings.put(name.toLowerCase, v)
      Some(conn.engine.spark.emptyDataFrame)
    case ResetOpt(name) =>
      // DuckDB's RESET restores the option's default; the name stays
      // readable via current_setting() afterwards.
      val key = name.toLowerCase
      conn.engine.defaultSettings.get(key) match {
        case Some(d) => conn.engine.settings.put(key, d)
        case None => conn.engine.settings.remove(key)
      }
      Some(conn.engine.spark.emptyDataFrame)
    case _ =>
      conn.engine.macros.dispatch(sql) match {
        case Some(name) =>
          val spark = conn.engine.spark
          import spark.implicits._
          Some(Seq(name).toDF("macro"))
        case None => graft.dialect.PivotOps.dispatch(conn.engine.spark, sql,
          conn.queryDF, // subquery sources ride the full statement path
          conn.engine.strictMath)
      }
  }

  /** `DESCRIBE t` in DuckDB's result shape (column_name, column_type,
    * null, key, default, extra) with DuckDB type spellings — Spark's own
    * DESCRIBE emits (col_name, data_type, comment) with Spark names, so a
    * reference client parsing the output would break without this. */
  def describe(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    describeFrame(spark, spark.table(table.replace("`", "").replace("\"", "")))

  /** A DESCRIBE/SUMMARIZE target: a table/view name, or (DuckDB-style) a
    * whole SELECT/CTE/subquery, which runs through the normal query path. */
  private def relation(conn: Connection, target: String): DataFrame = {
    val t = target.trim
    if (t.startsWith("(")) conn.queryDF(t.stripPrefix("(").stripSuffix(")"))
    else if (t.matches("(?is)^(SELECT|WITH|FROM|VALUES)\\b.*")) conn.queryDF(t)
    else conn.engine.spark.table(t.replace("`", "").replace("\"", ""))
  }

  private def describeFrame(spark: org.apache.spark.sql.SparkSession,
      rel: DataFrame): DataFrame = {
    import spark.implicits._
    rel.schema.fields.toSeq
      .map(f => (f.name, duckTypeName(f.dataType),
        if (f.nullable) "YES" else "NO",
        null: String, null: String, null: String))
      .toDF("column_name", "column_type", "null", "key", "default", "extra")
  }

  /** `PRAGMA table_info('t')` — DuckDB's SQLite-shaped column listing
    * (cid, name, type, notnull, dflt_value, pk). */
  def tableInfo(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame = {
    import spark.implicits._
    spark.table(table).schema.fields.zipWithIndex.toSeq
      .map { case (f, i) =>
        (i, f.name, duckTypeName(f.dataType), !f.nullable, null: String, false)
      }
      .toDF("cid", "name", "type", "notnull", "dflt_value", "pk")
  }

  /** Spark type → DuckDB type spelling (SURVEY §1.3 mapping, inverted). */
  def duckTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType => "SMALLINT"
      case ByteType => "TINYINT"
      case DoubleType => "DOUBLE"
      case FloatType => "FLOAT"
      case StringType => "VARCHAR"
      case BooleanType => "BOOLEAN"
      case BinaryType => "BLOB"
      case DateType => "DATE"
      case _: TimestampType => "TIMESTAMP"
      case _: TimestampNTZType => "TIMESTAMP"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case ArrayType(e, _) => duckTypeName(e) + "[]"
      case MapType(k, v, _) => s"MAP(${duckTypeName(k)}, ${duckTypeName(v)})"
      case StructType(fs) =>
        fs.map(f => s"${f.name} ${duckTypeName(f.dataType)}").mkString("STRUCT(", ", ", ")")
      case other => other.sql
    }
  }

  /** `SUMMARIZE t` — per-column statistics in DuckDB's column shape. All
    * statistics come from ONE aggregate pass over the table (a single job,
    * map-side partial at any scale); only the per-COLUMN reshape of that
    * one result row happens on the driver. Quantiles are approximate, like
    * the reference's. */
  def summarize(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    summarizeFrame(spark, spark.table(table.replace("`", "").replace("\"", "")))

  private def summarizeFrame(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val numeric = (dt: DataType) => dt match {
      case _: NumericType => true
      case _ => false
    }
    val aggs = df.schema.fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"`${f.name}`")
      val num = numeric(f.dataType)
      def opt(e: org.apache.spark.sql.Column) =
        if (num) e.cast("string") else lit(null: String)
      Seq(
        min(c).cast("string").as(s"min_$i"),
        max(c).cast("string").as(s"max_$i"),
        approx_count_distinct(c).as(s"uniq_$i"),
        opt(avg(if (num) c else lit(null))).as(s"avg_$i"),
        opt(stddev(if (num) c else lit(null))).as(s"std_$i"),
        opt(percentile_approx(if (num) c else lit(null), lit(0.25), lit(1000))).as(s"q25_$i"),
        opt(percentile_approx(if (num) c else lit(null), lit(0.50), lit(1000))).as(s"q50_$i"),
        opt(percentile_approx(if (num) c else lit(null), lit(0.75), lit(1000))).as(s"q75_$i"),
        count(c).as(s"cnt_$i"))
    } :+ count(lit(1)).as("cnt_all")
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val total = row.getAs[Long]("cnt_all")
    import spark.implicits._
    df.schema.fields.zipWithIndex.map { case (f, i) =>
      val nonNull = row.getAs[Long](s"cnt_$i")
      (f.name, duckTypeName(f.dataType),
        row.getAs[String](s"min_$i"), row.getAs[String](s"max_$i"),
        row.getAs[Long](s"uniq_$i"),
        row.getAs[String](s"avg_$i"), row.getAs[String](s"std_$i"),
        row.getAs[String](s"q25_$i"), row.getAs[String](s"q50_$i"),
        row.getAs[String](s"q75_$i"),
        total,
        if (total == 0) 0.0 else (total - nonNull) * 100.0 / total)
    }.toSeq.toDF("column_name", "column_type", "min", "max", "approx_unique",
      "avg", "std", "q25", "q50", "q75", "count", "null_percentage")
  }

  private def showTables(conn: Connection): DataFrame = {
    val spark = conn.engine.spark
    import spark.implicits._
    val names = spark.catalog.listTables().collect().map(_.name)
      .filterNot(_.startsWith("__graft_")).sorted.toSeq
    names.toDF("name")
  }

  /** Quote-aware option parsing: `DELIMITER ','` keeps its comma — options
    * are KEY [value] pairs where value is a quoted string or a bare word. */
  private def parseOpts(raw: Option[String]): Map[String, String] = {
    val Opt = """(\w+)(?:\s+('(?:[^']|'')*'|[^,()]+))?""".r
    raw.map { s =>
      Opt.findAllMatchIn(s).flatMap { m =>
        val k = m.group(1).toUpperCase
        val v = Option(m.group(2)).map(_.trim).map { t =>
          if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
            t.substring(1, t.length - 1).replace("''", "'")
          else t
        }.getOrElse("")
        if (k.nonEmpty) Some(k -> v) else None
      }.toMap
    }.getOrElse(Map.empty)
  }

  private def copyTo(conn: Connection, source: String, target: String,
      rawOpts: Option[String]): DataFrame = {
    val spark = conn.engine.spark
    val opts = parseOpts(rawOpts)
    val df0 =
      if (source.startsWith("(")) conn.queryDF(source.stripPrefix("(").stripSuffix(")"))
      else spark.table(source.replace("`", ""))
    // cache so the write and the returned count are ONE execution of the
    // source plan, not two
    val df = df0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fmt = opts.getOrElse("FORMAT", "CSV").toUpperCase
      val tmp = Files.createTempDirectory("graft-copy-").resolve("out")
      fmt match {
        case "PARQUET" =>
          df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        case _ =>
          // a header unless it is switched off; bare `HEADER` means true
          val header = opts.get("HEADER").forall(v =>
            v.isEmpty || v == "1" || v.equalsIgnoreCase("true"))
          df.coalesce(1).write.mode(SaveMode.Overwrite)
            .option("header", header)
            .option("sep", opts.get("DELIMITER").filter(_.nonEmpty).getOrElse(","))
            .option("emptyValue", "")
            .csv(tmp.toString)
      }
      moveSinglePart(tmp, conn, target)
      import spark.implicits._
      Seq(df.count()).toDF("count")
    } finally df.unpersist()
  }

  /** Move the lone part file to the registered target name. */
  private def moveSinglePart(dir: Path, conn: Connection, target: String): Unit = {
    val part = Files.list(dir).iterator().asScala
      .filter { f => val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_") }
      .toSeq.sortBy(_.getFileName.toString).head
    val resolved = conn.engine.files.resolve(target)
    val out = Paths.get(resolved)
    if (out.getParent != null) Files.createDirectories(out.getParent)
    Files.move(part, out, StandardCopyOption.REPLACE_EXISTING)
    if (!conn.engine.files.isRegistered(target))
      conn.engine.files.registerFilePath(target, out.toString)
    else conn.engine.files.invalidate(target)
  }

  /** `COPY t FROM 'f' (FORMAT ..., HEADER, DELIMITER ...)` — the ingest
    * direction of COPY (DuckDB docs/sql/statements/copy; the statements the
    * engine's own EXPORT DATABASE writes into load.sql). The target table's
    * schema drives the CSV read when it exists (so a schema.sql + load.sql
    * replay restores exact types); otherwise CSV types are inferred.
    * Appends, like DuckDB. */
  private def copyFrom(conn: Connection, table: String, path: String,
      rawOpts: Option[String]): DataFrame = {
    val spark = conn.engine.spark
    val t = table.replace("`", "").replace("\"", "")
    val opts = parseOpts(rawOpts)
    val resolved = conn.engine.files.resolve(path)
    val fmt = opts.get("FORMAT").map(_.replace("'", "").toUpperCase).getOrElse(
      if (resolved.toLowerCase.endsWith(".parquet")) "PARQUET" else "CSV")
    val existing =
      try Some(spark.table(t).schema)
      catch { case _: Exception => None }
    val df = fmt match {
      case "PARQUET" => graft.Tables.readParquetAuto(spark, resolved)
      case _ =>
        // DuckDB's COPY ... FROM does NOT assume a header line unless the
        // option is present (bare `HEADER` means true) — defaulting true
        // here would silently drop the first data row of a headerless CSV.
        // The engine's own load.sql always writes `header 1` explicitly.
        val header = opts.get("HEADER").exists(v =>
          v == "1" || v.isEmpty || v.equalsIgnoreCase("true"))
        val reader = spark.read
          .option("header", header)
          .option("sep", opts.get("DELIMITER").filter(_.nonEmpty).getOrElse(","))
        existing.map(reader.schema).getOrElse(reader.option("inferSchema", "true"))
          .csv(resolved)
    }
    if (existing.isDefined) df.write.mode(SaveMode.Append).insertInto(t)
    else df.write.saveAsTable(t)
    val spark2 = spark
    import spark2.implicits._
    Seq(df.count()).toDF("count")
  }

  /** `EXPLAIN [ANALYZE] <query>` in DuckDB's two-column shape
    * (explain_key, explain_value): the inner query goes through the full
    * dialect rewrite, then Spark's formatted plan (EXPLAIN) or the executed
    * plan with runtime metrics (EXPLAIN ANALYZE — the query RUNS, like
    * DuckDB's). Spark's own `EXPLAIN <mode>` forms keep Spark's one-column
    * `plan` shape over the same statement-path plan. */
  private def explainQuery(conn: Connection, query: String,
      analyze: Boolean): DataFrame = {
    val spark = conn.engine.spark
    val ModeRe = """(?is)^\s*(FORMATTED|EXTENDED|CODEGEN|COST|LOGICAL)\s+(.+)$""".r
    query match {
      case ModeRe(mode, rest) if !analyze => return conn.explainDF(rest, mode)
      case _ => ()
    }
    val df = conn.queryDF(query)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val (key, text) =
      if (analyze) {
        df.write.format("noop").mode("overwrite").save()
        ("analyzed_plan", df.queryExecution.executedPlan.toString)
      } else ("physical_plan", df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    import spark.implicits._
    Seq((key, text)).toDF("explain_key", "explain_value")
  }

  private def cleanName(id: String): String =
    id.replace("`", "").replace("\"", "")

  /** A cleaned (possibly qualified) name as backquoted SQL text. */
  private def ident(name: String): String =
    name.split('.').map(p => s"`$p`").mkString(".")

  /** Replace a table's (or temp view's) contents with `next`. Parquet has
    * no in-place mutation, so DML is copy-on-write like every table format
    * on object storage (Delta/Iceberg do the same under the hood): the new
    * contents are materialized via localCheckpoint FIRST — truncating
    * lineage so the overwrite never reads the table it is replacing — then
    * swapped in. At 100 TB the same statement runs against a real table
    * format; the semantics here match DuckDB's. */
  private def replaceContents(conn: Connection, table: String,
      next: DataFrame): Unit = {
    val spark = conn.engine.spark
    val mat = next.localCheckpoint(true)
    val isTemp = scala.util.Try(
      spark.sessionState.catalog.isTempView(
        spark.sessionState.sqlParser.parseTableIdentifier(table))).getOrElse(false)
    if (isTemp) mat.createOrReplaceTempView(table.split('.').last)
    else mat.write.mode(SaveMode.Overwrite).saveAsTable(table)
  }

  /** `DELETE FROM t [WHERE cond]` → DuckDB's one-column Count result. The
    * kept rows are one statement-path SELECT; a NULL predicate keeps its row,
    * as in DuckDB (only TRUE deletes). */
  private def deleteFrom(conn: Connection, table: String,
      cond: Option[String]): DataFrame = {
    val spark = conn.engine.spark
    val t = cleanName(table)
    val total = spark.table(t).count()
    val remaining = cond match {
      case Some(c) => conn.dialectDF(s"SELECT * FROM ${ident(t)} WHERE ($c) IS NOT TRUE")
      case None => spark.table(t).limit(0)
    }
    replaceContents(conn, t, remaining)
    val kept = spark.table(t).count()
    import spark.implicits._
    Seq(total - kept).toDF("Count")
  }

  /** `UPDATE t SET c = e, ... [WHERE cond]` — copy-on-write projection over
    * one statement-path SELECT that evaluates the predicate and every
    * right-hand side; assigned columns take their new value where the
    * predicate is TRUE, cast back to the column's type (DuckDB binds
    * assignments to the column type). */
  private def updateSet(conn: Connection, table: String, setList: String,
      cond: Option[String]): DataFrame = {
    val spark = conn.engine.spark
    import org.apache.spark.sql.functions.when
    val t = cleanName(table)
    val schema = spark.table(t).schema
    val assigns = graft.dialect.SqlText.splitTopLevel(setList, ',').map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"bad SET item: $a")
      (schema(cleanName(a.substring(0, i).trim)).name, a.substring(i + 1).trim)
    }
    val values = conn.dialectDF(
      (s"(${cond.getOrElse("TRUE")}) IS TRUE AS __graft_hit" +:
        assigns.zipWithIndex.map { case ((_, rhs), i) => s"($rhs) AS __graft_set_$i" })
        .mkString("SELECT *, ", ", ", s" FROM ${ident(t)}"))
    val hit = col("__graft_hit")
    // count the affected rows BEFORE the swap — the old files are gone after
    val n = values.filter(hit).count()
    val updated = values.select(schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      assigns.lastIndexWhere(_._1 == f.name) match {
        case -1 => c
        case i => when(hit, col(s"__graft_set_$i").cast(f.dataType)).otherwise(c).as(f.name)
      }
    }: _*)
    replaceContents(conn, t, updated)
    import spark.implicits._
    Seq(n).toDF("Count")
  }

  /** `INSERT INTO t [(cols)] VALUES ... / SELECT ... RETURNING list` —
    * appends, then evaluates the RETURNING projection over exactly the
    * inserted rows (DuckDB docs/sql/statements/insert#returning-clause).
    * The source and the RETURNING list both plan on the statement path. */
  private def insertReturning(conn: Connection, table: String,
      colList: Option[String], source: String, returning: String): DataFrame = {
    val spark = conn.engine.spark
    import org.apache.spark.sql.functions.lit
    val t = cleanName(table)
    val schema = spark.table(t).schema
    val src0 = source.trim
    val srcSql = if (src0.toLowerCase.startsWith("values")) s"SELECT * FROM ($src0)" else src0
    val src = conn.dialectDF(srcSql)
    val aligned = colList.map(_.stripPrefix("(").stripSuffix(")")
        .split(",").map(c => cleanName(c.trim)).toSeq) match {
      case Some(cols) =>
        val renamed = src.toDF(cols: _*)
        renamed.select(schema.fields.map { f =>
          cols.find(_.equalsIgnoreCase(f.name)) match {
            case Some(c) => col(c).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }.toSeq: _*)
      case None =>
        src.toDF(schema.fieldNames.toSeq: _*)
          .select(schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
    }
    val inserted = aligned.localCheckpoint(true)
    inserted.write.mode(SaveMode.Append).insertInto(t)
    inserted.createOrReplaceTempView("__graft_returning")
    conn.dialectDF(s"SELECT $returning FROM __graft_returning")
  }

  /** `IMPORT DATABASE 'dir'` — replay schema.sql then load.sql, the
    * round-trip counterpart of EXPORT DATABASE. Statements run through the
    * normal dispatch, so the load.sql COPY FROM lines land here too. */
  private def importDatabase(conn: Connection, dir: String): DataFrame = {
    val spark = conn.engine.spark
    val statements = Seq("schema.sql", "load.sql").flatMap { f =>
      val p = Paths.get(dir, f)
      if (Files.exists(p)) splitStatements(Files.readString(p)) else Nil
    }
    statements.foreach(conn.queryDF(_))
    import spark.implicits._
    statements.toDF("executed")
  }

  /** Split a SQL script on ';' outside string literals. */
  private def splitStatements(script: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    var i = 0
    while (i < script.length) {
      script.charAt(i) match {
        case '\'' => i = graft.dialect.SqlText.literalEnd(script, i) - 1
        case ';' =>
          val s = script.substring(start, i).trim
          if (s.nonEmpty) out += s
          start = i + 1
        case _ => ()
      }
      i += 1
    }
    val last = script.substring(start).trim
    if (last.nonEmpty) out += last
    out.toSeq
  }

  /** EXPORT DATABASE: every table as csv/parquet + schema.sql + load.sql,
    * mirroring the reference's golden file list. */
  private def exportDatabase(conn: Connection, dir: String, fmt: Option[String]): DataFrame = {
    val spark = conn.engine.spark
    val parquet = fmt.exists(_.equalsIgnoreCase("PARQUET"))
    val out = Paths.get(dir)
    Files.createDirectories(out)
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filterNot(_.startsWith("__graft_")).sorted
    val schemaSql = new StringBuilder
    val loadSql = new StringBuilder
    tables.foreach { t =>
      val df = spark.table(t)
      val file = out.resolve(if (parquet) s"$t.parquet" else s"$t.csv")
      val tmp = Files.createTempDirectory("graft-export-").resolve(t)
      if (parquet) df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      else df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .filter { f => val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_") }.toSeq.head
      Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
      val cols = df.schema.fields
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      schemaSql.append(s"CREATE TABLE $t($cols);\n")
      loadSql.append(
        if (parquet) s"COPY $t FROM '${file}' (FORMAT 'parquet');\n"
        else s"COPY $t FROM '${file}' (FORMAT 'csv', quote '\"', delimiter ',', header 1);\n")
    }
    Files.writeString(out.resolve("schema.sql"), schemaSql.toString)
    Files.writeString(out.resolve("load.sql"), loadSql.toString)
    import spark.implicits._
    tables.toSeq.toDF("exported")
  }
}
