package graft.dialect

import graft.session.FileRegistry
import org.apache.spark.sql.SparkSession
import java.util.regex.Matcher.quoteReplacement

/** String-level dialect shim mapping the reference's SQL surface onto Spark
  * SQL before parsing (SURVEY §4.2 item 1):
  *
  *  - `parquet_scan('f')` / `read_parquet('f')` table functions
  *    (reference: lib/test/parquet_test.cc:25, filesystem.test.ts:25)
  *  - `read_csv('f', ...)` scans (webdb.cc:339-404)
  *  - bare-filename FROM refs: `FROM 'data.csv'` (github_332.test.ts:67)
  *  - `generate_series(a, b)` inclusive series (bindings.test.ts:57)
  *  - `PRAGMA show_tables` (bindings.test.ts:43-51) — handled as a command
  *    by Connection (SHOW can't nest in a SELECT), detected here.
  *
  * `x::TYPE` casts need no rewrite — Spark ≥3.4 parses `::` natively.
  *
  * Scans resolve through the FileRegistry's scan-relation cache to temp
  * views, so Catalyst sees an ordinary relation (predicate pushdown +
  * pruning intact) and a source is resolved once per version, not once per
  * statement.
  */
final class DialectRewriter(spark: SparkSession, files: FileRegistry,
    macros: MacroRegistry = new MacroRegistry) {

  private val ParquetScan = """(?i)(parquet_scan|read_parquet)\s*\(\s*'([^']+)'\s*\)""".r
  private val ReadCsv = """(?i)read_csv(?:_auto)?\s*\(\s*'([^']+)'([^)]*)\)""".r
  private val BareFile = """(?i)\b(from|join)\s+'([^']+\.(?:csv|parquet|json))'""".r
  // FROM/JOIN-position only: scalar-position generate_series is a LIST in
  // DuckDB and maps to sequence() in DialectFunctions — wrapping it in the
  // TVF subquery there would turn it into an illegal multi-row scalar.
  private val GenSeries =
    """(?i)\b(from|join)(\s+)generate_series\s*\(\s*(-?\d+)\s*,\s*(-?\d+)\s*\)""".r

  /** The dialect text chain. Function spellings are left for the parse
    * tree (graftbridge.ParsedSql with [[DialectFunctions]]); `strictMath`
    * (`SET strict_math = true`) reaches the tree hook where a pass here
    * resolves text through it (UNION BY NAME branches). */
  def rewrite(sql: String, strictMath: Boolean = false): String = {
    // DuckDB literals are standard-SQL (backslash = plain char); Spark's
    // parser applies C-style escapes — translate so both mean the same
    // string (fixes '\s+' silently splitting on "s+").
    // macros expand FIRST, before literal escaping: stored bodies are raw
    // DuckDB text (captured at CREATE MACRO), so the expanded literals must
    // flow through the same standard-SQL → Spark escape translation
    var out = SqlText.escapeLiteralsForSpark(macros.expand(sql))
    def parquetView(name: String) =
      files.scanView(spark, name, "parquet")(graft.Tables.readParquetAuto(spark, _))
    out = ParquetScan.replaceAllIn(out, m => quoteReplacement(parquetView(m.group(2))))
    out = ReadCsv.replaceAllIn(out, m => {
      val parsed = parseCsvArgs(m.group(2))
      quoteReplacement(files.scanView(spark, m.group(1), "read_csv", parsed) { path =>
        graft.ingest.CsvIngest.read(spark, path,
          graft.ingest.IngestOptions(
            name = m.group(1),
            header = parsed.get("header").map(_.toBoolean),
            delimiter = parsed.get("delim"),
            quote = parsed.get("quote"),
            escape = parsed.get("escape"),
            skip = parsed.get("skip").map(_.toInt),
            detect = parsed.get("auto_detect").forall(_.toBoolean),
            dateFormat = parsed.get("dateformat"),
            timestampFormat = parsed.get("timestampformat")))
      })
    })
    // the resolved path's extension picks the reader; a bare parquet file is
    // read as parquet_scan reads it, so the two spellings share one view
    out = BareFile.replaceAllIn(out, m => {
      val view = files.resolve(m.group(2)).toLowerCase match {
        case p if p.endsWith(".csv") => files.scanView(spark, m.group(2), "file")(path =>
          spark.read.option("header", "true").option("inferSchema", "true").csv(path))
        case p if p.endsWith(".json") =>
          files.scanView(spark, m.group(2), "file")(path => spark.read.json(path))
        case _ => parquetView(m.group(2))
      }
      quoteReplacement(s"${m.group(1)} $view")
    })
    // FROM-first query syntax normalizes before any pass that assumes a
    // SELECT-first block shape (QUALIFY wrap, star sugar)
    out = FromFirst.rewrite(out)
    // Keyword-level rewrites run only OUTSIDE string literals — a literal
    // containing the word BLOB or a series call must pass through untouched.
    out = SqlText.mapOutsideLiterals(out) { seg =>
      var o = seg
      // DuckDB's generate_series is end-INCLUSIVE and yields BIGINT;
      // Spark's sequence() matches the inclusivity, the cast fixes the type.
      o = GenSeries.replaceAllIn(o,
        m => s"${m.group(1)}${m.group(2)}(SELECT explode(sequence(CAST(${m.group(3)} AS BIGINT), " +
          s"CAST(${m.group(4)} AS BIGINT))) AS generate_series)")
      // DuckDB type names Spark spells differently: bare VARCHAR (no length)
      // and BLOB (batch_stream.test.ts uses ::VARCHAR; BLOB ↔ BinaryType per
      // SURVEY §1.3). VARCHAR(n) passes through untouched.
      o = """(?i)\bVARCHAR\b(?!\s*\()""".r.replaceAllIn(o, "STRING")
      o = """(?i)\bBLOB\b""".r.replaceAllIn(o, "BINARY")
      o
    }
    // COLUMNS(...) star expressions expand against the (now-registered)
    // relation schemas
    out = ColumnsExpansion.rewrite(spark, out)
    // DuckDB syntax Spark's parser rejects: literal forms, operators,
    // aggregate clauses (see DialectSyntax)
    out = DialectSyntax.rewrite(out)
    // DuckDB query sugar Spark lacks: QUALIFY / DISTINCT ON / star-EXCLUDE
    // (see DialectSugar)
    out = DialectSugar.rewrite(out)
    // duck's in-call IGNORE/RESPECT NULLS → Spark's postfix spelling
    out = IgnoreNulls.rewrite(out)
    // UNION BY NAME needs every branch already Spark-parseable (it
    // resolves branch schemas plan-only), so it follows the passes above
    out = SetOpsByName.rewrite(spark, out, strictMath)
    // LAST: pin DuckDB's NULLS-LAST default onto every ascending ORDER BY
    // key (covers ORDER BY text synthesized by the passes above too)
    NullOrder.rewrite(out)
  }

  /** Parse the reference's read_csv named args (csv_insert_options.h:17-45)
    * into raw canonical keys; CsvIngest owns the Spark-option translation
    * (incl. strftime→java patterns and the skip-N line drop). */
  private[dialect] def parseCsvArgs(args: String): Map[String, String] = {
    val Arg = """(?i)\s*,?\s*(\w+)\s*=\s*('([^']*)'|[^,]+)""".r
    Arg.findAllMatchIn(args).flatMap { m =>
      val key = m.group(1).toLowerCase
      val value = Option(m.group(3)).getOrElse(m.group(2).trim)
      key match {
        case "sep" => Some("delim" -> value)
        case k @ ("delim" | "header" | "quote" | "escape" | "skip" |
            "auto_detect" | "dateformat" | "timestampformat") =>
          Some(k -> (if (k == "header" || k == "auto_detect") value.toLowerCase else value))
        case _ => None
      }
    }.toMap
  }
}

/** strftime → java.time.DateTimeFormatter pattern translation for the CSV
  * option surface (reference accepts `%m/%d/%Y`-style patterns,
  * insert_csv.test.ts:151-177). */
object Strftime {
  private val map = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
    'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss",
    'f' -> "SSSSSS", 'g' -> "SSS", 'p' -> "a", 'j' -> "DDD",
    'B' -> "MMMM", 'b' -> "MMM", 'a' -> "EEE", 'A' -> "EEEE", '%' -> "%")

  def toJavaPattern(strf: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < strf.length) {
      val c = strf.charAt(i)
      if (c == '%' && i + 1 < strf.length) {
        val spec = strf.charAt(i + 1)
        // an unmapped %LETTER would previously leak the raw letter into
        // the Java pattern — a SILENT week-aligned/era garbage class
        // (round-14 grid); DuckDB supports specifiers Java's patterns
        // cannot express (%U/%W/%w/%u/%n/…) — loud beats wrong
        if (!map.contains(spec) && spec.isLetter)
          throw new IllegalArgumentException(
            s"strftime specifier %$spec is not supported by this engine " +
              "(no Java date pattern equivalent)")
        sb.append(map.getOrElse(spec, spec.toString))
        i += 2
      } else {
        // literal chars that are pattern letters need quoting
        if (c.isLetter) sb.append("'").append(c).append("'") else sb.append(c)
        i += 1
      }
    }
    sb.toString
  }
}
