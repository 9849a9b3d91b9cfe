package graft.dialect

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ParsedSql

/** DuckDB's simplified PIVOT / UNPIVOT statements (duckdb
  * docs/sql/statements/pivot + unpivot), executed through the native Spark
  * relational operators:
  *
  *  - `PIVOT tbl ON c USING agg(x) [AS alias][, ...] [GROUP BY g, ...]`
  *    → `df.groupBy(g...).pivot(c).agg(...)` — RelationalGroupedDataset
  *    .pivot IS Spark's dynamic pivot: it collects the DISTINCT values of
  *    the ON column first (one small job, bounded by the output width —
  *    exactly what DuckDB's binder does internally) and then runs a single
  *    partial-aggregated shuffle keyed on the group columns. Output column
  *    naming matches DuckDB: bare value for a single unaliased aggregate,
  *    `value_alias` per aggregate otherwise. A USING aggregate goes through
  *    the statement path's parse hook, so DuckDB function spellings
  *    (`fsum(x)`, `list(x)`) resolve there as in any query.
  *  - omitted GROUP BY follows DuckDB's implicit rule: every column not
  *    pivoted ON and not consumed by a USING aggregate groups.
  *  - `UNPIVOT tbl ON c1, c2, ... INTO NAME n VALUE v`
  *    → `df.unpivot(ids, values, n, v)` (Spark's native melt) with NULL
  *    value rows dropped, matching DuckDB's default.
  *
  * At scale: pivot is one hash-aggregate shuffle on the group keys (the
  * pivoted width is a constant), unpivot is a narrow flatMap — neither adds
  * a driver-side loop beyond the bounded distinct-value collect.
  */
object PivotOps {

  private val PivotRe =
    """(?is)\s*PIVOT\s+([\w.`"]+)\s+ON\s+([\w`"]+)(?:\s+IN\s*\((.+?)\))?\s+USING\s+(.+?)(?:\s+GROUP\s+BY\s+(.+?))?\s*""".r
  private val UnpivotRe =
    """(?is)\s*UNPIVOT\s+([\w.`"]+)\s+ON\s+(.+?)\s+INTO\s+NAME\s+([\w`"]+)\s+VALUE\s+([\w`"]+)\s*""".r

  private val SubHead =
    java.util.regex.Pattern.compile("""(?is)^\s*(UNPIVOT|PIVOT)\s*\(""")
  private val PivotRestRe =
    """(?is)\s+ON\s+([\w`"]+)(?:\s+IN\s*\((.+?)\))?\s+USING\s+(.+?)(?:\s+GROUP\s+BY\s+(.+?))?\s*""".r
  private val UnpivotRestRe =
    """(?is)\s+ON\s+(.+?)\s+INTO\s+NAME\s+([\w`"]+)\s+VALUE\s+([\w`"]+)\s*""".r

  /** Some(result) when the statement is a PIVOT/UNPIVOT handled here.
    * `runSub` evaluates a parenthesized SUBQUERY source — DuckDB accepts
    * `PIVOT (SELECT …) ON …` (round-16 fuzz find) — and is the engine's
    * statement path, so the inner SELECT gets every rewrite a top-level
    * query would (Commands passes `conn.queryDF`). `strictMath` is the
    * engine's `SET strict_math`. */
  def dispatch(spark: SparkSession, sql: String,
      runSub: String => DataFrame, strictMath: Boolean): Option[DataFrame] = sql match {
    case PivotRe(table, on, inList, using, groupBy) =>
      Some(pivotDf(spark, spark.table(unquote(table)), unquote(on), using,
        Option(groupBy), Option(inList), strictMath))
    case UnpivotRe(table, on, name, value) =>
      Some(unpivotDf(spark.table(unquote(table)), on, unquote(name),
        unquote(value)))
    case _ =>
      val m = SubHead.matcher(sql)
      if (!m.lookingAt()) None
      else {
        val kw = m.group(1).toUpperCase
        val open = m.end - 1
        val close = SqlText.groupEnd(sql, open) // exclusive, past ')'
        if (close > sql.length) None
        else {
          val inner = sql.substring(open + 1, close - 1)
          sql.substring(close) match {
            case PivotRestRe(on, inList, using, groupBy) if kw == "PIVOT" =>
              Some(pivotDf(spark, runSub(inner), unquote(on), using,
                Option(groupBy), Option(inList), strictMath))
            case UnpivotRestRe(onText, name, value) if kw == "UNPIVOT" =>
              Some(unpivotDf(runSub(inner), onText, unquote(name),
                unquote(value)))
            case _ => None
          }
        }
      }
  }

  private def pivotDf(spark: SparkSession, df: DataFrame, on: String,
      usingText: String, groupByText: Option[String],
      inListText: Option[String], strictMath: Boolean): DataFrame = {
    def expr(e: String): Column =
      ParsedSql.column(spark, SqlText.escapeLiteralsForSpark(e), strictMath)
    val aggs = splitTopLevel(usingText).map(parseAgg)
    val groupCols: Seq[String] = groupByText match {
      case Some(g) => splitTopLevel(g).map(unquote)
      case None =>
        // implicit grouping: all columns neither pivoted ON nor *referenced
        // by* a USING aggregate (DuckDB's binder rule). References come from
        // parsing each aggregate and walking its attribute nodes, so a
        // column whose name collides with a function name or a word inside
        // a string literal is NOT excluded (the old word-regex was).
        val referenced = aggs.flatMap { case (e, _) => exprRefs(spark, e, usingText) }
          .map(_.toLowerCase).toSet
        df.columns.toSeq.filterNot(c =>
          c.equalsIgnoreCase(on) || referenced.contains(c.toLowerCase))
    }
    // A pinned IN-list skips Spark's distinct-values job entirely — one
    // fewer Spark job and stable column order, same as DuckDB's bound form.
    val grouped = inListText match {
      case Some(vals) =>
        df.groupBy(groupCols.map(col): _*).pivot(on, splitTopLevel(vals).map(parseValue))
      case None => df.groupBy(groupCols.map(col): _*).pivot(on)
    }
    aggs match {
      case Seq((e, None)) => grouped.agg(expr(e)) // bare value column names
      case Seq((e, Some(alias))) =>
        // Spark names single-agg pivot columns by bare value even when the
        // aggregate is aliased; DuckDB emits `value_alias` — rename to match.
        val out = grouped.agg(expr(e))
        groupCols.foldLeft(out.columns.toSeq)((cs, g) => cs.filterNot(_ == g))
          .foldLeft(out)((d, c) => d.withColumnRenamed(c, s"${c}_$alias"))
      case _ =>
        val cols: Seq[Column] = aggs.zipWithIndex.map { case ((e, alias), i) =>
          expr(e).as(alias.getOrElse(s"agg_$i"))
        }
        grouped.agg(cols.head, cols.tail: _*)
    }
  }

  private def unpivotDf(df: DataFrame, onText: String,
      name: String, value: String): DataFrame = {
    val values = splitTopLevel(onText).map(unquote)
    val ids = df.columns.toSeq.filterNot(c => values.exists(_.equalsIgnoreCase(c)))
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, name, value)
      .filter(col(value).isNotNull) // DuckDB UNPIVOT drops NULL cells
  }

  /** Column names an aggregate expression actually references, via Spark's
    * parser (UnresolvedAttribute walk). Falls back to the word-regex over
    * the USING text only if the expression doesn't parse. */
  private def exprRefs(spark: SparkSession, aggExpr: String,
      usingText: String): Seq[String] =
    try spark.sessionState.sqlParser.parseExpression(aggExpr).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.last
    } catch {
      case _: Exception =>
        """[A-Za-z_][A-Za-z0-9_]*""".r.findAllIn(usingText).toSeq
    }

  /** A literal from a PIVOT IN-list: number, boolean, or string ('' unescaped). */
  private def parseValue(item: String): Any = {
    val t = item.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'')
      t.substring(1, t.length - 1).replace("''", "'")
    else if (t.equalsIgnoreCase("true")) true
    else if (t.equalsIgnoreCase("false")) false
    else if (t.matches("[+-]?\\d+")) t.toLong
    else if (t.matches("[+-]?\\d*\\.\\d+([eE][+-]?\\d+)?")) t.toDouble
    else unquote(t)
  }

  /** `agg_expr [AS alias]` — the alias split is on the LAST top-level AS. */
  private def parseAgg(item: String): (String, Option[String]) = {
    val m = """(?is)(.+?)\s+AS\s+([\w`"]+)\s*$""".r
    item.trim match {
      case m(e, alias) if balanced(e) => (e.trim, Some(unquote(alias)))
      case other => (other, None)
    }
  }

  private def balanced(s: String): Boolean = {
    var depth = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(s, i) - 1
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ => ()
      }
      i += 1
    }
    depth == 0
  }

  private def unquote(id: String): String =
    id.trim.stripPrefix("`").stripSuffix("`").stripPrefix("\"").stripSuffix("\"")

  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(s, i) - 1
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i).trim
          start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start).trim
    out.filter(_.nonEmpty).toSeq
  }
}
