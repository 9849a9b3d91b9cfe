package graft.dialect

/** `agg(args) FILTER (WHERE p) OVER spec` — DuckDB evaluates the FILTER
  * against every window frame row (reference: duckdb FILTER clause docs;
  * accepted by DuckDB 1.0 including combined with frame EXCLUDE). Spark
  * rejects window aggregates with a filter predicate ("not supported
  * yet"), so the pass folds the predicate into the argument:
  *
  *   sum(x)  FILTER (WHERE p) OVER w → sum(CASE WHEN p THEN x END) OVER w
  *   count(*) FILTER (WHERE p) OVER w → count(CASE WHEN p THEN 1 END) OVER w
  *
  * Exactly equivalent for NULL-IGNORING aggregates (the CASE yields NULL
  * on filtered rows, and NULLs never enter these aggregates' state):
  * sum/count/avg/min/max, the stddev and var families. Anything else — row-order
  * functions like first_value (a NULL first row is an answer, not an
  * absence), multi-argument aggregates (corr), DISTINCT-star — is left
  * untouched, so Spark's own "not supported yet" error surfaces loudly
  * rather than a silent semantic change. Grouped-aggregate FILTER (no
  * OVER after the filter group) is native Spark and passes through.
  *
  * Runs BEFORE WindowExclude so `FILTER (...) ... EXCLUDE TIES` composes:
  * the fold leaves a plain `agg(CASE ...) OVER (... EXCLUDE ...)` that the
  * exclusion expansion then rewrites.
  */
object WindowFilter {

  /** NULL-ignoring aggregates where filtering rows ≡ nulling arguments.
    * The quantile family qualifies too (round 17): both engines drop
    * NULLs from the quantile/median/entropy state, so the CASE-fold is
    * exact — and it is the ONLY window path for them (Spark's window
    * FILTER check fires during analysis extraction, before any engine
    * rule can stitch). */
  private val Foldable = Set(
    "sum", "count", "avg", "mean", "min", "max",
    "stddev", "stddev_samp", "stddev_pop",
    "variance", "var_samp", "var_pop",
    "median", "entropy", "quantile", "quantile_disc", "quantile_cont") ++
    DialectFunctions.NullIgnoringAggregates

  /** Two-argument members whose SECOND argument is the constant quantile
    * position — only the value argument folds. */
  private val FirstArgOnly = Set("quantile", "quantile_disc", "quantile_cont")

  private val Ident =
    java.util.regex.Pattern.compile("[A-Za-z_][A-Za-z0-9_]*")

  private def kwAt(sql: String, i: Int, kw: String): Boolean =
    sql.regionMatches(true, i, kw, 0, kw.length) &&
      (i + kw.length >= sql.length || !isIdentChar(sql.charAt(i + kw.length)))

  private def isIdentChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  private def isWordStart(sql: String, i: Int): Boolean =
    i == 0 || !isIdentChar(sql.charAt(i - 1))

  private def closeParen(sql: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i)
        case '-' | '/' =>
          val ce = SqlText.commentEnd(sql, i)
          if (ce > i) i = ce else i += 1
        case '(' => depth += 1; i += 1
        case ')' =>
          depth -= 1; i += 1
          if (depth == 0) return i
        case _ => i += 1
      }
    }
    sql.length
  }

  def rewrite(sql: String): String = {
    var out = sql
    var changed = true
    var guard = 0
    while (changed && guard < 128) {
      guard += 1
      changed = false
      rewriteOne(out) match {
        case Some(next) => out = next; changed = true
        case None =>
      }
    }
    out
  }

  /** Fold the first foldable `agg(args) FILTER (WHERE p) OVER` site. */
  private def rewriteOne(sql: String): Option[String] = {
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i)
        case '-' | '/' =>
          val ce = SqlText.commentEnd(sql, i)
          if (ce > i) i = ce else i += 1
        case c if isIdentChar(c) && isWordStart(sql, i) =>
          val im = Ident.matcher(sql); im.region(i, sql.length)
          if (im.lookingAt()) {
            val name = im.group.toLowerCase
            val argOpen = SqlText.skipWsAndComments(sql, im.end)
            if (Foldable(name) && argOpen < sql.length &&
                sql.charAt(argOpen) == '(') {
              val argClose = closeParen(sql, argOpen) // past ')'
              val fIdx = SqlText.skipWsAndComments(sql, argClose)
              if (kwAt(sql, fIdx, "FILTER")) {
                val gOpen = SqlText.skipWsAndComments(sql, fIdx + 6)
                if (gOpen < sql.length && sql.charAt(gOpen) == '(') {
                  val gClose = closeParen(sql, gOpen) // past ')'
                  val wIdx = SqlText.skipWsAndComments(sql, gOpen + 1)
                  val oIdx = SqlText.skipWsAndComments(sql, gClose)
                  if (kwAt(sql, wIdx, "WHERE") && kwAt(sql, oIdx, "OVER")) {
                    val pred = sql.substring(wIdx + 5, gClose - 1).trim
                    foldArg(name, sql.substring(argOpen + 1, argClose - 1).trim,
                        pred).foreach { newArg =>
                      return Some(sql.substring(0, argOpen) +
                        "(" + newArg + ") " + sql.substring(oIdx))
                    }
                  }
                }
              }
            }
            i = im.end
          } else i += 1
        case _ => i += 1
      }
    }
    None
  }

  /** CASE-folded argument, or None for shapes the fold cannot express
    * (multi-argument lists, DISTINCT *). */
  private def foldArg(name: String, args: String, pred: String): Option[String] = {
    if (args == "*")
      return if (name == "count") Some(s"CASE WHEN $pred THEN 1 END") else None
    val distinct = args.length >= 9 &&
      args.regionMatches(true, 0, "DISTINCT", 0, 8) &&
      !isIdentChar(args.charAt(8))
    val expr0 = if (distinct) args.substring(8).trim else args
    val parts = SqlText.splitTopLevel(expr0, ',')
    if (expr0 == "*") None
    else if (parts.length == 1)
      Some((if (distinct) "DISTINCT " else "") +
        s"CASE WHEN $pred THEN $expr0 END")
    else if (FirstArgOnly(name) && parts.length == 2)
      Some((if (distinct) "DISTINCT " else "") +
        s"CASE WHEN $pred THEN ${parts(0).trim} END, ${parts(1).trim}")
    else None
  }
}
