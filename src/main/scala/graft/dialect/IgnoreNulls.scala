package graft.dialect

/** DuckDB's in-call null-handling flag — `first_value(x IGNORE NULLS)`,
  * `lead(x, 1 RESPECT NULLS)` — moved to Spark's POSTFIX spelling
  * (`first_value(x) IGNORE NULLS OVER …`), which is the only form
  * Spark's parser accepts.
  *
  * Scan discipline: function heads found on a literal/comment-masked
  * copy, argument groups balanced via [[SqlText.groupEnd]], arguments
  * recursed (nested window calls), and the flag recognized only as the
  * balanced group's top-level TAIL — `fn((x IGNORE NULLS))` or a literal
  * containing the words never rewrites.
  *
  * The flag reaches the tree as the call's own, so a frame EXCLUDE split
  * (graft.functions.WindowExcludeRule) sees it on the resolved aggregate.
  *
  * Reference surface: duckdb window function IGNORE NULLS binding
  * (duckdb docs/sql/window_functions); translation original. */
object IgnoreNulls {

  private val FnRe = java.util.regex.Pattern.compile(
    """(?i)\b(first_value|last_value|nth_value|lag|lead|any_value)\s*\(""")
  private val FlagRe = java.util.regex.Pattern.compile(
    """(?is)\s+(IGNORE|RESPECT)\s+NULLS\s*$""")
  private val AnyFlag = java.util.regex.Pattern.compile(
    """(?is)\b(IGNORE|RESPECT)\s+NULLS\b""")

  def rewrite(sql: String): String = {
    if (!AnyFlag.matcher(sql).find()) return sql
    val masked = SqlText.maskLitsAndComments(sql)
    val sb = new java.lang.StringBuilder
    val m = FnRe.matcher(masked)
    var last = 0
    while (last < sql.length && m.find(last)) {
      val open = m.end - 1
      val close = SqlText.groupEnd(masked, open)
      if (close > sql.length) {
        // unbalanced tail: emit as-is, done
        sb.append(sql, last, sql.length)
        return sb.toString
      }
      // decide the tail flag on the ORIGINAL argument text, then recurse
      // only the remaining prefix — matching against the recursed text
      // would hoist a NESTED call's already-moved postfix flag onto this
      // outer call (first_value(lead(x IGNORE NULLS)) must keep the flag
      // on lead, however invalid the nesting is downstream)
      val rawInner = sql.substring(open + 1, close - 1)
      val fm = FlagRe.matcher(SqlText.maskLitsAndComments(rawInner))
      sb.append(sql, last, open + 1)
      if (fm.find()) {
        sb.append(rewrite(rawInner.substring(0, fm.start))).append(") ")
          .append(fm.group(1).toUpperCase).append(" NULLS")
      } else sb.append(rewrite(rawInner)).append(')')
      last = close
    }
    sb.append(sql, last, sql.length)
    sb.toString
  }
}
