package graft.dialect

/** Pin DuckDB's default null ordering onto every ORDER BY key.
  *
  * DuckDB orders NULLs LAST by default in BOTH directions
  * (`default_null_order = 'nulls_last'`, the 1.0.0 default — verified
  * against the reference engine); Spark's ASC default is NULLS FIRST.
  * Every ascending sort key without an explicit NULLS qualifier therefore
  * diverges silently on nullable columns — and under LIMIT the engines
  * return *different rows*, not just a different order. Descending keys
  * already agree (Spark's DESC default is NULLS LAST).
  *
  * This pass appends `NULLS LAST` to exactly the keys that need it, in
  * every ORDER BY clause at every nesting depth: top level, subqueries,
  * and window OVER clauses. `WITHIN GROUP (ORDER BY ...)` is left
  * untouched — Spark's inverse-distribution parser owns that clause and
  * the aggregate skips NULLs regardless of their sort position.
  *
  * Runs LAST in the dialect chain, so earlier passes that synthesize
  * ORDER BY text (QUALIFY windows, ASOF validity windows) are covered too.
  * `ORDER BY ALL` is one key: Spark applies its NULLS LAST to every
  * column.
  */
object NullOrder {

  private val OrderByPat = java.util.regex.Pattern.compile("(?i)ORDER\\s+BY\\b")
  private val HasNulls = "(?is).*\\bNULLS\\s+(FIRST|LAST)\\s*$".r
  private val EndsDesc = "(?is).*\\bDESC\\s*$".r
  // clause terminators at relative depth 0 (word-boundary, case-insensitive)
  private val Terminator = java.util.regex.Pattern.compile(
    "(?i)\\b(LIMIT|OFFSET|FETCH|UNION|EXCEPT|INTERSECT|MINUS|WINDOW)\\b")
  // frame-spec openers terminate a window ORDER BY only when what follows
  // is actually a frame (BETWEEN / UNBOUNDED / CURRENT / n PRECEDING) —
  // `RANGE` alone could be an identifier in user text
  private val FramePat = java.util.regex.Pattern.compile(
    "(?i)\\b(ROWS|RANGE|GROUPS)\\s+(BETWEEN|UNBOUNDED|CURRENT|INTERVAL|'|-?\\d)")

  def rewrite(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    val m = OrderByPat.matcher(sql)
    while (i < sql.length) {
      val ce = commentEnd(sql, i)
      val c = sql.charAt(i)
      if (ce > i) { sb.append(sql.substring(i, ce)); i = ce }
      else if (c == '\'') {
        val e = SqlText.literalEnd(sql, i); sb.append(sql.substring(i, e)); i = e
      } else if ((c == 'o' || c == 'O') && wordBoundaryBefore(sql, i) && {
          m.region(i, sql.length); m.lookingAt()
        } && !withinGroupContext(sql, i)) {
        val kwEnd = m.`end`()
        val clauseEnd = findClauseEnd(sql, kwEnd)
        val keys = splitKeys(sql.substring(kwEnd, clauseEnd))
        sb.append(sql.substring(i, kwEnd)).append(' ')
        sb.append(keys.map(pinKey).mkString(", "))
        // preserve a separator before the terminator keyword / paren
        if (clauseEnd < sql.length && !sql.charAt(clauseEnd).isWhitespace &&
            sql.charAt(clauseEnd) != ')' && sql.charAt(clauseEnd) != ';')
          sb.append(' ')
        i = clauseEnd
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def pinKey(key: String): String = {
    val t = key.trim
    if (t.isEmpty) t
    else if (HasNulls.matches(stripLiteralBodies(t))) t
    else if (EndsDesc.matches(stripLiteralBodies(t))) t
    else t + " NULLS LAST"
  }

  /** Blank literal CONTENTS (quotes kept) so suffix regexes can't match a
    * DESC/NULLS inside a string constant at the end of a key. */
  private def stripLiteralBodies(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\'') {
        val e = SqlText.literalEnd(s, i)
        sb.append('\'').append(" " * math.max(0, e - i - 2))
        if (e - i >= 2) sb.append('\'')
        i = e
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** End (exclusive) of the key list that starts right after ORDER BY. */
  private def findClauseEnd(sql: String, from: Int): Int = {
    var i = from
    var depth = 0
    while (i < sql.length) {
      val ce = commentEnd(sql, i)
      if (ce > i) { i = ce }
      else sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i)
        case '(' | '[' => depth += 1; i += 1
        case ')' | ']' => if (depth == 0) return i else { depth -= 1; i += 1 }
        case ';' if depth == 0 => return i
        case ch if depth == 0 && ch.isLetter && wordBoundaryBefore(sql, i) =>
          val tm = Terminator.matcher(sql); tm.region(i, sql.length)
          if (tm.lookingAt()) return i
          val fm = FramePat.matcher(sql); fm.region(i, sql.length)
          if (fm.lookingAt()) return i
          // skip the whole word so LIMIT inside an identifier can't match
          var j = i + 1
          while (j < sql.length && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
          i = j
        case _ => i += 1
      }
    }
    sql.length
  }

  /** Split the key list on depth-0 commas outside literals/comments. */
  private def splitKeys(clause: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    var depth = 0
    var i = 0
    while (i < clause.length) {
      val ce = commentEnd(clause, i)
      if (ce > i) { i = ce }
      else clause.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(clause, i)
        case '(' | '[' => depth += 1; i += 1
        case ')' | ']' => depth -= 1; i += 1
        case ',' if depth == 0 =>
          out += clause.substring(start, i); start = i + 1; i += 1
        case _ => i += 1
      }
    }
    out += clause.substring(start)
    out.toSeq
  }

  /** True when this ORDER BY is the `WITHIN GROUP (ORDER BY ...)` form:
    * the nearest preceding non-space char is '(' and the word before it is
    * GROUP. */
  private def withinGroupContext(sql: String, at: Int): Boolean = {
    var i = at - 1
    while (i >= 0 && sql.charAt(i).isWhitespace) i -= 1
    if (i < 0 || sql.charAt(i) != '(') return false
    i -= 1
    while (i >= 0 && sql.charAt(i).isWhitespace) i -= 1
    val end = i + 1
    while (i >= 0 && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i -= 1
    sql.substring(i + 1, end).equalsIgnoreCase("group")
  }

  private def wordBoundaryBefore(sql: String, i: Int): Boolean =
    i == 0 || { val p = sql.charAt(i - 1); !p.isLetterOrDigit && p != '_' }

  private def commentEnd(sql: String, i: Int): Int =
    if (sql.startsWith("--", i)) {
      val nl = sql.indexOf('\n', i)
      if (nl < 0) sql.length else nl + 1
    } else if (sql.startsWith("/*", i)) {
      val end = sql.indexOf("*/", i + 2)
      if (end < 0) sql.length else end + 2
    } else i
}
