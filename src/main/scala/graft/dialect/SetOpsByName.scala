package graft.dialect

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ParsedSql

/** DuckDB `UNION [ALL] BY NAME` → column-aligned Spark set operation.
  *
  * DuckDB matches set-operation columns by NAME, fills columns absent on
  * one side with NULL, and orders the output as the left side's columns
  * followed by the right side's new ones (duckdb docs,
  * sql/query_syntax/setops). Spark SQL has no BY NAME spelling (only the
  * DataFrame `unionByName`), so the rewrite:
  *
  *   1. splits the query on top-level `UNION [ALL] BY NAME` separators
  *      (a trailing ORDER BY / LIMIT belongs to the whole union and is
  *      carried over unchanged),
  *   2. resolves each branch's output columns plan-only through the
  *      statement path's parse hook (no execution), so DuckDB function
  *      spellings resolve in a branch as they do anywhere else,
  *   3. folds the target column list left-assoc exactly like DuckDB's
  *      binder, and
  *   4. re-emits every branch as `SELECT <aligned list> FROM (branch)`
  *      joined with plain UNION ALL / UNION.
  *
  * Mixed separators (a BY NAME next to a positional UNION) are left
  * untouched — Spark then rejects the BY NAME loudly, which beats a
  * silently mis-aligned rewrite. Branch resolution failures likewise fall
  * through unchanged.
  */
object SetOpsByName {

  private case class Sep(start: Int, end: Int, all: Boolean, byName: Boolean)

  def rewrite(spark: SparkSession, sql: String, strictMath: Boolean = false): String = {
    val seps = findSeparators(sql)
    if (!seps.exists(_.byName)) return sql
    if (!seps.forall(_.byName)) return sql // mixed — leave for Spark to reject
    // carve the branches between separators; peel a trailing ORDER BY /
    // LIMIT / OFFSET off the LAST branch (it scopes over the whole union)
    val bounds = (0 +: seps.map(_.`end`)).zip(seps.map(_.start) :+ sql.length)
    val rawBranches = bounds.map { case (a, b) => sql.substring(a, b) }
    val (lastBody, tail) = splitTail(rawBranches.last)
    val branches = rawBranches.dropRight(1) :+ lastBody
    val resolved = branches.map { b =>
      try Some(ParsedSql.schema(spark, b, strictMath).fieldNames.toSeq)
      catch { case _: Exception => None }
    }
    if (resolved.exists(_.isEmpty)) return sql
    val cols = resolved.map(_.get)
    // left-assoc fold, DuckDB order: left columns, then unseen right ones
    val target = cols.foldLeft(Vector.empty[String]) { (acc, cs) =>
      acc ++ cs.filterNot(c => acc.exists(_.equalsIgnoreCase(c)))
    }
    val aligned = branches.zip(cols).map { case (b, cs) =>
      val items = target.map { t =>
        cs.find(_.equalsIgnoreCase(t)) match {
          case Some(c) => s"`$c`"
          case None => s"NULL AS `$t`"
        }
      }
      s"SELECT ${items.mkString(", ")} FROM (${b.trim})"
    }
    val sb = new StringBuilder(aligned.head)
    seps.zip(aligned.tail).foreach { case (s, b) =>
      sb.append(if (s.all) " UNION ALL " else " UNION ").append(b)
    }
    sb.toString + (if (tail.isEmpty) "" else " " + tail)
  }

  /** Top-level `UNION [ALL] BY NAME` / plain `UNION [ALL|DISTINCT]`
    * separators, literal- and comment-aware. */
  private def findSeparators(sql: String): Seq[Sep] = {
    val pat = java.util.regex.Pattern.compile(
      "(?i)\\bUNION(\\s+(ALL|DISTINCT))?(\\s+BY\\s+NAME)?\\b")
    val m = pat.matcher(sql)
    val out = scala.collection.mutable.ArrayBuffer[Sep]()
    var i = 0
    var depth = 0
    while (i < sql.length) {
      val ce = commentEnd(sql, i)
      if (ce > i) { i = ce }
      else sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i)
        case '(' | '[' => depth += 1; i += 1
        case ')' | ']' => depth -= 1; i += 1
        case c if depth == 0 && (c == 'u' || c == 'U') &&
            (i == 0 || { val p = sql.charAt(i - 1); !p.isLetterOrDigit && p != '_' }) =>
          m.region(i, sql.length)
          if (m.lookingAt()) {
            out += Sep(i, m.`end`(), Option(m.group(2)).exists(_.equalsIgnoreCase("ALL")),
              m.group(3) != null)
            i = m.`end`()
          } else i += 1
        case _ => i += 1
      }
    }
    out.toSeq
  }

  /** Split a trailing top-level ORDER BY / LIMIT / OFFSET clause off the
    * final branch. */
  private def splitTail(branch: String): (String, String) = {
    val pat = java.util.regex.Pattern.compile("(?i)\\b(ORDER\\s+BY|LIMIT|OFFSET)\\b")
    val m = pat.matcher(branch)
    var i = 0
    var depth = 0
    while (i < branch.length) {
      val ce = commentEnd(branch, i)
      if (ce > i) { i = ce }
      else branch.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(branch, i)
        case '(' | '[' => depth += 1; i += 1
        case ')' | ']' => depth -= 1; i += 1
        case c if depth == 0 && c.isLetter &&
            (i == 0 || { val p = branch.charAt(i - 1); !p.isLetterOrDigit && p != '_' }) =>
          m.region(i, branch.length)
          if (m.lookingAt()) return (branch.substring(0, i), branch.substring(i).trim)
          var j = i + 1
          while (j < branch.length && (branch.charAt(j).isLetterOrDigit || branch.charAt(j) == '_')) j += 1
          i = j
        case _ => i += 1
      }
    }
    (branch, "")
  }

  private def commentEnd(sql: String, i: Int): Int =
    if (sql.startsWith("--", i)) {
      val nl = sql.indexOf('\n', i)
      if (nl < 0) sql.length else nl + 1
    } else if (sql.startsWith("/*", i)) {
      val end = sql.indexOf("*/", i + 2)
      if (end < 0) sql.length else end + 2
    } else i
}
