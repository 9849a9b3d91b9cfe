package graft.dialect

import graft.functions.WindowExclusion

/** Window-frame exclusion (duckdb docs/sql/functions/window — SQL:2016
  * T620: `EXCLUDE CURRENT ROW | TIES | GROUP | NO OTHERS`) and the GROUPS
  * frame unit, which Spark's window grammar lacks. This pass only makes such
  * a spec parse; the exclusion is planned on the resolved Window nodes by
  * [[graft.functions.WindowExcludeRule]].
  *
  * A window spec — inline `OVER (…)` or a `WINDOW w AS (…)` definition —
  * whose text ends in an EXCLUDE clause loses the clause and gains a
  * `graft_exclude('ties')`-style key at the head of its PARTITION BY; a
  * GROUPS unit in it is spelled ROWS and recorded as the key's second
  * argument, `'groups'`. `EXCLUDE NO OTHERS`, the default, is dropped. A
  * key is a key like any other, so Spark's named-window substitution and a
  * stored view's text carry it unchanged. A spec that refines a named
  * window (`OVER (w ROWS …)`) is left as it is, for Spark to reject.
  */
object WindowExclude {

  private val Clause = java.util.regex.Pattern.compile(
    "(?is)\\s*\\bEXCLUDE\\s+(CURRENT\\s+ROW|TIES|GROUP|NO\\s+OTHERS)\\s*$")
  private val GroupsUnit = java.util.regex.Pattern.compile(
    "(?i)\\bGROUPS(?=\\s+(BETWEEN|UNBOUNDED|CURRENT|\\d))")
  private val SpecHead = java.util.regex.Pattern.compile(
    "(?is)\\s*(PARTITION\\s+BY\\b|ORDER\\s+BY\\b|ROWS\\b|RANGE\\b|GROUPS\\b)")
  private val PartitionBy = java.util.regex.Pattern.compile("(?is)\\s*PARTITION\\s+BY\\b")

  def rewrite(sql: String): String = {
    val masked = SqlText.maskLitsAndComments(sql)
    // (open, close) of every paren group whose text ends in an EXCLUDE
    // clause, innermost first; window specs do not nest in one another
    val specs = scala.collection.mutable.Buffer.empty[(Int, Int)]
    var opens = List.empty[Int]
    for (i <- 0 until masked.length) masked.charAt(i) match {
      case '(' => opens = i :: opens
      case ')' if opens.nonEmpty =>
        val open = opens.head
        opens = opens.tail
        if (Clause.matcher(masked.substring(open + 1, i)).find() &&
            !specs.exists { case (o, _) => o > open }) specs += ((open, i))
      case _ =>
    }
    specs.sortBy(-_._1).foldLeft(sql) { case (out, (open, close)) =>
      out.substring(0, open + 1) +
        spec(sql.substring(open + 1, close), masked.substring(open + 1, close)) +
        out.substring(close)
    }
  }

  /** One spec's text without its EXCLUDE clause, keyed; unchanged when it
    * refines a named window. */
  private def spec(text: String, masked: String): String = {
    val m = Clause.matcher(masked)
    m.find()
    val kind = m.group(1).replaceAll("\\s+", " ").toLowerCase
    var body = text.substring(0, m.start)
    if (kind == "no others") return body
    if (!body.trim.isEmpty && !SpecHead.matcher(masked).lookingAt()) return text
    val g = GroupsUnit.matcher(masked.substring(0, m.start))
    val groups = g.find()
    if (groups) body = body.substring(0, g.start) + "ROWS" + body.substring(g.end)
    val key = s"${WindowExclusion.Name}('$kind'${if (groups) ", 'groups'" else ""})"
    val p = PartitionBy.matcher(body)
    if (p.lookingAt()) body.substring(0, p.end) + s" $key," + body.substring(p.end)
    else s"PARTITION BY $key " + body.trim
  }
}
