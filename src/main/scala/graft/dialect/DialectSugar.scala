package graft.dialect

/** DuckDB SQL sugar the reference engine accepts but Spark SQL lacks,
  * rewritten at the string level (literal- and paren-depth-aware):
  *
  *  - `QUALIFY <pred>` — post-window filtering
  *    (duckdb docs/sql/query_syntax/qualify): the query is wrapped so the
  *    predicate becomes a computed column of a subquery and the filter an
  *    ordinary WHERE; the `__graft_qual` marker column is removed inside
  *    the rewrite itself via star-EXCEPT. The predicate may reference any
  *    column the SELECT list projects (the overwhelmingly common form —
  *    `QUALIFY row_number() OVER (...) <= k` over `SELECT *`).
  *  - `* EXCLUDE (...)` — Spark spells it `* EXCEPT (...)`.
  *
  * `GROUP BY ALL` and `ORDER BY ALL [ASC|DESC] [NULLS FIRST|LAST]` need no
  * pass: Spark resolves both itself, on the resolved select list.
  *
  * Set-operation branches are processed independently; parenthesized
  * subqueries (including CTE bodies) are processed recursively. All
  * scanning skips single-quoted literals via [[SqlText]].
  */
object DialectSugar {

  val QualMarker = "__graft_qual"

  // ASOF JOIN first: its output is plain JOIN + window SQL, which the
  // sugar passes (QUALIFY etc.) then treat like any other text
  def rewrite(sql: String): String =
    process(AsofJoinSql.rewrite(sampleSpelling(sql)))

  // ------------------------------------------------------ sample spelling
  // (DuckDB's bare `SEMI JOIN` / `ANTI JOIN` need nothing: Spark parses
  // both as LEFT SEMI / LEFT ANTI.)
  // `USING SAMPLE <spec>` (duckdb docs/sql/samples) → Spark TABLESAMPLE,
  // emitted in place — DuckDB's table-sample form puts the clause directly
  // after the relation, exactly where Spark wants TABLESAMPLE. Supported
  // specs: `n%` / `n PERCENT`, `n [ROWS]`, each optionally method-wrapped
  // (`bernoulli(10%)`, `reservoir(50 ROWS)`, `system(10%)`) and/or with a
  // trailing `(method[, seed])` or `REPEATABLE (seed)`. The method itself
  // is advisory (Spark samples Bernoulli per-split; sampling METHOD is not
  // part of the result contract) but a seed is carried into REPEATABLE.
  private val sizeUnit = """(\d+(?:\.\d+)?)\s*(%|percent\b|rows?\b)?"""
  private val sampleTail =                                      // after the size:
    """(?:\s*\(\s*(?:reservoir|bernoulli|system)\s*(?:,\s*(\d+))?\s*\))?""" + // (method[, seed])
    """(?:\s*repeatable\s*\(\s*(\d+)\s*\))?"""                  // REPEATABLE (seed)
  private val UsingSampleWrapped = // method-wrapped size: bernoulli(10%)
    s"""(?i)\\busing\\s+sample\\s+(?:reservoir|bernoulli|system)\\s*\\(\\s*$sizeUnit\\s*\\)$sampleTail""".r
  private val UsingSamplePlain =
    s"""(?i)\\busing\\s+sample\\s+$sizeUnit$sampleTail""".r

  private def tablesample(m: scala.util.matching.Regex.Match): String = {
    val unit = Option(m.group(2)).map(_.trim.toLowerCase) match {
      case Some("%") | Some("percent") => "PERCENT"
      case _ => "ROWS"
    }
    val seed = Option(m.group(3)).orElse(Option(m.group(4)))
    s"TABLESAMPLE (${m.group(1)} $unit)" +
      seed.map(s => s" REPEATABLE ($s)").getOrElse("")
  }

  private def sampleSpelling(sql: String): String =
    SqlText.mapOutsideLiterals(sql) { seg =>
      UsingSamplePlain.replaceAllIn(
        UsingSampleWrapped.replaceAllIn(seg, tablesample _), tablesample _)
    }

  // ---------------------------------------------------------------- scan
  /** End index (exclusive) of a comment starting at `i`, or `i` if none:
    * `-- …\n` and `/* … */` must not contribute keywords or parens. */
  private def commentEnd(sql: String, i: Int): Int =
    if (sql.startsWith("--", i)) {
      val nl = sql.indexOf('\n', i)
      if (nl < 0) sql.length else nl + 1
    } else if (sql.startsWith("/*", i)) {
      val end = sql.indexOf("*/", i + 2)
      if (end < 0) sql.length else end + 2
    } else i

  // compiled keyword patterns, cached — topLevelIndex runs per keyword per
  // nesting level on every query, so per-call compilation (and worse,
  // per-position substring copies) would be O(n²) on multi-KB generated SQL
  private val patternCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private def cachedPattern(key: String, regex: => String): java.util.regex.Pattern =
    patternCache.computeIfAbsent(key, _ => java.util.regex.Pattern.compile(regex))

  /** Index of the first depth-0, non-literal, non-comment, word-boundary
    * occurrence of `word` (case-insensitive; spaces in `word` mean \s+).
    * Matching uses one Matcher re-regioned over the ORIGINAL string —
    * never a per-position substring copy. */
  private def topLevelIndex(sql: String, word: String, from: Int = 0): Int = {
    val m = cachedPattern("b:" + word,
      "(?i)\\b" + word.replace(" ", "\\s+") + "\\b").matcher(sql)
    var i = from
    var depth = 0
    while (i < sql.length) {
      val ce = commentEnd(sql, i)
      if (ce > i) { i = ce }
      else sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i)
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0) {
            // manual left boundary: \b sees the region start as a word
            // boundary, so also reject a preceding identifier char
            // (including '_', which isLetterOrDigit misses)
            val prevOk = i == 0 || {
              val p = sql.charAt(i - 1); !p.isLetterOrDigit && p != '_'
            }
            if (prevOk) {
              m.region(i, sql.length)
              if (m.lookingAt()) return i
            }
            i += 1
          } else i += 1
      }
    }
    -1
  }

  /** Length of the keyword match at `idx` (handles internal \s+). */
  private def matchLen(sql: String, idx: Int, word: String): Int = {
    val m = cachedPattern("p:" + word,
      "(?i)" + word.replace(" ", "\\s+")).matcher(sql)
    m.region(idx, sql.length)
    if (m.lookingAt()) m.end - m.start else word.length
  }

  /** Split `s` at depth-0, non-literal occurrences of `sep`. */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var start = 0
    var i = 0
    var depth = 0
    while (i < s.length) {
      val ce = commentEnd(s, i)
      if (ce > i) { i = ce }
      else s.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(s, i)
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case c if c == sep && depth == 0 =>
          parts += s.substring(start, i); start = i + 1; i += 1
        case _ => i += 1
      }
    }
    parts += s.substring(start)
    parts.result()
  }

  // ----------------------------------------------------------- recursion
  /** Recursively process every depth-0 parenthesized group, then apply the
    * top-level rewrites to this level (per set-operation branch). */
  private def process(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    var segStart = 0
    while (i < sql.length) {
      val ce = commentEnd(sql, i)
      if (ce > i) { i = ce }
      else sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i)
        case '(' =>
          var depth = 1
          var j = i + 1
          while (j < sql.length && depth > 0) {
            val jc = commentEnd(sql, j)
            if (jc > j) j = jc
            else {
              sql.charAt(j) match {
                case '\'' => j = SqlText.literalEnd(sql, j)
                case '(' => depth += 1; j += 1
                case ')' => depth -= 1; j += 1
                case _ => j += 1
              }
            }
          }
          sb.append(sql.substring(segStart, i + 1))
          sb.append(process(sql.substring(i + 1, j - 1)))
          sb.append(")")
          i = j
          segStart = j
        case _ => i += 1
      }
    }
    sb.append(sql.substring(segStart))
    rewriteLevel(sb.toString)
  }

  /** Apply the level-local rewrites, set-op branch by set-op branch. */
  private def rewriteLevel(sql: String): String = {
    val setOp = "(UNION ALL|UNION|INTERSECT ALL|INTERSECT|EXCEPT ALL|EXCEPT)"
    // split on set operators at depth 0 — but EXCEPT inside `* EXCEPT (` is
    // a star modifier, not a set op; exclude those by requiring the branch
    // split keyword to be followed by SELECT/( eventually. Simplest robust
    // rule: a set-op keyword NOT immediately followed by '(' after optional
    // whitespace is still ambiguous, so instead protect star-EXCEPT first.
    val protectedSql = SqlText.mapOutsideLiterals(excludeRewrite(replaceRewrite(sql)))(
      _.replaceAll("(?i)\\*\\s*EXCEPT\\s*\\(", "* __STAR_EXCEPT__("))
    val parts = Seq.newBuilder[(String, String)] // (branch, trailing set-op)
    var rest = protectedSql
    var done = false
    while (!done) {
      val idx = topLevelIndex(rest, setOp)
      if (idx < 0) { parts += ((rest, "")); done = true }
      else {
        val len = matchLen(rest, idx, setOp)
        parts += ((rest.substring(0, idx), rest.substring(idx, idx + len)))
        rest = rest.substring(idx + len)
      }
    }
    // GROUP BY ALL / ORDER BY ALL are Spark's own: a QUALIFY wrap keeps
    // GROUP BY ALL in its base query and moves an ORDER BY ALL tail to the
    // wrap, whose star-EXCEPT output is the base query's select list
    parts.result().map { case (branch, op) =>
      val rewritten = qualify(distinctOn(positionalJoin(branch)))
      rewritten + (if (op.nonEmpty) " " + op + " " else "")
    }.mkString("").replace("__STAR_EXCEPT__(", "EXCEPT (")
  }

  // --------------------------------------------------- POSITIONAL JOIN
  /** `FROM (sub ORDER BY k) a POSITIONAL JOIN (sub ORDER BY k) b` —
    * DuckDB's row-position pairing with NULL padding on the shorter side
    * (duckdb docs/sql/query_syntax/from). Compiled to a FULL OUTER join on
    * per-side `row_number()` positions derived from each subquery's own
    * ORDER BY — which must reference projected output columns, since the
    * wrap re-sorts the subquery's OUTPUT. This is the SQL-expressible
    * spelling (a global window, like DuckDB's own materialization); the
    * scale path is [[graft.operators.PositionalJoin]] (range-partitioned
    * two-pass positions), pinned equal in PositionalJoinSpec. Unsupported
    * shapes — bare tables (storage order isn't a Spark notion) or
    * unordered subqueries — are left untouched for Spark to reject
    * loudly. */
  private def positionalJoin(sql: String): String = {
    val kw = "POSITIONAL JOIN"
    val idx = topLevelIndex(sql, kw)
    if (idx < 0) return sql
    val fromIdx = topLevelIndex(sql, "FROM")
    if (fromIdx < 0 || fromIdx > idx) return sql
    val out = for {
      (lSub, lAlias, lEnd) <- parseRel(sql, fromIdx + matchLen(sql, fromIdx, "FROM"))
      if lEnd <= idx && sql.substring(lEnd, idx).trim.isEmpty
      (rSub, rAlias, rEnd) <- parseRel(sql, idx + matchLen(sql, idx, kw))
      (lText, lName) <- wrapOrdered(lSub, lAlias, "__graft_posl")
      (rText, rName) <- wrapOrdered(rSub, rAlias, "__graft_posr")
    } yield sql.substring(0, fromIdx) + "FROM " + lText +
      " FULL OUTER JOIN " + rText +
      s" ON $lName.__gpos = $rName.__gpos " + sql.substring(rEnd)
    out.getOrElse(sql)
  }

  // words that can follow a parenthesized relation but are never an alias
  private val relStopWords = Set("positional", "join", "full", "left",
    "right", "inner", "cross", "natural", "asof", "on", "using", "where",
    "group", "order", "limit", "union", "intersect", "except", "qualify",
    "having", "offset", "window")

  /** Parse `(subquery) [AS] alias` starting at `from` (whitespace-led).
    * Returns (subquery text, alias or "", index after the relation). */
  private def parseRel(sql: String, from: Int): Option[(String, String, Int)] = {
    var i = from
    while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
    if (i >= sql.length || sql.charAt(i) != '(') return None
    val close = groupEnd(sql, i)
    val sub = sql.substring(i + 1, close - 1)
    var j = close
    while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
    val m = cachedPattern("rel:alias",
      "(?i)(AS\\s+)?([A-Za-z_][A-Za-z0-9_]*)").matcher(sql)
    m.region(j, sql.length)
    if (m.lookingAt() &&
        (m.group(1) != null || !relStopWords.contains(m.group(2).toLowerCase))) {
      Some((sub, m.group(2), m.end))
    } else Some((sub, "", j))
  }

  /** Wrap an ordered subquery so `__gpos` carries its 1-based position:
    * the trailing top-level ORDER BY moves into a `row_number()` window
    * (and stays in place too when a LIMIT depends on it for row
    * selection). None when the subquery has no ORDER BY. */
  private def wrapOrdered(sub: String, alias: String,
      fallback: String): Option[(String, String)] = {
    val obIdx = topLevelIndex(sub, "ORDER BY")
    if (obIdx < 0) return None
    val obEnd = obIdx + matchLen(sub, obIdx, "ORDER BY")
    val limIdx = topLevelIndex(sub, "LIMIT", obEnd)
    val ord = (if (limIdx >= 0) sub.substring(obEnd, limIdx)
               else sub.substring(obEnd)).trim
    if (ord.isEmpty) return None
    val inner = if (limIdx >= 0) sub else sub.substring(0, obIdx)
    val name = if (alias.nonEmpty) alias else fallback
    Some((s"(SELECT *, row_number() OVER (ORDER BY $ord) AS __gpos " +
      s"FROM ($inner) ${name}__i) AS $name", name))
  }

  // ------------------------------------------------------- DISTINCT ON
  /** `SELECT DISTINCT ON (keys) ...` (duckdb docs/sql/query_syntax/select)
    * — keep the first row per key group, "first" per the query's ORDER BY
    * (arbitrary-but-deterministic key order when there is none). No Spark
    * spelling exists, so it compiles to the QUALIFY form this pass already
    * supports: `QUALIFY row_number() OVER (PARTITION BY keys ORDER BY
    * <order list or keys>) = 1`, inserted before the ORDER BY/LIMIT tail.
    * An `ORDER BY ALL` tail falls back to key order inside the window. */
  private def distinctOn(sql: String): String = {
    val kw = "SELECT DISTINCT ON"
    val idx = topLevelIndex(sql, kw)
    if (idx < 0) return sql
    val kwEnd = idx + matchLen(sql, idx, kw)
    val open = sql.indexOf('(', kwEnd)
    if (open < 0) return sql
    val end = groupEnd(sql, open)
    val keys = sql.substring(open + 1, end - 1).trim
    if (keys.isEmpty) return sql
    val base = sql.substring(0, idx) + "SELECT " + sql.substring(end)
    val obIdx = topLevelIndex(base, "ORDER BY")
    val limIdx = topLevelIndex(base, "LIMIT")
    val (orderText, insertAt) =
      if (obIdx >= 0) {
        val obEnd = if (limIdx > obIdx) limIdx else base.length
        (base.substring(obIdx + matchLen(base, obIdx, "ORDER BY"), obEnd).trim, obIdx)
      } else (keys, if (limIdx >= 0) limIdx else base.length)
    val ord = if (orderText.isEmpty || orderText.equalsIgnoreCase("ALL")) keys
      else orderText
    base.substring(0, insertAt) +
      s" QUALIFY row_number() OVER (PARTITION BY $keys ORDER BY $ord) = 1 " +
      base.substring(insertAt)
  }

  /** `* EXCLUDE (a, b)` → `* EXCEPT (a, b)` (Spark's spelling). */
  private def excludeRewrite(sql: String): String =
    SqlText.mapOutsideLiterals(sql)(
      _.replaceAll("(?i)(\\*\\s*)EXCLUDE(\\s*\\()", "$1EXCEPT$2"))

  // ------------------------------------------------------- star REPLACE
  /** `* REPLACE (expr AS col, …)` — optionally qualified (`t.*`),
    * optionally after an `EXCLUDE`/`EXCEPT` group — has no Spark spelling,
    * so it becomes `* EXCEPT (col, …), expr AS col, …` (the EXCLUDE list,
    * if present, is merged into the EXCEPT). One deliberate deviation:
    * replaced columns move to the END of the star expansion — a
    * string-level rewrite cannot know the star's column order. Name-based
    * consumers (and the driver compare, which sorts columns by name) are
    * unaffected. */
  private def replaceRewrite(sql: String): String = {
    var s = sql
    var guard = 0
    var found = true
    while (found && guard < 64) {
      found = false
      guard += 1
      findStarReplace(s) match {
        case Some((start, end, qual, excludes, specs)) =>
          val exceptList = (excludes ++ specs.map(_._2)).mkString(", ")
          val items = specs.map { case (e, c) => s"$e AS $c" }.mkString(", ")
          s = s.substring(0, start) + s"$qual* EXCEPT ($exceptList), $items" +
            s.substring(end)
          found = true
        case None =>
      }
    }
    s
  }

  /** Exclusive end of the balanced paren group opening at `open`. */
  private def groupEnd(sql: String, open: Int): Int = {
    var depth = 1
    var j = open + 1
    while (j < sql.length && depth > 0) {
      val ce = commentEnd(sql, j)
      if (ce > j) j = ce
      else sql.charAt(j) match {
        case '\'' => j = SqlText.literalEnd(sql, j)
        case '(' => depth += 1; j += 1
        case ')' => depth -= 1; j += 1
        case _ => j += 1
      }
    }
    j
  }

  /** First depth-0 star item carrying a REPLACE modifier:
    * (start, endExclusive, starQualifier, excludeCols, (expr, col) specs). */
  private def findStarReplace(sql: String)
      : Option[(Int, Int, String, Seq[String], Seq[(String, String)])] = {
    var i = 0
    var depth = 0
    while (i < sql.length) {
      val ce = commentEnd(sql, i)
      if (ce > i) { i = ce }
      else sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i)
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case '*' if depth == 0 =>
          val r = parseStarMods(sql, i)
          if (r.isDefined) return r
          i += 1
        case _ => i += 1
      }
    }
    None
  }

  /** Parse the star item at `starIdx` and its modifier groups; Some only
    * when a REPLACE group with well-formed `expr AS ident` specs exists
    * (anything malformed is left for Spark to reject loudly). */
  private def parseStarMods(sql: String, starIdx: Int)
      : Option[(Int, Int, String, Seq[String], Seq[(String, String)])] = {
    // `ident.` qualifier directly before the star
    var qs = starIdx
    if (qs > 0 && sql.charAt(qs - 1) == '.') {
      var k = qs - 2
      while (k >= 0 && (sql.charAt(k).isLetterOrDigit || sql.charAt(k) == '_')) k -= 1
      if (k == qs - 2) return None // lone dot, not an identifier
      qs = k + 1
    }
    // a star ITEM is preceded by start-of-text, ',', '(' or SELECT/DISTINCT
    // — anything else (identifier, ')', literal) is multiplication
    var p = qs - 1
    while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
    val prefixOk =
      if (p < 0) true
      else sql.charAt(p) match {
        case ',' | '(' => true
        case c if c.isLetterOrDigit || c == '_' =>
          var w = p
          while (w >= 0 && (sql.charAt(w).isLetterOrDigit || sql.charAt(w) == '_')) w -= 1
          val word = sql.substring(w + 1, p + 1).toLowerCase
          word == "select" || word == "distinct"
        case _ => false
      }
    if (!prefixOk) return None
    val qual = sql.substring(qs, starIdx)
    var j = starIdx + 1
    var excludes = Seq.empty[String]
    var specs = Seq.empty[(String, String)]
    var end = -1
    var done = false
    while (!done) {
      var k = j
      var moved = true
      while (moved) {
        val ce = commentEnd(sql, k)
        if (ce > k) k = ce
        else if (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        else moved = false
      }
      val m = cachedPattern("starmod", "(?i)(EXCLUDE|EXCEPT|REPLACE)\\s*\\(").matcher(sql)
      m.region(k, sql.length)
      if (m.lookingAt()) {
        val kw = m.group(1).toLowerCase
        val open = m.end - 1
        val close = groupEnd(sql, open)
        val content = sql.substring(open + 1, close - 1)
        if (kw == "replace") {
          val parsed = splitTopLevel(content, ',').map(_.trim).filter(_.nonEmpty).map { spec =>
            val asIdx = topLevelIndex(spec, "AS")
            if (asIdx < 0) None
            else {
              val col = spec.substring(asIdx + matchLen(spec, asIdx, "AS")).trim
              if (IdentTok.pattern.matcher(col).matches())
                Some((spec.substring(0, asIdx).trim, col))
              else None
            }
          }
          if (parsed.isEmpty || parsed.exists(_.isEmpty)) return None
          specs = specs ++ parsed.flatten
        } else {
          excludes = excludes ++ splitTopLevel(content, ',').map(_.trim).filter(_.nonEmpty)
        }
        j = close
        end = close
      } else done = true
    }
    if (specs.isEmpty) None else Some((qs, end, qual, excludes, specs))
  }

  // ------------------------------------------------------------- QUALIFY
  private def qualify(sql: String): String = {
    val qIdx = topLevelIndex(sql, "QUALIFY")
    if (qIdx < 0) return sql
    val qLen = matchLen(sql, qIdx, "QUALIFY")
    val base = sql.substring(0, qIdx).trim
    val afterQ = sql.substring(qIdx + qLen)
    // predicate runs until a depth-0 ORDER BY / LIMIT / OFFSET or the end
    val tailKw = "(ORDER BY|LIMIT|OFFSET)"
    val tIdx = topLevelIndex(afterQ, tailKw)
    val (pred, tail) =
      if (tIdx < 0) (afterQ.trim, "")
      else (afterQ.substring(0, tIdx).trim, " " + afterQ.substring(tIdx).trim)
    // DuckDB lets QUALIFY reference columns the SELECT list does not
    // project; those are injected into the base projection here and
    // stripped again by the outer star-EXCEPT together with the marker
    // (only for ungrouped, non-DISTINCT, non-star bases — elsewhere the
    // injection would change grouping/distinct semantics, and DuckDB
    // itself restricts the predicate there)
    val extras = unprojectedPredColumns(base, pred)
    val innerBase = if (extras.isEmpty) base else injectColumns(base, extras)
    val strip = (QualMarker +: extras).mkString(", ")
    // star-EXCEPT removes the marker inside the rewrite itself, so a
    // QUALIFY in a subquery doesn't leak the marker into the outer query's
    // star expansion (the emitted EXCEPT is below this level's set-op
    // split, and nested rewriteLevel protection round-trips it untouched)
    // the base and the predicate may end in a line comment: close their
    // parens on the next line
    s"SELECT * EXCEPT ($strip) FROM " +
      s"(SELECT *, ($pred\n) AS $QualMarker FROM ($innerBase\n) __gq_in) __gq " +
      s"WHERE $QualMarker$tail"
  }

  // SQL words that can appear bare inside a QUALIFY predicate but are never
  // column references: window/frame syntax, boolean/compare syntax, CAST
  // target types, EXTRACT date parts
  private val PredNonColumns: Set[String] = Set(
    "over", "partition", "order", "by", "rows", "range", "groups", "between",
    "and", "or", "not", "asc", "desc", "nulls", "first", "last", "preceding",
    "following", "unbounded", "current", "row", "case", "when", "then", "else",
    "end", "is", "null", "in", "like", "ilike", "rlike", "escape", "true",
    "false", "distinct", "as", "cast", "interval", "exists", "all", "any",
    "some", "filter", "where", "ignore", "respect", "from", "select",
    "int", "integer", "bigint", "smallint", "tinyint", "float", "real",
    "double", "decimal", "numeric", "varchar", "char", "string", "boolean",
    "date", "timestamp", "binary",
    "year", "month", "day", "hour", "minute", "second", "quarter", "week",
    "epoch", "millisecond", "microsecond")

  private val IdentTok = "[A-Za-z_][A-Za-z0-9_]*".r

  /** Output name of a select item, if knowable at the string level: the
    * trailing `AS alias`, a bare identifier, or the last segment of a
    * dotted identifier. Complex unaliased items return None. */
  private def outputName(item: String): Option[String] = {
    val t = item.trim
    val asIdx = topLevelIndex(t, "AS")
    if (asIdx >= 0) {
      val alias = t.substring(asIdx + 2).trim
      if (IdentTok.pattern.matcher(alias).matches()) Some(alias.toLowerCase) else None
    } else if (IdentTok.pattern.matcher(t).matches()) Some(t.toLowerCase)
    else if (t.matches("[A-Za-z_][A-Za-z0-9_]*\\.[A-Za-z_][A-Za-z0-9_]*"))
      Some(t.substring(t.indexOf('.') + 1).toLowerCase)
    else None
  }

  /** Identifier tokens the predicate references that the base query's
    * SELECT list does not project — the columns to inject. Empty when
    * injection is unsafe (grouped/DISTINCT/star base) or nothing is
    * missing. A false positive here (a token that is not really a column)
    * yields a loud unresolved-column error, never wrong data — the same
    * query failed loudly before the injection existed. */
  private def unprojectedPredColumns(base: String, pred: String): Seq[String] = {
    val items = selectItems(base)
    if (items.isEmpty || items.exists(isStarItem)) return Nil
    if (topLevelIndex(base, "GROUP BY") >= 0) return Nil
    val sIdx = topLevelIndex(base, "SELECT")
    if (sIdx >= 0 &&
      "(?i)^\\s*DISTINCT\\b".r
        .findFirstIn(base.substring(sIdx + matchLen(base, sIdx, "SELECT"))).isDefined)
      return Nil
    val projected = items.flatMap(outputName).toSet
    val bare = stripLiterals(pred)
    val found = scala.collection.mutable.LinkedHashSet.empty[String]
    for (m <- IdentTok.findAllMatchIn(bare)) {
      val tok = m.matched
      val lower = tok.toLowerCase
      def nextNonWs(from: Int): Char = {
        var j = from; while (j < bare.length && bare.charAt(j).isWhitespace) j += 1
        if (j < bare.length) bare.charAt(j) else ' '
      }
      def prevNonWs(until: Int): Char = {
        var j = until - 1; while (j >= 0 && bare.charAt(j).isWhitespace) j -= 1
        if (j >= 0) bare.charAt(j) else ' '
      }
      val isFunction = nextNonWs(m.end) == '('
      val isDotted = prevNonWs(m.start) == '.' || nextNonWs(m.end) == '.'
      if (!isFunction && !isDotted && !PredNonColumns(lower) && !projected(lower))
        found += tok
    }
    found.toSeq
  }

  /** Append `extras` to the base query's SELECT list (before its depth-0
    * FROM), leaving every original item — and therefore every ordinal
    * reference — in place. */
  private def injectColumns(base: String, extras: Seq[String]): String = {
    val sIdx = topLevelIndex(base, "SELECT")
    if (sIdx < 0) return base
    val selEnd = sIdx + matchLen(base, sIdx, "SELECT")
    val fIdx = topLevelIndex(base.substring(selEnd), "FROM")
    if (fIdx < 0) return base
    val at = selEnd + fIdx
    base.substring(0, at) + ", " + extras.mkString(", ") + " " + base.substring(at)
  }

  // ------------------------------------------------ select-list helpers
  /** Select items of the statement's main SELECT (between SELECT [DISTINCT]
    * and the depth-0 FROM), or Nil if the shape isn't recognized. */
  private def selectItems(sql: String): Seq[String] = {
    val sIdx = topLevelIndex(sql, "SELECT")
    if (sIdx < 0) return Nil
    val afterSel = {
      val a = sql.substring(sIdx + matchLen(sql, sIdx, "SELECT"))
      val d = "(?i)^\\s*DISTINCT\\b".r.findFirstIn(a)
      d.map(m => a.substring(m.length)).getOrElse(a)
    }
    val fIdx = topLevelIndex(afterSel, "FROM")
    if (fIdx < 0) return Nil
    splitTopLevel(afterSel.substring(0, fIdx), ',').map(_.trim).filter(_.nonEmpty)
  }

  /** The item with its string literals BLANKED (not preserved), so
    * identifier-looking text inside a constant can't count. */
  private def stripLiterals(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\'') i = SqlText.literalEnd(s, i)
      else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** `*`, `t.*`, or a star with modifiers — the item count is unknowable
    * at the string level. */
  private def isStarItem(item: String): Boolean = {
    val t = item.trim
    t == "*" || t.endsWith(".*") || t.startsWith("*") ||
      "(?i)^\\S*\\.\\*\\s".r.findFirstIn(t + " ").isDefined
  }
}
