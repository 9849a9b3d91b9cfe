package graft.dialect

/** DuckDB syntax that Spark 4.1's parser rejects, rewritten at the text
  * level (literal-aware: string constants pass through byte-identical).
  * Function spellings are NOT decided here — a call that parses is mapped
  * on the parse tree by [[DialectFunctions]]; this pass only makes the
  * text parse:
  *
  *  - literal and constructor forms: struct/map braces and struct_pack
  *    (`:=`), list brackets and comprehensions, a minus before a `::`
  *    cast literal, multi-unit INTERVAL literals (integer casts round on
  *    the parse tree: graftbridge.ParsedSql);
  *  - operators: `//`, `**`, prefix `@`, JSON `->`/`->>`, SIMILAR TO,
  *    GLOB, quantified `op ALL|ANY|SOME (subquery)`;
  *  - aggregate clauses: FILTER without WHERE, frame EXCLUDE (a key in
  *    the spec, see [[WindowExclude]]), and an in-call `ORDER BY`, which becomes
  *    `f(args) WITHIN GROUP (ORDER BY …)` — Spark parses that for any
  *    function name and hands the keys to the tree;
  *  - calls whose name Spark's grammar claims as a keyword:
  *    `date_diff('part', …)` / `datediff('part', …)` are renamed to
  *    [[DateDiffName]], nothing more.
  */
object DialectSyntax {

  /** The name a keyword-claimed `date_diff('part', a, b)` call carries to
    * the tree table. */
  val DateDiffName = "graft_date_diff"

  private val FilterNoWhereRe = java.util.regex.Pattern.compile(
    """(?i)\)\s*FILTER\s*\(\s*(?!WHERE\b)""")

  private val KeywordNamedCall = java.util.regex.Pattern.compile(
    """(?i)\b(?:date_diff|datediff)(\s*\(\s*')""")

  /** A minus before a cast literal, `-128::TINYINT`: Spark's parser
    * folds the minus INTO the numeric literal (losing the IEEE sign of
    * -0.0 through the DECIMAL intermediate, and the out-of-range error of
    * -128::TINYINT — DuckDB applies unary minus AFTER the cast), and the
    * tree cannot tell the folded literal from a written one. Rewritten to
    * `- (literal::TYPE)`: the parenthesized operand is no longer a literal
    * token, so UnaryMinus applies after the cast and PRESERVES ITS TYPE
    * (a (-1)·x spelling would widen TINYINT to INT and break bit_count's
    * width dispatch). A binary minus means the same either way (`::`
    * binds tighter), so only an exponent's sign (`1e-5::INT`) is left. */
  private val MinusCast = java.util.regex.Pattern.compile(
    """(?<![0-9.][eE])-\s*((?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)\s*::\s*(\w+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)""")

  def rewrite(sql: String): String = {
    // struct/map literal sugar first ({'a': 1} / MAP {...} /
    // struct_pack(:=)), then bracket list literals / comprehensions, then
    // the minus before a cast literal; multi-unit INTERVAL literals →
    // make_interval (CalendarIntervalType keeps DuckDB's independent
    // month/day/micros components)
    var out = IntervalLiteral.rewrite(SqlText.mapOutsideLiterals(
      ListComprehension.rewrite(StructSyntax.rewrite(sql)))(
      MinusCast.matcher(_).replaceAll("- ($1::$2)")))
    // DuckDB allows `FILTER (cond)` without the WHERE keyword; Spark's
    // grammar requires it. Aggregate/window FILTER always follows the
    // call's closing paren — which disambiguates it from the filter()
    // higher-order function (never preceded by `)`).
    out = SqlText.mapOutsideLiterals(out) { seg =>
      FilterNoWhereRe.matcher(seg).replaceAll(") FILTER (WHERE ")
    }
    // frame EXCLUDE clauses and the GROUPS unit become a key the window
    // spec parses with (planned by graft.functions.WindowExcludeRule)
    out = WindowExclude.rewrite(out)
    // DuckDB's `//` division operator → Spark's `div` keyword, which
    // preserves the multiplicative precedence and grouping; the parse
    // hook then swaps the parsed IntegralDivide for graft_fdiv so
    // fractional operands degenerate to plain DOUBLE division exactly
    // like DuckDB 1.0 (integral operands keep truncating division)
    out = SqlText.mapOutsideLiterals(out)(_.replace("//", " div "))
    // DuckDB's `**` power operator (left-associative, tighter than `*`,
    // DOUBLE result — probed 2**3**2 = 64): scanner-based operand capture
    // looped leftmost-first; operand shapes the scanner cannot bound stay
    // a loud parse error rather than risking a precedence miscompile
    out = SqlText.mapOutsideLiterals(out)(rewritePowOperator)
    // DuckDB's prefix @ = abs (call-shaped spelling only; `@` appears
    // nowhere in Spark's grammar, so the plain replace is unambiguous)
    out = SqlText.mapOutsideLiterals(out)(_.replace("@(", "abs("))
    out = rewriteQuantified(out)
    // SIMILAR TO with DuckDB's semantics — the pattern is a RAW regex,
    // full-anchored, where % and _ are literal characters (DuckDB
    // deliberately deviates from the SQL standard here; docs/sql/functions/
    // pattern_matching) — and DuckDB's GLOB operator (*, ?, [...]); both →
    // anchored regexp_like
    out = rewriteMatchOp(out, "SIMILAR\\s+TO", identity)
    out = rewriteMatchOp(out, "GLOB", globToRegex)
    // DuckDB's JSON arrow operators: `expr ->> 'path'` (VARCHAR extraction)
    // and `expr -> 'path'` (JSON-typed result), both → get_json_object; a
    // bare key normalizes to a '$.key' path and a bare integer to '$[i]'
    // like DuckDB's binder does. Chains (`j -> 'a' -> 0 ->> 'b'`) fold into
    // nested calls — sound because get_json_object returns JSON text for
    // object/array results. Documented deviation: `->` on a JSON *string*
    // value yields the unquoted text (DuckDB keeps the quotes); every
    // chainable (object/array) case matches.
    out = rewriteArrow(out)
    out = renameKeywordCalls(out)
    rewriteInCallOrderBy(out)
  }

  /** `date_diff('part', …)` / `datediff('part', …)` → [[DateDiffName]]:
    * Spark's grammar reads both names as its own TIMESTAMPDIFF form, which
    * rejects a quoted unit. The 2-argument `datediff(a, b)` stays Spark's. */
  private def renameKeywordCalls(sql: String): String = {
    val m = KeywordNamedCall.matcher(SqlText.maskLitsAndComments(sql))
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(sql, last, m.start()).append(DateDiffName).append(sql, m.start(1), m.end())
      last = m.end()
    }
    sb.append(sql.substring(last)).toString
  }

  private val OrderByRe = java.util.regex.Pattern.compile("(?i)\\bORDER\\s+BY\\b")

  /** Words that open a parenthesized group which is not a call's argument
    * list: a window or named-window spec, a subquery, a set or a clause. */
  private val NotCallee = Set("over", "as", "in", "exists", "from", "join", "group",
    "within", "values", "select", "where", "and", "or", "not", "on", "using", "by",
    "then", "else", "when", "case", "having", "qualify", "window", "filter",
    "lateral", "all", "any", "some", "union", "intersect", "except", "table")

  /** An in-call ORDER BY (`list(x ORDER BY k)`, DuckDB's ordered aggregate)
    * → `list(x) WITHIN GROUP (ORDER BY k)`. Only a group whose opening paren
    * follows a function name, with arguments before a depth-0 ORDER BY,
    * qualifies — window specs, subqueries and `WITHIN GROUP` itself do not. */
  private def rewriteInCallOrderBy(sql: String): String =
    if (!OrderByRe.matcher(sql).find()) sql else {
      val masked = SqlText.maskLitsAndComments(sql)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < sql.length) {
        val c = masked.charAt(i)
        if (c == '\'') {
          val e = SqlText.literalEnd(sql, i); sb.append(sql, i, e); i = e
        } else if (c == '(') {
          val close = SqlText.groupEnd(sql, i)
          if (close > sql.length) { sb.append(sql.substring(i)); i = sql.length }
          else {
            val inner = rewriteInCallOrderBy(sql.substring(i + 1, close - 1))
            orderByAt(inner) match {
              case Some(k) if isCallParen(masked, i) =>
                sb.append('(').append(inner.substring(0, k).trim)
                  .append(") WITHIN GROUP (").append(inner.substring(k).trim).append(')')
              case _ => sb.append('(').append(inner).append(')')
            }
            i = close
          }
        } else { sb.append(sql.charAt(i)); i += 1 }
      }
      sb.toString
    }

  /** Offset of a depth-0 ORDER BY with argument text before it. */
  private def orderByAt(inner: String): Option[Int] = {
    val masked = SqlText.maskLitsAndComments(inner)
    val m = OrderByRe.matcher(masked)
    var found: Option[Int] = None
    while (found.isEmpty && m.find()) {
      val depth = masked.substring(0, m.start()).count(_ == '(') -
        masked.substring(0, m.start()).count(_ == ')')
      if (depth == 0) found = Some(m.start())
    }
    found.filter { k =>
      val head = masked.substring(0, k).trim.toLowerCase
      head.nonEmpty && !head.startsWith("select") && !head.startsWith("with") &&
        !head.startsWith("from") && !head.startsWith("partition")
    }
  }

  /** The paren at `open` follows a function name (not a keyword). */
  private def isCallParen(masked: String, open: Int): Boolean = {
    var j = open - 1
    while (j >= 0 && masked.charAt(j).isWhitespace) j -= 1
    val end = j + 1
    while (j >= 0 && (masked.charAt(j).isLetterOrDigit || masked.charAt(j) == '_')) j -= 1
    end > j + 1 && !masked.charAt(j + 1).isDigit &&
      !NotCallee(masked.substring(j + 1, end).toLowerCase)
  }

  /** DuckDB's `**` power operator → power(l, r). Scanner, not regex: the
    * operands must be bounded exactly or the precedence miscompiles.
    * Accepted operand shapes: identifier/number/dotted chains, a
    * balanced parenthesized group (with a leading callee name), and a
    * prefix minus when it is unambiguously unary (preceded by nothing or
    * an operator/open-paren/comma). Left-assoc: leftmost rewrites first
    * (probed: 2 ** 3 ** 2 = 64). Unbounded shapes are left for Spark to
    * reject loudly. */
  /** Is s(signIdx) a '+'/'-' that belongs to exponent notation inside a
    * numeric literal ('1e-3' is ONE operand)? True iff it follows e/E
    * whose mantissa is purely digits/dots — 'col1e-3' stays subtraction. */
  private def isExpSign(s: String, signIdx: Int): Boolean = {
    if (signIdx <= 0) return false
    val c = s.charAt(signIdx)
    if (c != '-' && c != '+') return false
    val e = s.charAt(signIdx - 1)
    if (e != 'e' && e != 'E') return false
    var j = signIdx - 2
    if (j < 0 || !(s.charAt(j).isDigit || s.charAt(j) == '.')) return false
    while (j >= 0 && (s.charAt(j).isDigit || s.charAt(j) == '.')) j -= 1
    j < 0 || !(s.charAt(j).isLetterOrDigit || s.charAt(j) == '_' ||
      s.charAt(j) == '.')
  }

  private def rewritePowOperator(seg: String): String = {
    if (!seg.contains("**")) return seg
    var s = seg
    var search = 0
    var guard = 0
    // Progress bound, not a silent cap: each iteration either rewrites one
    // `**` away or advances `search` past one; a rewrite resets the scan,
    // so the worst case is quadratic in the occurrence count. Anything
    // past the bound is a scanner bug — give Spark the raw text to reject.
    val occ = seg.sliding(2).count(_ == "**")
    val guardMax = occ * occ + occ + 8
    while (guard < guardMax) {
      guard += 1
      val idx = s.indexOf("**", search)
      if (idx < 0) return s
      // ---- right operand
      var r = idx + 2
      while (r < s.length && s.charAt(r) == ' ') r += 1
      var rEnd = r
      if (rEnd < s.length && (s.charAt(rEnd) == '-' || s.charAt(rEnd) == '+'))
        rEnd += 1
      // optional callee name then a balanced group, or a word chain;
      // an exponent-notation sign ('1e-3') continues the chain
      var chain = true
      while (chain) {
        chain = false
        while (rEnd < s.length &&
            (s.charAt(rEnd).isLetterOrDigit || s.charAt(rEnd) == '_' ||
              s.charAt(rEnd) == '.')) rEnd += 1
        if (rEnd < s.length && isExpSign(s, rEnd)) { rEnd += 1; chain = true }
      }
      if (rEnd < s.length && s.charAt(rEnd) == '(') {
        var depth = 0
        var ok = false
        while (rEnd < s.length && !ok) {
          s.charAt(rEnd) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) ok = true
            case _ =>
          }
          rEnd += 1
        }
        if (!ok) return s
      }
      // ---- left operand
      var l = idx - 1
      while (l >= 0 && s.charAt(l) == ' ') l -= 1
      var lStart = l
      if (l >= 0 && s.charAt(l) == ')') {
        var depth = 0
        var ok = false
        while (lStart >= 0 && !ok) {
          s.charAt(lStart) match {
            case ')' => depth += 1
            case '(' => depth -= 1; if (depth == 0) ok = true
            case _ =>
          }
          if (!ok) lStart -= 1
        }
        if (!ok) return s
        // a callee name directly before the group belongs to the operand
        var k = lStart - 1
        while (k >= 0 && (s.charAt(k).isLetterOrDigit || s.charAt(k) == '_' ||
            s.charAt(k) == '.')) k -= 1
        lStart = k + 1
      } else {
        while (lStart >= 0 && (s.charAt(lStart).isLetterOrDigit ||
            s.charAt(lStart) == '_' || s.charAt(lStart) == '.')) lStart -= 1
        lStart += 1
        // an exponent-notation sign continues the numeric operand leftward
        // ('1e-3 ** 2' must take '1e-3', not '3')
        var lchain = lStart - 1 >= 0 && isExpSign(s, lStart - 1)
        while (lchain) {
          lStart -= 1 // the sign
          var m = lStart - 1
          while (m >= 0 && (s.charAt(m).isLetterOrDigit ||
              s.charAt(m) == '_' || s.charAt(m) == '.')) m -= 1
          lStart = m + 1
          lchain = lStart - 1 >= 0 && isExpSign(s, lStart - 1)
        }
        // prefix minus binds tighter than ** in DuckDB (probed:
        // -2 ** 2 = 4) — absorb it only in unambiguous prefix position
        if (lStart - 1 >= 0 && s.charAt(lStart - 1) == '-') {
          var m = lStart - 2
          while (m >= 0 && s.charAt(m) == ' ') m -= 1
          if (m < 0 || "(,=<>+-*/%".contains(s.charAt(m))) lStart -= 1
        }
      }
      val leftOp = s.substring(lStart, l + 1).trim
      val rightOp = s.substring(r, rEnd).trim
      if (leftOp.isEmpty || rightOp.isEmpty) search = idx + 2
      else {
        s = s.substring(0, lStart) + s"power($leftOp, $rightOp)" +
          s.substring(rEnd)
        search = 0
      }
    }
    s
  }

  // lhs: identifier/column chain OR a complete string literal (DuckDB docs
  // write `'{"a":1}' -> 'a'` constantly); literal-interior false matches are
  // rejected by the literalStartsAt check in rewriteArrow.
  private val ArrowRe = java.util.regex.Pattern.compile(
    """('(?:[^']|'')*'|[\w.`"]+)((?:\s*->>?\s*(?:'(?:[^']|'')*'|\d+))+)""")
  private val ArrowSegRe = java.util.regex.Pattern.compile(
    """\s*(->>?)\s*(?:'((?:[^']|'')*)'|(\d+))""")

  private def rewriteArrow(sql: String): String = {
    val m = ArrowRe.matcher(sql)
    val sb = new StringBuilder
    var last = 0
    while (m.find()) {
      // Lambda guard: `x -> 'const'` / `x -> 0` inside a higher-order
      // function is lambda syntax, not JSON extraction. `->>` never appears
      // in lambdas, so only pure single-arrow chains need the check.
      val lambdaLike = !m.group(2).contains("->>") &&
        HofNames.contains(enclosingCallName(sql, m.start()))
      // a literal LHS is fine iff the match begins exactly at the literal's
      // opening quote; a match that begins mid-literal is literal content
      val literalSafe =
        if (m.group(1).startsWith("'")) literalStartsAt(sql, m.start())
        else !insideLiteral(sql, m.start())
      if (!literalSafe || lambdaLike) {
        sb.append(sql.substring(last, m.end()))
      } else {
        // fold the arrow chain left-to-right into nested get_json_object
        var acc = m.group(1)
        val seg = ArrowSegRe.matcher(m.group(2))
        while (seg.find()) {
          val norm =
            if (seg.group(3) != null) "$[" + seg.group(3) + "]"
            else if (seg.group(2).startsWith("$")) seg.group(2)
            else "$." + seg.group(2)
          acc = s"get_json_object($acc, '$norm')"
        }
        sb.append(sql.substring(last, m.start())).append(acc)
      }
      last = m.end()
    }
    sb.append(sql.substring(last)).toString
  }

  /** `<ident or string literal> [NOT] <OP> '<literal>'` → `[NOT]
    * regexp_like(operand, '^pattern$')`, for the pattern operators Spark
    * lacks (SIMILAR TO, GLOB). Literal patterns only; non-literal
    * patterns (and parenthesized operands) pass through and surface
    * Spark's own parse error. */
  private def rewriteMatchOp(sql: String, opPattern: String,
      translate: String => String): String = {
    val re = java.util.regex.Pattern.compile(
      "(?i)" + """((?:[\w.`"]+|'(?:[^']|'')*'))\s+(NOT\s+)?""" + "(?:" + opPattern + ")" +
        """\s+'((?:[^']|'')*)'""")
    val m = re.matcher(sql)
    val sb = new StringBuilder
    var last = 0
    while (m.find()) {
      // the inside-a-literal test points at the gap AFTER the operand:
      // m.start() may BE the opening quote of a string-literal operand,
      // which insideLiteral counts as inside its own literal
      //
      // DuckDB binds [NOT] SIMILAR TO / GLOB below binary operators
      // (`a || 'x' SIMILAR TO p` matches the CONCATENATION) — when the
      // operand is preceded by an operator, group(1) is only the
      // rightmost token and rewriting would silently drop the left side;
      // pass through so Spark's own parse error surfaces loudly
      def precededByOperator: Boolean = {
        var i = m.start() - 1
        while (i >= 0 && Character.isWhitespace(sql.charAt(i))) i -= 1
        i >= 0 && "|+-*/%^&!~<>=".indexOf(sql.charAt(i)) >= 0
      }
      if (insideLiteral(sql, m.end(1)) || precededByOperator)
        sb.append(sql.substring(last, m.end()))
      else {
        val neg = if (m.group(2) != null) "NOT " else ""
        // the pattern text arrives ALREADY literal-escaped for Spark (the
        // escape pass runs first), so translators must emit any NEW
        // backslashes pre-doubled and never re-escape existing content
        val pat = translate(m.group(3))
        sb.append(sql.substring(last, m.start()))
          .append(s"${neg}regexp_like(${m.group(1)}, '^(?:$pat)$$')")
      }
      last = m.end()
    }
    sb.append(sql.substring(last)).toString
  }

  /** Glob pattern → Java regex body: * → .*, ? → . , [...] kept with
    * `[!` negation becoming `[^`, regex specials escaped (pre-doubled —
    * the emitted text is a Spark string literal under C-style escaping). */
  private def globToRegex(pat: String): String = {
    val sb = new StringBuilder
    var prev = '\u0000'
    pat.foreach { c =>
      c match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '!' if prev == '[' => sb.append('^')
        case '[' | ']' | '^' | '-' => sb.append(c)
        case _ if ".+()|{}$!".indexOf(c) >= 0 => sb.append("\\\\").append(c)
        case _ => sb.append(c)
      }
      prev = c
    }
    sb.toString
  }

  /** Functions whose arguments may be `param -> body` lambdas (Spark names
    * and the DuckDB spellings). */
  private val HofNames = Set(
    "transform", "filter", "exists", "forall", "aggregate", "reduce",
    "zip_with", "map_filter", "map_zip_with", "array_sort",
    "list_transform", "list_filter", "list_reduce")

  /** Name of the innermost call enclosing `pos` (lowercased), or "". */
  private def enclosingCallName(sql: String, pos: Int): String = {
    var depth = 0
    var i = pos - 1
    while (i >= 0) {
      if (!insideLiteral(sql, i)) {
        sql.charAt(i) match {
          case ')' => depth += 1
          case '(' if depth > 0 => depth -= 1
          case '(' =>
            var end = i
            while (end > 0 && sql.charAt(end - 1).isWhitespace) end -= 1
            var start = end
            while (start > 0 && (sql.charAt(start - 1).isLetterOrDigit ||
                sql.charAt(start - 1) == '_')) start -= 1
            return sql.substring(start, end).toLowerCase
          case _ => ()
        }
      }
      i -= 1
    }
    ""
  }

  /** Quantified subquery comparisons — ANSI `x op ALL|ANY|SOME (SELECT ...)`,
    * which DuckDB parses and Spark does not. Order comparisons reduce to a
    * min/max scalar subquery (`> ALL` ≡ "greater than the subquery max",
    * the textbook reduction — Spark plans the aggregate scalar subquery
    * as usual), `= ANY` to IN and `<> ALL` to NOT IN (preserving their
    * three-valued NULL semantics exactly, since IN / NOT IN are the same
    * construct). Documented deviation: over an EMPTY subquery, ALL is
    * vacuously TRUE in DuckDB while the max-reduction yields NULL (row
    * dropped); exact whenever the subquery returns rows. `= ALL` /
    * `<> ANY` have no single-scalar reduction and pass through (loud). */
  private def rewriteQuantified(sql: String): String = {
    val re = java.util.regex.Pattern.compile(
      "(?i)(<=|>=|<>|!=|<|>|=)\\s*\\b(ALL|ANY|SOME)\\s*\\(")
    var cur = sql
    var changed = true
    var guard = 0
    while (changed && guard < 32) {
      changed = false
      guard += 1
      val m = re.matcher(cur)
      var search = 0
      var done = false
      while (!done && m.find(search)) {
        val close = matchingParen(cur, m.end() - 1)
        val inner = if (close < 0) "" else cur.substring(m.end(), close).trim
        if (insideLiteral(cur, m.start()) || close < 0 ||
            !inner.regionMatches(true, 0, "select", 0, 6)) search = m.end()
        else {
          val op = m.group(1)
          val isAll = m.group(2).equalsIgnoreCase("ALL")
          val repl: Option[String] =
            if (op == "=" && !isAll) Some(s" IN ($inner)")
            else if ((op == "<>" || op == "!=") && isAll) Some(s" NOT IN ($inner)")
            else if (Set("<", "<=", ">", ">=")(op)) {
              val agg = if (op.startsWith(">") == isAll) "max" else "min"
              Some(s" $op (SELECT $agg(_qv) FROM ($inner) AS _qall_$guard(_qv))")
            } else None
          repl match {
            case Some(r) =>
              cur = cur.substring(0, m.start()) + r + cur.substring(close + 1)
              changed = true
              done = true
            case None => search = m.end()
          }
        }
      }
    }
    cur
  }

  /** True iff `pos` is the OPENING quote of a string literal under the same
    * forward scan insideLiteral uses (i.e. not the interior of an earlier
    * literal that happens to contain a quote). */
  private def literalStartsAt(sql: String, pos: Int): Boolean = {
    var i = 0
    while (i < sql.length && i <= pos) {
      if (sql.charAt(i) == '\'') {
        if (i == pos) return true
        val end = SqlText.literalEnd(sql, i)
        if (pos < end) return false
        i = end
      } else i += 1
    }
    false
  }

  private def insideLiteral(sql: String, pos: Int): Boolean = {
    var i = 0
    while (i < sql.length && i <= pos) {
      if (sql.charAt(i) == '\'') {
        val end = SqlText.literalEnd(sql, i)
        if (pos >= i && pos < end) return true
        i = end
      } else i += 1
    }
    false
  }

  /** Index of the ')' matching the '(' at `open` (literal-aware), or -1. */
  private def matchingParen(sql: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i) - 1
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i
        case _ => ()
      }
      i += 1
    }
    -1
  }
}
