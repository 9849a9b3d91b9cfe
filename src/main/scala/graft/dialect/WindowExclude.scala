package graft.dialect

/** Window-frame `EXCLUDE CURRENT ROW` (duckdb docs/sql/functions/window —
  * the frame-exclusion clause; standard SQL:2016 T620), which Spark's
  * window specs lack entirely.
  *
  * Rewritten by splitting the ROWS frame around the current row:
  * `agg(x) OVER (ROWS BETWEEN a AND b EXCLUDE CURRENT ROW)` becomes the
  * combination of `agg(x)` over `[a, 1 PRECEDING]` and over
  * `[1 FOLLOWING, b]`. The split form is exact for every supported
  * aggregate — unlike the subtract-the-current-row trick, which cannot
  * express min/max — and both halves stay ordinary Spark window frames
  * (same partitioning, same sort, evaluated in one Window operator since
  * the specs share partition+order), so the plan shape at scale is the
  * plain two-frame window, nothing extra.
  *
  * Combination rules (NULL = empty-frame aggregate, as both engines
  * define it):
  *  - sum:   NULL iff both halves NULL, else coalesce(l,0)+coalesce(r,0)
  *  - count: l + r (count is never NULL; an empty half contributes 0)
  *  - min:   least skipping NULL halves;  max: greatest likewise
  *  - avg:   split sum / split count(x), cast to DOUBLE (deviation: DuckDB
  *           keeps DECIMAL averages exact; this engine's avg is DOUBLE)
  *
  * Scope: explicit `ROWS BETWEEN` frames whose start is `UNBOUNDED
  * PRECEDING` / `k PRECEDING` / `CURRENT ROW` and end is `CURRENT ROW` /
  * `k FOLLOWING` / `UNBOUNDED FOLLOWING` — a start of CURRENT ROW makes
  * the left half empty (NULL/0 literal), symmetrically for the end.
  * `EXCLUDE NO OTHERS` (the default) is stripped.
  *
  * `EXCLUDE TIES` / `EXCLUDE GROUP` (the other two T620 exclusions; TIES
  * removes the current row's ORDER-BY peers but keeps the row itself,
  * GROUP removes the whole peer group) need peer-group boundaries, which
  * no fixed ROWS offset can express — so they are compiled statement-wise:
  * the owning SELECT's FROM(+WHERE) is wrapped in a derived table that
  * adds one `dense_rank() OVER (partition ORDER BY keys)` column per
  * distinct window base, and "rows strictly before / after the current
  * peer group" become plain integer-RANGE frames over that rank —
  * `RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING` ordered ASC for
  * the prefix and DESC for the suffix (both incremental O(n) frames in
  * Spark; the literal `1 FOLLOWING AND UNBOUNDED FOLLOWING` spelling is
  * recomputed from scratch per row, O(n²) per partition) — single-level
  * windows, exact for every supported aggregate, two extra sorted
  * Window passes per base at scale. Supported frames: the default (no
  * frame clause), and
  * ROWS/RANGE/GROUPS with bounds in {UNBOUNDED PRECEDING, CURRENT ROW} ×
  * {CURRENT ROW, UNBOUNDED FOLLOWING}; ROWS and RANGE agree on every one
  * of these once the peer group is excluded, because the rows by which
  * the two modes differ at a CURRENT ROW bound are exactly peers of the
  * current row.
  *
  * `k PRECEDING` / `k FOLLOWING` bounds (round 11) are per frame mode:
  *  - ROWS offsets cut peer groups, so each remaining piece of the
  *    frame becomes a prefix-aggregate DIFFERENCE over a row_number
  *    helper: rows [cur−k, ps−1] (ps = peer-group start) =
  *    prefix(ps−1) − prefix(cur−k−1), both O(n) grows-from-the-start
  *    windows, with an empty-piece guard when the offset stays inside
  *    the current peer group; mirrored DESC for the suffix.
  *    Differences are exact for sum/count/avg; min/max cannot ride a
  *    subtraction and pass through for Spark to reject loudly.
  *  - RANGE-mode frames (offsets included) take the per-call SUBTRACT
  *    path (`expandSubtract`, below): no wrap, no helpers, GROUP BY
  *    blocks and aliases unrestricted — sum/count/avg only; min/max
  *    RANGE offsets would need "everything at the peer VALUE" cut out
  *    of a value range, which requires an integer-typed key the
  *    rewriter can't see, so they pass through loudly.
  *  - GROUPS offsets are whole peer groups = dense_rank units, so the
  *    pieces beyond the current group are integer-RANGE sliding frames
  *    over the helper ([dr−k, dr−1] ASC / mirrored DESC) — every
  *    aggregate rides those, min/max included.
  * Blocks with GROUP BY/HAVING take their own wrap (round 12,
  * `rewriteGroupedBlock`): the grouped query becomes the INNER derived
  * table — window arguments, partition keys and helpers are appended to
  * its projection (windows in a grouped SELECT evaluate post-group, so
  * the helpers see exactly the grouped rows) — and the outer select
  * re-projects the declared columns with the frame pieces. Select items
  * outside the supported grammar (one optionally-CAST-wrapped window
  * call / bare column / explicitly aliased expression) reject loudly;
  * the subtract path keeps handling grouped sum/count/avg wrap-free.
  * Set-operation blocks (UNION / INTERSECT /
  * EXCEPT, round 11) wrap per branch: ownership of an EXCLUDE call
  * switches at the next SELECT keyword, so the first branch rewrites
  * alone with the operator and later branches kept verbatim, and each
  * later branch gets its own pass.
  *
  * Wrap hygiene (round 11): a star projection in the outer SELECT is
  * rewritten to `* EXCEPT (__graft_* helpers)` so the helper columns
  * never leak into the output schema (stars qualified by anything but
  * the preserved FROM alias reject the whole block instead — loud
  * UNRESOLVED, never a silent extra column); and when the FROM clause
  * is a single (optionally aliased) relation, the derived table takes
  * that relation's alias, so `t.v` qualified references keep resolving.
  * Multi-relation FROMs still lose inner aliases — Spark rejects such
  * qualified refs loudly (UNRESOLVED_COLUMN).
  */
object WindowExclude {

  /** The DuckDB aggregate spellings that stand for one Spark aggregate
    * (fsum, favg, …; DialectFunctions decides which) expand like it. */
  private val DuckAggs = DialectFunctions.NullIgnoringAggregates.toSeq.sorted.mkString("|")
  private val AggCall = java.util.regex.Pattern.compile(
    "(?i)\\b(sum|count|avg|min|max|" + DuckAggs + ")\\s*\\(")
  /** rewriteOne/expand additionally handle the positional pair (EXCLUDE
    * CURRENT ROW only); the TIES/GROUP block machinery must NOT match
    * them (its per-fn dispatch is aggregate-only), so this wider pattern
    * stays local to the expand path. */
  private val ExpandCall = java.util.regex.Pattern.compile(
    "(?i)\\b(sum|count|avg|min|max|first_value|last_value|" + DuckAggs + ")\\s*\\(")

  /** A matched call as the Spark aggregate and argument text the
    * expansion combines: a DuckDB spelling becomes what it stands for. */
  private def sparkCall(fn: String, args: String): (String, String) =
    if (args.trim.toUpperCase.startsWith("DISTINCT")) (fn.toLowerCase, args)
    else DialectFunctions.asSparkAggregate(fn, args).getOrElse((fn.toLowerCase, args))
  private val ExcludeCur =
    java.util.regex.Pattern.compile("(?i)\\bEXCLUDE\\s+CURRENT\\s+ROW\\s*$")
  private val ExcludeNone =
    java.util.regex.Pattern.compile("(?i)\\bEXCLUDE\\s+NO\\s+OTHERS\\s*$")
  private val ExcludeNoneAny =
    java.util.regex.Pattern.compile("(?i)\\s*\\bEXCLUDE\\s+NO\\s+OTHERS\\b")
  private val RowsBetween =
    java.util.regex.Pattern.compile("(?i)\\bROWS\\s+BETWEEN\\s+")
  private val RangeBetween =
    java.util.regex.Pattern.compile("(?i)\\bRANGE\\s+BETWEEN\\s+")
  private val Over = java.util.regex.Pattern.compile("(?i)\\s*OVER\\s*\\(")

  /** `EXCLUDE NO OTHERS` is a semantic no-op for EVERY window function —
    * strip it unconditionally (round 15 fuzz: it only used to be handled
    * on the aggregate path, so `first_value(... EXCLUDE NO OTHERS)`
    * reached Spark's parser and failed loudly on valid DuckDB SQL). The
    * token sequence is window-spec-only; literal contents are masked. */
  private def stripNoOthers(sql: String): String = {
    val m = ExcludeNoneAny.matcher(blankLits(sql))
    if (!m.find()) return sql
    val sb = new java.lang.StringBuilder
    var last = 0
    m.reset()
    while (m.find()) { sb.append(sql, last, m.start); last = m.end }
    sb.append(sql.substring(last))
    sb.toString
  }

  def rewrite(sql: String): String = {
    var out = inlineNamed(stripNoOthers(sql))
    var changed = true
    while (changed) {
      changed = false
      rewriteOne(out) match {
        case Some(next) => out = next; changed = true
        case None =>
      }
    }
    rewriteTiesGroupAll(out)
  }

  private val WindowClause =
    java.util.regex.Pattern.compile("(?i)\\bWINDOW\\s+")
  private val NamedDef =
    java.util.regex.Pattern.compile("(?i)\\s*([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s*\\(")

  /** Inline `WINDOW w AS (spec)` definitions when any spec carries an
    * EXCLUDE clause: every `OVER w` becomes `OVER (spec)` and the WINDOW
    * clause is dropped, so the per-aggregate expansion sees inline specs.
    * WINDOW clauses without EXCLUDE are left for Spark's native named
    * windows. Window specs that reference other window names are out of
    * scope (left untouched). */
  private def inlineNamed(sql: String): String = {
    val wm = WindowClause.matcher(sql)
    var from = 0
    while (true) {
      var start = -1
      var i = from
      while (i < sql.length && start < 0) {
        sql.charAt(i) match {
          case '\'' => i = SqlText.literalEnd(sql, i)
          case _ =>
            wm.region(i, sql.length)
            if (wm.lookingAt()) start = i else i += 1
        }
      }
      if (start < 0) return sql
      // parse `name AS (spec) [, name AS (spec)]*`
      var defs = List.empty[(String, String)]
      var pos = wm.end
      var ok = true
      var done = false
      while (ok && !done) {
        val dm = NamedDef.matcher(sql)
        dm.region(pos, sql.length)
        if (dm.lookingAt()) {
          val close = groupEnd(sql, dm.end - 1)
          defs ::= (dm.group(1), sql.substring(dm.end, close - 1))
          var j = close
          while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
          if (j < sql.length && sql.charAt(j) == ',') pos = j + 1
          else { pos = close; done = true }
        } else ok = false
      }
      if (ok && defs.exists(d =>
          java.util.regex.Pattern.compile("(?i)\\bEXCLUDE\\b").matcher(d._2).find())) {
        var out = sql.substring(0, start) + sql.substring(pos)
        defs.foreach { case (name, spec) =>
          out = out.replaceAll("(?i)\\bOVER\\s+" + name + "\\b",
            java.util.regex.Matcher.quoteReplacement(s"OVER ($spec)"))
        }
        return inlineNamed(out)
      }
      from = if (ok) pos else start + 6
      if (from >= sql.length) return sql
    }
    sql
  }

  /** Rewrite the first `agg(...) OVER (... EXCLUDE CURRENT ROW)` found
    * outside literals, or None when none (or an unsupported shape) left. */
  private def rewriteOne(sql: String): Option[String] = {
    val m = ExpandCall.matcher(sql)
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i)
        case _ =>
          m.region(i, sql.length)
          if (m.lookingAt()) {
            val argsOpen = m.end - 1
            val argsClose = groupEnd(sql, argsOpen)
            val (fn, args) = sparkCall(m.group(1), sql.substring(argsOpen + 1, argsClose - 1))
            val om = Over.matcher(sql)
            om.region(argsClose, sql.length)
            if (om.lookingAt()) {
              val specOpen = om.end - 1
              val specClose = groupEnd(sql, specOpen)
              val spec = sql.substring(specOpen + 1, specClose - 1)
              expand(fn, args, spec).foreach { repl =>
                return Some(sql.substring(0, i) + repl + sql.substring(specClose))
              }
              i = m.end
            } else i = m.end
          } else i += 1
      }
    }
    None
  }

  /** The split-frame expression for one call, or None when the spec has no
    * (supported) exclusion. */
  private def expand(fn: String, args: String, spec: String): Option[String] = {
    val none = ExcludeNone.matcher(spec)
    if (none.find())
      return Some(s"$fn($args) OVER (${spec.substring(0, none.start).trim})")
    val ex = ExcludeCur.matcher(spec)
    if (!ex.find()) return None
    val body = spec.substring(0, ex.start).trim
    val rb = RowsBetween.matcher(body)
    if (!rb.find()) {
      // RANGE-mode EXCLUDE CURRENT ROW (round 15 fuzz): sum/count/avg
      // subtract the current row's own contribution from the frame
      // (same incremental spellings as the TIES/GROUP subtract path);
      // min/max and positional functions stay loud pass-throughs — the
      // row at the peer value cannot be cut out of a value range.
      val gb = RangeBetween.matcher(body)
      if (!gb.find()) return None
      val rBase = body.substring(0, gb.start).trim
      val rBounds = body.substring(gb.end).trim
      val rAnd = java.util.regex.Pattern.compile("(?i)\\s+AND\\s+")
        .matcher(rBounds)
      if (!rAnd.find()) return None
      def bound(txt: String, side: String): Option[TgBound] = {
        val t = txt.trim
        if (t.equalsIgnoreCase("CURRENT ROW") ||
          t.matches(s"(?i)0\\s+$side")) Some(BCur)
        else if (t.matches(s"(?i)UNBOUNDED\\s+$side")) Some(BUnb)
        else {
          val om = java.util.regex.Pattern
            .compile(s"(?i)^(.+?)\\s+$side$$").matcher(t)
          if (om.find()) Some(BOff(om.group(1).trim)) else None
        }
      }
      return (for {
        lo <- bound(rBounds.substring(0, rAnd.start), "PRECEDING")
        hi <- bound(rBounds.substring(rAnd.end), "FOLLOWING")
        out <- subtractExpr(fn, args, rBase, lo, hi, keepSelf = false,
          exclCur = true)
      } yield out)
    }
    val base = body.substring(0, rb.start).trim
    val bounds = body.substring(rb.end).trim
    val andM = java.util.regex.Pattern.compile("(?i)\\s+AND\\s+").matcher(bounds)
    if (!andM.find()) return None
    val lo = bounds.substring(0, andM.start).trim
    val hi = bounds.substring(andM.end).trim
    val loCur = lo.equalsIgnoreCase("CURRENT ROW") ||
      lo.matches("(?i)0\\s+PRECEDING|0\\s+FOLLOWING")
    val hiCur = hi.equalsIgnoreCase("CURRENT ROW") ||
      hi.matches("(?i)0\\s+PRECEDING|0\\s+FOLLOWING")
    if (!loCur && !lo.matches("(?i)(UNBOUNDED|\\d+)\\s+PRECEDING")) return None
    if (!hiCur && !hi.matches("(?i)(UNBOUNDED|\\d+)\\s+FOLLOWING")) return None
    def half(f: String, a: String, b: String) =
      s"$f($a) OVER ($base ROWS BETWEEN $b)"
    // A ROWS frame whose UPPER bound is UNBOUNDED FOLLOWING is the one
    // shape Spark recomputes from scratch per row (O(n²) per partition —
    // UnboundedFollowingWindowFunctionFrame; round 16: a q134 sweep at
    // sf10 sat in it for half an hour). Emit those pieces on the
    // SEQUENCE-REVERSED ordering instead, where they become incremental
    // [UNBOUNDED PRECEDING, offset] frames: aggregates are order-
    // symmetric, positionals mirror (first↔last).
    //
    // Every piece of one split must ride ONE physical ordering (advisor
    // r16): the two sorts need not be exact mirrors for rows tied on ALL
    // ORDER BY keys, so a before-half on the forward sort plus an
    // after-half on the reversed sort can double-count a tied row or
    // drop it — a result consistent with NO single tie arrangement. So:
    //  - loCur ([CUR, UNB]): only the after-half exists — flip it.
    //  - finite lo ([k PRE, UNB]): flip BOTH halves — the before-half is
    //    the bounded sliding frame [1 FOLLOWING, k FOLLOWING] on the
    //    reversed sort, still incremental.
    //  - [UNB, UNB]: the frame is the whole partition; sum/count/avg
    //    take the order-independent total−self spelling below, and
    //    min/max/positionals keep BOTH halves on the forward ordering —
    //    the suffix piece is the one shape that stays O(n²) per
    //    partition (self-consistent and correct; a documented rarity).
    val hiUnb = hi.matches("(?i)UNBOUNDED\\s+FOLLOWING")
    val loUnb = lo.matches("(?i)UNBOUNDED\\s+PRECEDING")
    def mirror(f: String): String = f match {
      case "first_value" => "last_value"
      case "last_value" => "first_value"
      case other => other
    }
    if (loUnb && hiUnb && (fn == "sum" || fn == "count" || fn == "avg")) {
      val unb =
        s"OVER ($base ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
      val oneSelf =
        if (args.trim == "*") "1"
        else s"(CASE WHEN ($args) IS NULL THEN 0 ELSE 1 END)"
      val cntRem = s"(count($args) $unb - $oneSelf)"
      def sumRem =
        s"(CASE WHEN $cntRem > 0 THEN coalesce(sum($args) $unb, 0) " +
          s"- coalesce(($args), 0) ELSE NULL END)"
      return Some(fn match {
        case "count" => cntRem
        case "sum" => sumRem
        case "avg" => s"(CAST($sumRem AS DOUBLE) / nullif($cntRem, 0))"
      })
    }
    lazy val flipped = flipRowsBase(base)
    val useFlip = hiUnb && !loUnb && flipped.isDefined
    val l: Option[(String, String) => String] =
      if (loCur) None
      else if (useFlip) {
        // finite lo here (loUnb is the forward branch above); the
        // before-half [k PRE, 1 PRE] becomes [1 FOL, k FOL] reversed
        val kF = lo.replaceAll("(?i)PRECEDING", "FOLLOWING")
        Some((f: String, a: String) =>
          s"${mirror(f)}($a) OVER (${flipped.get} " +
            s"ROWS BETWEEN 1 FOLLOWING AND $kF)")
      } else Some((f: String, a: String) =>
        half(f, a, s"$lo AND 1 PRECEDING"))
    val r: Option[(String, String) => String] =
      if (hiCur) None
      else if (useFlip) Some((f: String, a: String) =>
        s"${mirror(f)}($a) OVER (${flipped.get} " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)")
      else Some((f: String, a: String) => half(f, a, s"1 FOLLOWING AND $hi"))
    // the full-frame window for the positional CASE: same O(n²) spelling
    // hazard when hi is UNBOUNDED and lo is not (a [UNB, UNB] frame is
    // one-pass already) — flip it with the halves
    def fullWin(f: String, a: String): String =
      if (!useFlip)
        s"$f($a) OVER ($base ROWS BETWEEN $lo AND $hi)"
      else {
        val fl =
          if (loCur) "CURRENT ROW"
          else lo.replaceAll("(?i)PRECEDING", "FOLLOWING")
        s"${mirror(f)}($a) OVER (${flipped.get} " +
          s"ROWS BETWEEN UNBOUNDED PRECEDING AND $fl)"
      }
    def sumOf(f: String, a: String, empty: String, combine: (String, String) => String) =
      (l, r) match {
        case (Some(lf), Some(rf)) => combine(lf(f, a), rf(f, a))
        case (Some(lf), None) => lf(f, a)
        case (None, Some(rf)) => rf(f, a)
        case (None, None) => empty
      }
    def addNullable(a: String, b: String) =
      s"(CASE WHEN $a IS NULL AND $b IS NULL THEN NULL " +
        s"ELSE coalesce($a, 0) + coalesce($b, 0) END)"
    def extremum(pick: String)(a: String, b: String) =
      s"(CASE WHEN $a IS NULL THEN $b WHEN $b IS NULL THEN $a " +
        s"ELSE $pick($a, $b) END)"
    Some(fn match {
      case "sum" => sumOf("sum", args, "NULL", addNullable)
      case "count" => sumOf("count", args, "0",
        (a, b) => s"($a + $b)")
      case "min" => sumOf("min", args, "NULL", extremum("least"))
      case "max" => sumOf("max", args, "NULL", extremum("greatest"))
      case "avg" =>
        val s = sumOf("sum", args, "NULL", addNullable)
        val c = sumOf("count", args, "0", (a, b) => s"($a + $b)")
        s"(CAST($s AS DOUBLE) / nullif($c, 0))"
      // POSITIONAL functions (round 15 fuzz): excluding the current row
      // can only displace the value when the frame STARTS (first_value)
      // / ENDS (last_value) at the current row — otherwise the full-frame
      // value is already a non-current row. One count window decides;
      // the displaced value is the adjacent piece's own first/last (NULL
      // when the frame has no rows on that side). ROWS mode only — under
      // RANGE/GROUPS the first/last row among order-by peers is
      // physical-order-defined in BOTH engines, so those stay loud
      // pass-throughs (EXCLUDE GROUP/TIES likewise, which need a peer-
      // boundary the frame grammar cannot spell). IGNORE NULLS (round 16,
      // closing the r15 loud reject): null-skipping makes the two halves
      // compose DIRECTLY — the excluded remainder's first non-null is the
      // BEFORE half's first non-null else the AFTER half's (symmetric for
      // last_value); no row-presence count, empty halves contribute NULL.
      // The row-presence trick below is wrong here because the full-frame
      // value can sit ON the current row even with rows before it.
      case "first_value" | "last_value"
          if java.util.regex.Pattern.compile("(?i)\\bIGNORE\\s+NULLS\\b")
            .matcher(args).find() =>
        val (pref, fall) = if (fn == "first_value") (l, r) else (r, l)
        (pref.map(_(fn, args)), fall.map(_(fn, args))) match {
          case (Some(p), Some(q)) => s"coalesce($p, $q)"
          case (Some(p), None) => p
          case (None, Some(q)) => q
          case (None, None) =>
            // degenerate [CUR, CUR] EXCLUDE CURRENT ROW: a typed NULL
            s"(CASE WHEN 1 = 0 THEN " +
              s"$fn($args) OVER ($base ROWS BETWEEN $lo AND $hi) END)"
        }
      case "first_value" =>
        val full = fullWin("first_value", args)
        val before = l.map(lf => lf("count", "*")).getOrElse("0")
        val after = r.map(rf => rf("first_value", args)).getOrElse("NULL")
        s"(CASE WHEN $before > 0 THEN $full ELSE $after END)"
      case "last_value" =>
        val full = fullWin("last_value", args)
        val after = r.map(rf => rf("count", "*")).getOrElse("0")
        val before = l.map(lf => lf("last_value", args)).getOrElse("NULL")
        s"(CASE WHEN $after > 0 THEN $full ELSE $before END)"
    })
  }

  /** Subtract path for EXCLUDE TIES/GROUP over RANGE-mode frames
    * (round 11). In RANGE mode the current row's ORDER-BY peers sit at
    * value-distance 0, so every supported frame ([UNBOUNDED|k PRECEDING|
    * CURRENT ROW] .. [CURRENT ROW|k FOLLOWING|UNBOUNDED]) contains the
    * whole peer group — the exclusion is exactly
    * `agg(frame) − agg(peer group) [+ current row for TIES]`, which
    * sum/count/avg can ride (min/max cannot; they keep the wrapped
    * dense_rank path). No derived-table wrap, no helper columns: the
    * peer-group aggregate is `OVER (base RANGE BETWEEN CURRENT ROW AND
    * CURRENT ROW)`, sharing the frame window's partitioning+sort, so the
    * whole exclusion is ONE Window pass — and because nothing wraps the
    * FROM, GROUP BY/HAVING blocks, qualified aliases and star
    * projections all work unrestricted on this path.
    *
    * When a block MIXES subtract-eligible calls with wrap-needing ones
    * (min/max, ROWS/GROUPS frames), rewriteBlock routes the RANGE
    * non-offset calls through the wrap's dr piece windows instead —
    * the wrap is being built anyway, and sharing its two sorted passes
    * is measurably cheaper than adding a third window family (q103:
    * 1.17 s vs 1.6 s at sf0.1). The subtract path fires when it saves
    * the wrap entirely, or for RANGE k-offsets the wrap cannot express.
    *
    * Frame spellings keep every window incremental (no UNBOUNDED
    * FOLLOWING upper bound, which Spark recomputes per row, O(n²)):
    *  - hi ≠ UNBOUNDED: spell the frame directly (prefix or sliding).
    *  - [UNB, UNB]: the whole-partition frame (computed once, O(n)).
    *  - [CURRENT ROW, UNB]: frame − peers = total − prefix, both O(n).
    *  - [k PRECEDING, UNB]: sequence-reversed — RANGE offsets require a
    *    single ORDER BY key, so flip it (ASC↔DESC, NULLS LAST↔FIRST;
    *    DuckDB defaults NULLS LAST both ways, which NullOrder pins) and
    *    spell [UNBOUNDED PRECEDING, k FOLLOWING]; verified row-identical
    *    on both engines including NULL order keys, whose offset frames
    *    are their null peer group on both.
    *
    * Caveat shared with every decomposition in this file: DOUBLE sums
    * accumulate in a different order than a native exclusion, so oracle
    * queries round to the data's true scale (see q103's discipline). */
  /** `exclCur = true` (round 15 fuzz): EXCLUDE CURRENT ROW over a RANGE
    * frame — the subtraction is the CURRENT ROW'S OWN contribution
    * instead of the peer-group window: rem = frame − self. Same
    * incremental frame spellings, one window fewer. */
  private def subtractExpr(fn: String, args: String, base: String,
      lo: TgBound, hi: TgBound, keepSelf: Boolean,
      exclCur: Boolean = false): Option[String] = {
    if (fn != "sum" && fn != "count" && fn != "avg") return None
    locally {
        def win(f: String, a: String, b: String, frame: String) =
          s"$f($a) OVER ($b $frame)"
        val peersF = "RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
        def btxt(b: TgBound, side: String) = b match {
          case BUnb => s"UNBOUNDED $side"
          case BCur => "CURRENT ROW"
          case BOff(k) => s"$k $side"
        }
        // (window A, (subtract-count, subtract-sum)) per the scaladoc's
        // spelling table — rem = A − sub [+ self when keepSelf]; each
        // case picks its own subtraction because the A window is not
        // always the literal frame (the total−prefix identity), so the
        // exclCur self-subtraction is only valid when A IS the frame.
        // None = single-key flip unavailable for a k-offset bound.
        type W = (String, String) => String
        def w(b: String, frame: String): W = (f, a) => win(f, a, b, frame)
        val unbUnb = "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
        val prefixF = "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        val oneSelf =
          if (args.trim == "*") "1"
          else s"(CASE WHEN ($args) IS NULL THEN 0 ELSE 1 END)"
        val selfVal = s"coalesce(($args), 0)"
        val selfSub = (oneSelf, selfVal)
        def winSub(b: String, frame: String) =
          (win("count", args, b, frame),
            s"coalesce(${win("sum", args, b, frame)}, 0)")
        val ab: Option[(W, (String, String))] = (lo, hi) match {
          case (BUnb, BUnb) => Some((w(base, unbUnb),
            if (exclCur) selfSub else winSub(base, peersF)))
          case (BCur, BUnb) if exclCur =>
            // the total−prefix identity subtracts the whole peer group;
            // for EXCLUDE CURRENT ROW the remainder is frame − self =
            // total − prefix + peers − self: three incremental windows
            // on the SAME sort order (one WindowExec pass, multi-key
            // safe), instead of spelling the O(n²) [CUR, UNB] frame.
            val (pC, pS) = winSub(base, prefixF)
            val (gC, gS) = winSub(base, peersF)
            Some((w(base, unbUnb),
              (s"($pC - $gC + $oneSelf)", s"($pS - $gS + $selfVal)")))
          case (BCur, BUnb) => Some((w(base, unbUnb), winSub(base, prefixF)))
          case (BOff(k), BUnb) =>
            flipBase(base).map { fb =>
              (w(fb, s"RANGE BETWEEN UNBOUNDED PRECEDING AND $k FOLLOWING"),
                if (exclCur) selfSub else winSub(fb, peersF))
            }
          case _ =>
            Some((w(base,
              s"RANGE BETWEEN ${btxt(lo, "PRECEDING")} AND ${btxt(hi, "FOLLOWING")}"),
              if (exclCur) selfSub else winSub(base, peersF)))
        }
        ab.map { case (winA, (subCnt, subSum)) =>
          val selfCnt = if (keepSelf) oneSelf else "0"
          val cntRem = s"(${winA("count", args)} - $subCnt + $selfCnt)"
          def sumRem = {
            val selfSum = if (keepSelf) s"coalesce(($args), 0)" else "0"
            s"(CASE WHEN $cntRem > 0 THEN coalesce(${winA("sum", args)}, 0) " +
              s"- $subSum + $selfSum ELSE NULL END)"
          }
          fn match {
            case "count" => cntRem
            case "sum" => sumRem
            case "avg" =>
              s"(CAST($sumRem AS DOUBLE) / nullif($cntRem, 0))"
          }
        }
    }
  }

  /** Sequence-reverse a single-key `[PARTITION BY …] ORDER BY key [dir]
    * [NULLS …]` base: ASC↔DESC and NULLS LAST↔FIRST (defaults are the
    * DuckDB/NullOrder-pinned ASC + NULLS LAST). None for multi-key order
    * (RANGE offsets are invalid there anyway — the original EXCLUDE is
    * left for Spark to reject loudly). */
  /** Sequence-reverse an arbitrary (multi-key) ORDER BY base for
    * ROWS-mode frames (round 16): every key flips direction and null
    * placement, so row positions reverse exactly. Rows tied on ALL keys
    * may permute, but ROWS frames over tied keys are physical-order-
    * defined in both engines anyway. RANGE offset frames must keep using
    * the single-key [[flipBase]] (offsets need one numeric key). */
  private def flipRowsBase(base: String): Option[String] = {
    val om = OrderByKw.matcher(base)
    if (!om.find()) return None
    val part = base.substring(0, om.start).trim
    val core = base.substring(om.end).trim
    val keys = scala.collection.mutable.Buffer.empty[String]
    var i = 0
    var depth = 0
    var start = 0
    while (i < core.length) {
      core.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(core, i)
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case ',' if depth == 0 =>
          keys += core.substring(start, i); start = i + 1; i += 1
        case _ => i += 1
      }
    }
    keys += core.substring(start)
    val pn = java.util.regex.Pattern.compile("(?is)\\s+NULLS\\s+(FIRST|LAST)\\s*$")
    val pd = java.util.regex.Pattern.compile("(?is)\\s+(ASC|DESC)\\s*$")
    val flipped = keys.map { k0 =>
      var k = k0.trim
      var dir = "ASC"
      var nulls = "LAST" // DuckDB/NullOrder-pinned defaults
      val mn = pn.matcher(blankLits(k))
      if (mn.find()) { nulls = mn.group(1).toUpperCase; k = k.substring(0, mn.start) }
      val md = pd.matcher(blankLits(k))
      if (md.find()) { dir = md.group(1).toUpperCase; k = k.substring(0, md.start) }
      val fDir = if (dir == "ASC") "DESC" else "ASC"
      val fNulls = if (nulls == "LAST") "FIRST" else "LAST"
      s"$k $fDir NULLS $fNulls"
    }
    Some((if (part.isEmpty) "" else part + " ") +
      "ORDER BY " + flipped.mkString(", "))
  }

  private def flipBase(base: String): Option[String] = {
    val om = OrderByKw.matcher(base)
    if (!om.find()) return None
    val part = base.substring(0, om.start).trim
    var core = base.substring(om.end).trim
    // top-level comma = multi-key
    var i = 0
    var depth = 0
    while (i < core.length) {
      core.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(core, i)
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case ',' if depth == 0 => return None
        case _ => i += 1
      }
    }
    var dir = "ASC"
    var nulls = "LAST"
    val pn = java.util.regex.Pattern.compile("(?is)\\s+NULLS\\s+(FIRST|LAST)\\s*$")
    val mn = pn.matcher(blankLits(core))
    if (mn.find()) { nulls = mn.group(1).toUpperCase; core = core.substring(0, mn.start) }
    val pd = java.util.regex.Pattern.compile("(?is)\\s+(ASC|DESC)\\s*$")
    val md = pd.matcher(blankLits(core))
    if (md.find()) { dir = md.group(1).toUpperCase; core = core.substring(0, md.start) }
    val fDir = if (dir == "ASC") "DESC" else "ASC"
    val fNulls = if (nulls == "LAST") "FIRST" else "LAST"
    Some((if (part.isEmpty) "" else part + " ") +
      s"ORDER BY $core $fDir NULLS $fNulls")
  }

  /** Blank literal contents (quotes kept, length preserved) so suffix
    * regexes can't match keywords inside string constants. */
  private def blankLits(s: String): String = {
    val sb = new StringBuilder(s)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\'') {
        val e = SqlText.literalEnd(s, i)
        var j = i + 1
        while (j < e - 1) { sb.setCharAt(j, ' '); j += 1 }
        i = e
      } else i += 1
    }
    sb.toString
  }

  // ---------------------------------------------------------------------
  // EXCLUDE TIES / EXCLUDE GROUP (statement-level; see object scaladoc)
  // ---------------------------------------------------------------------

  private val ExcludeTG =
    java.util.regex.Pattern.compile("(?i)\\bEXCLUDE\\s+(TIES|GROUP)\\s*$")
  private val SelectKw = java.util.regex.Pattern.compile("(?i)\\bSELECT\\b")
  private val OrderByKw = java.util.regex.Pattern.compile("(?i)\\bORDER\\s+BY\\b")
  private val FrameKw =
    java.util.regex.Pattern.compile("(?i)\\b(ROWS|RANGE|GROUPS)\\b")

  /** One frame bound of a TIES/GROUP spec: UNBOUNDED, CURRENT ROW, or a
    * k-row offset (`k PRECEDING` for the start, `k FOLLOWING` for the
    * end; ROWS mode only). */
  private sealed trait TgBound
  private case object BUnb extends TgBound
  private case object BCur extends TgBound
  /** k-offset bound: `txt` is the offset expression verbatim (an integer
    * for ROWS/GROUPS, possibly an INTERVAL literal for RANGE); `kOpt` is
    * its numeric value when it is a plain integer — the ROWS difference
    * path and GROUPS piece path require that, RANGE passes txt through. */
  private final case class BOff(txt: String) extends TgBound {
    def kOpt: Option[Long] =
      if (txt.matches("\\d+")) Some(txt.toLong) else None
  }

  /** One parsed `agg(args) OVER (spec EXCLUDE TIES|GROUP)` occurrence:
    * [start, end) covers the whole call, base = partition+order text,
    * mode = ROWS/RANGE/GROUPS, lo/hi = how far each side of the frame
    * reaches past the peer group. */
  private final case class TgOcc(start: Int, end: Int, fn: String,
      args: String, base: String, mode: String, lo: TgBound, hi: TgBound,
      keepSelf: Boolean) {
    def hasOffset: Boolean =
      lo.isInstanceOf[BOff] || hi.isInstanceOf[BOff]
  }

  private def rewriteTiesGroupAll(sql: String): String = {
    var out = sql
    var guard = 0
    while (guard < 64) {
      findTiesGroup(out) match {
        case None => return out
        case Some(aggStart) =>
          rewriteOwnerBlock(out, aggStart) match {
            case Some(next) => out = next
            case None => return out // unsupported: leave for Spark to reject
          }
      }
      guard += 1
    }
    out
  }

  /** Position of the first supported-aggregate call whose OVER spec ends
    * with EXCLUDE TIES/GROUP, outside literals. */
  private def findTiesGroup(sql: String): Option[Int] = {
    val m = AggCall.matcher(sql)
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i)
        case _ =>
          m.region(i, sql.length)
          if (m.lookingAt()) {
            val argsClose = groupEnd(sql, m.end - 1)
            val om = Over.matcher(sql)
            om.region(argsClose, sql.length)
            if (om.lookingAt()) {
              val specClose = groupEnd(sql, om.end - 1)
              val spec = sql.substring(om.end, specClose - 1)
              if (ExcludeTG.matcher(spec).find()) return Some(i)
            }
            i = m.end
          } else i += 1
      }
    }
    None
  }

  /** Find the SELECT block owning position `aggStart` — the innermost
    * enclosing SELECT scope, tracked with an owner STACK: '(' inherits the
    * current owner (a CAST or expression paren does not change scope),
    * a SELECT keyword replaces the stack top (a subquery owns its group
    * until its paren closes), ')' pops. */
  private def rewriteOwnerBlock(sql: String, aggStart: Int): Option[String] = {
    var stack = List(-1) // top = owning SELECT pos for the current context
    var i = 0
    var owner = -1
    var ownerLevel = -1
    var startLevel = -1
    var located = false
    while (i < sql.length && !located) {
      if (i == aggStart) {
        owner = stack.head
        // the owner's HOME frame sits below the contiguous run of copies
        // that expression parens ('(' inherits) pushed on top of it — the
        // block must end where THAT frame pops, not where the innermost
        // expression paren (a CAST, say) closes
        ownerLevel = stack.size - stack.takeWhile(_ == owner).length + 1
        startLevel = stack.size
        located = true
      }
      else sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i)
        case '(' => stack = stack.head :: stack; i += 1
        case ')' => if (stack.tail.nonEmpty) stack = stack.tail; i += 1
        case _ =>
          val sm = SelectKw.matcher(sql)
          sm.region(i, sql.length)
          if (sm.lookingAt()) { stack = i :: stack.tail; i = sm.end } else i += 1
      }
    }
    if (owner < 0) return None
    // block end: the ')' that pops the stack below the owner's HOME level
    var j = aggStart
    var level = startLevel
    var blockEnd = sql.length
    while (j < sql.length && blockEnd == sql.length) {
      sql.charAt(j) match {
        case '\'' => j = SqlText.literalEnd(sql, j)
        case '(' => level += 1; j += 1
        case ')' =>
          level -= 1; if (level < ownerLevel) blockEnd = j else j += 1
        case _ => j += 1
      }
    }
    rewriteBlock(sql.substring(owner, blockEnd)).map { b =>
      sql.substring(0, owner) + b + sql.substring(blockEnd)
    }
  }

  /** Positions of a top-level (depth-0, outside literals) keyword in a
    * block, or -1. */
  private def topLevelKw(block: String, pat: java.util.regex.Pattern,
      from: Int = 0): Int = {
    var depth = 0
    var i = from
    while (i < block.length) {
      block.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(block, i)
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0) {
            val m = pat.matcher(block)
            m.region(i, block.length)
            if (m.lookingAt()) return i
          }
          i += 1
      }
    }
    -1
  }

  private def kw(words: String) = java.util.regex.Pattern.compile(
    "(?i)\\b" + words.replace(" ", "\\s+") + "\\b")

  /** Rewrite one SELECT block that contains depth-0 EXCLUDE TIES/GROUP
    * calls. None = unsupported shape, leave the whole block untouched. */
  private def rewriteBlock(block: String): Option[String] = {
    // collect every TIES/GROUP occurrence OWNED by this block's SELECT
    // (owner-stack: expression parens inherit, subquery SELECTs shadow
    // until their paren closes — a CAST-wrapped call still belongs here,
    // a subquery's call does not)
    val occs = scala.collection.mutable.Buffer.empty[TgOcc]
    var stack = List(-1)
    var i = 0
    while (i < block.length) {
      block.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(block, i)
        case '(' => stack = stack.head :: stack; i += 1
        case ')' => if (stack.tail.nonEmpty) stack = stack.tail; i += 1
        case _ =>
          val sm = SelectKw.matcher(block)
          sm.region(i, block.length)
          if (sm.lookingAt()) { stack = i :: stack.tail; i = sm.end }
          else {
          val m = AggCall.matcher(block)
          m.region(i, block.length)
          if (stack.head == 0 && m.lookingAt()) {
            val argsClose = groupEnd(block, m.end - 1)
            val om = Over.matcher(block)
            om.region(argsClose, block.length)
            var consumed = m.end
            if (om.lookingAt()) {
              val specClose = groupEnd(block, om.end - 1)
              val spec = block.substring(om.end, specClose - 1)
              val ex = ExcludeTG.matcher(spec)
              if (ex.find()) {
                parseTgSpec(spec.substring(0, ex.start).trim,
                    ex.group(1).equalsIgnoreCase("TIES")) match {
                  case Some((base, mode, lo, hi, self)) =>
                    val (fn, args) = sparkCall(m.group(1), block.substring(m.end, argsClose - 1))
                    if (args.trim.toUpperCase.startsWith("DISTINCT")) return None
                    val occ = TgOcc(i, specClose, fn, args, base, mode,
                      lo, hi, self)
                    if (occ.hasOffset) {
                      // ROWS offsets cut peer groups → prefix-aggregate
                      // DIFFERENCES, which min/max cannot ride; RANGE
                      // offsets ride the subtract path (sum/count/avg),
                      // but excluding exactly the peer VALUE from a
                      // value range for min/max needs an integer-typed
                      // key the rewriter can't see — pass through for
                      // Spark to reject loudly. GROUPS offsets are in
                      // dense_rank units: every aggregate rides the
                      // integer-RANGE piece windows below.
                      if ((mode == "RANGE" || mode == "ROWS") &&
                          (fn == "min" || fn == "max")) return None
                      // ROWS/GROUPS offsets are row/peer-group counts —
                      // must be plain integers (RANGE takes expressions)
                      if (mode != "RANGE" && Seq(lo, hi).exists {
                            case b: BOff => b.kOpt.isEmpty
                            case _ => false
                          }) return None
                    }
                    occs += occ
                    consumed = specClose
                  case None => return None
                }
              }
            }
            i = consumed
          } else i += 1
          }
      }
    }
    if (occs.isEmpty) return None
    // Route per block: a RANGE-mode sum/count/avg call can ride the
    // wrap-free SUBTRACT path — but when the block needs the wrap anyway
    // (min/max, ROWS/GROUPS frames), sharing the wrap's dr piece windows
    // is measurably cheaper than adding a third window family (q103:
    // 1.17 s vs 1.6 s at sf0.1), so subtract fires only when it saves
    // the wrap entirely — or for RANGE k-offsets the wrap cannot express.
    def subtractable(o: TgOcc) = o.mode == "RANGE" &&
      (o.fn == "sum" || o.fn == "count" || o.fn == "avg")
    val wrapForced = occs.exists(o => !subtractable(o))
    val subExpr: Map[TgOcc, String] =
      occs.filter(o => subtractable(o) && (!wrapForced || o.hasOffset))
        .map { o =>
          subtractExpr(o.fn, o.args, o.base, o.lo, o.hi, o.keepSelf) match {
            case Some(e) => o -> e
            case None => return None // e.g. multi-key flip: reject loudly
          }
        }.toMap
    if (!wrapForced) {
      // every call is subtract-eligible: in-place expression surgery, no
      // derived-table wrap — so no structural constraints either (GROUP
      // BY/HAVING/set-op blocks, aliases and stars all stay untouched)
      var out = block
      occs.toSeq.sortBy(-_.start).foreach { o =>
        out = out.substring(0, o.start) + subExpr(o) + out.substring(o.end)
      }
      return Some(out)
    }
    val fromPos = topLevelKw(block, kw("FROM"))
    if (fromPos < 0) return None
    // a top-level set operator splits the block into branches that wrap
    // independently: every occurrence collected above is owned by the
    // FIRST branch (the occurrence scan's ownership switches at the next
    // SELECT keyword), so recurse on the head branch alone and keep the
    // operator and the later branches verbatim — a later branch's own
    // EXCLUDE calls get their own rewriteOne pass. The scan starts at
    // FROM: a depth-0 EXCEPT before it is the star-EXCEPT projection.
    val setops = Seq("UNION", "INTERSECT", "EXCEPT")
      .map(k0 => topLevelKw(block, kw(k0), fromPos)).filter(_ >= 0)
    if (setops.nonEmpty) {
      val p = setops.min
      return rewriteBlock(block.substring(0, p)).map(_ + block.substring(p))
    }
    // QUALIFY interacts with the wrap's own window set — reject loudly
    if (topLevelKw(block, kw("QUALIFY"), fromPos) >= 0) return None
    // grouped blocks take their own wrap (round 12): the GROUPED query
    // becomes the inner derived table and the helpers evaluate post-group
    if (topLevelKw(block, kw("GROUP BY"), fromPos) >= 0 ||
        topLevelKw(block, kw("HAVING"), fromPos) >= 0)
      return rewriteGroupedBlock(block, occs.toSeq, subExpr, fromPos)
    val tailStart = {
      val cands = Seq(kw("WINDOW"), OrderByKw, kw("LIMIT"))
        .map(p => topLevelKw(block, p, fromPos)).filter(_ >= 0)
      if (cands.isEmpty) block.length else cands.min
    }
    // occurrences inside the FROM..WHERE body (e.g. a join ON) can't ride
    // the wrap — their input would gain the helper columns they feed
    if (occs.exists(o => o.start >= fromPos && o.start < tailStart)) return None
    // one dense_rank (plus, for k-offset frames, one row_number) helper
    // per distinct normalized window base — subtract-routed calls don't
    // consume helpers, so they don't create them either
    val drFor = scala.collection.mutable.LinkedHashMap.empty[String, (String, String, String)]
    occs.filterNot(subExpr.contains).foreach { o =>
      val norm = o.base.replaceAll("\\s+", " ").trim.toUpperCase
      if (!drFor.contains(norm)) {
        val n = drFor.size + 1
        drFor(norm) = (s"__graft_dr$n", s"__graft_rn$n", o.base)
      }
    }
    val needRn = occs.filter(o => o.hasOffset && o.mode == "ROWS")
      .map(_.base.replaceAll("\\s+", " ").trim.toUpperCase).toSet
    def replFor(o: TgOcc): String = subExpr.getOrElse(o, replForWrap(o))
    def replForWrap(o: TgOcc): String = {
      val (dr, rn, _) = drFor(o.base.replaceAll("\\s+", " ").trim.toUpperCase)
      val om = OrderByKw.matcher(o.base)
      om.find() // guaranteed by parseTgSpec
      val pb = o.base.substring(0, om.start).trim
      wrapRepl(o, if (pb.isEmpty) "" else pb + " ", dr, rn)
    }
    def applyRepls(seg: String, off: Int): String = {
      var out = seg
      occs.toSeq.filter(o => o.start >= off && o.start < off + seg.length)
        .sortBy(-_.start)
        .foreach { o =>
          out = out.substring(0, o.start - off) + replFor(o) +
            out.substring(o.end - off)
        }
      out
    }
    val fromBody = block.substring(fromPos + 4, tailStart)
    val tailSeg = applyRepls(block.substring(tailStart), tailStart)
    val helperDefs = drFor.map { case (norm, (drName, rnName, base)) =>
      s"dense_rank() OVER ($base) AS $drName" +
        (if (needRn(norm)) s", row_number() OVER ($base) AS $rnName" else "")
    }.mkString(", ")
    val helperNames = drFor.flatMap { case (norm, (drName, rnName, _)) =>
      drName :: (if (needRn(norm)) List(rnName) else Nil)
    }.toSeq
    // When the FROM clause is one plain (optionally aliased) relation,
    // the derived table takes that relation's name/alias so qualified
    // column references in the outer SELECT keep resolving; otherwise
    // inner aliases move out of scope and qualified refs fail loudly
    // (UNRESOLVED_COLUMN), never silently.
    val wrapAlias = {
      val whereAt = topLevelKw(fromBody, kw("WHERE"))
      val relPart =
        (if (whereAt >= 0) fromBody.substring(0, whereAt) else fromBody).trim
      val SingleRel =
        "(?is)^([A-Za-z_][A-Za-z0-9_.]*)(?:\\s+(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*))?$".r
      relPart match {
        case SingleRel(tbl, null) if !StopWords(tbl.toUpperCase) =>
          tbl.split('.').last
        case SingleRel(_, alias) if !StopWords(alias.toUpperCase) => alias
        case _ => "__graft_ex"
      }
    }
    // A star projection would silently expand to the helper columns —
    // append `EXCEPT (helpers)` (Spark ≥3.4 star-except) so the output
    // schema matches the un-rewritten query exactly. Qualified stars are
    // only fixable when they name the preserved wrap alias; any other
    // qualifier gets the wrap's loud UNRESOLVED failure, never a leak.
    val selectSeg = fixStars(applyRepls(block.substring(0, fromPos), 0),
      helperNames, wrapAlias) match {
      case Some(seg) => seg
      case None => return None // unsupported star shape: leave EXCLUDE for Spark
    }
    Some(s"${selectSeg}FROM (SELECT *, $helperDefs FROM$fromBody) $wrapAlias $tailSeg")
  }

  /** Round-12 wrap path for blocks with top-level GROUP BY/HAVING: the
    * grouped query becomes the INNER derived table — its projection gains
    * the window arguments (`__graft_aK`), the partition keys
    * (`__graft_pM`) and the dense_rank/row_number helpers (windows in a
    * grouped SELECT evaluate post-group, so the helpers see exactly the
    * rows the EXCLUDE frames range over) — and the OUTER select
    * re-projects the original output columns with the frame pieces riding
    * the helper columns. Supported select-item grammar (anything else
    * rejects loudly — the invariant stays "never a silent schema change"):
    *   - one `agg(args) OVER (... EXCLUDE TIES|GROUP)` call, optionally
    *     `CAST( ... AS type)`-wrapped, optionally `AS`-aliased;
    *   - a bare (optionally qualified) column reference;
    *   - an arbitrary expression with an explicit top-level `AS alias`.
    * The ORDER BY/LIMIT tail moves outside the wrap; tails carrying
    * parenthesised expressions (`ORDER BY count(*)`) reject — the
    * aggregate would re-bind against the outer select. */
  private def rewriteGroupedBlock(block: String, occs: Seq[TgOcc],
      subExpr: Map[TgOcc, String], fromPos: Int): Option[String] = {
    if (occs.exists(_.start >= fromPos)) return None
    // GROUP BY ALL expands in a LATER pass that would then see the helper
    // columns as grouping candidates — out of scope
    if (topLevelKw(block, kw("GROUP BY ALL"), fromPos) >= 0) return None
    if (topLevelKw(block, kw("WINDOW"), fromPos) >= 0) return None
    val tailStart = {
      val cands = Seq(OrderByKw, kw("LIMIT"))
        .map(p => topLevelKw(block, p, fromPos)).filter(_ >= 0)
      if (cands.isEmpty) block.length else cands.min
    }
    val tail = block.substring(tailStart)
    if (SqlText.countOutsideLiterals(tail, '(') > 0) return None
    // ---- select items with their [start, end) offsets ----
    var i = SqlText.skipWsAndComments(block, "SELECT".length)
    val dm0 = DistinctAll.matcher(block)
    dm0.region(i, fromPos)
    if (dm0.lookingAt()) return None // DISTINCT over the wrap: out of scope
    val ranges = scala.collection.mutable.Buffer.empty[(Int, Int)]
    var depth = 0
    var start = i
    while (i < fromPos) {
      block.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(block, i)
        case '-' | '/' =>
          // comment-aware like the sibling scanners (starInsert, FromFirst,
          // WindowFilter): a ',' or paren inside -- / /* */ must not split
          // items or corrupt depth tracking
          val ce = SqlText.commentEnd(block, i)
          if (ce > i) i = ce else i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case ',' if depth == 0 =>
          ranges += ((start, i)); start = i + 1; i += 1
        case _ => i += 1
      }
    }
    ranges += ((start, fromPos))
    // ---- registries shared across items ----
    val argAlias = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val partAlias =
      scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
    val drFor =
      scala.collection.mutable.LinkedHashMap.empty[String, (String, String, String)]
    val wrapOccs = occs.filterNot(subExpr.contains)
    if (wrapOccs.isEmpty) return None // this wrap exists FOR wrap-routed calls
    val needRn = wrapOccs.filter(o => o.hasOffset && o.mode == "ROWS")
      .map(_.base.replaceAll("\\s+", " ").trim.toUpperCase).toSet
    // last depth-0 `AS alias` of an item, or None
    def topAlias(text: String): Option[String] = {
      var j = 0
      var d = 0
      var last = -1
      val asKw = kw("AS")
      while (j < text.length) {
        text.charAt(j) match {
          case '\'' => j = SqlText.literalEnd(text, j)
          case '-' | '/' if SqlText.commentEnd(text, j) > j =>
            j = SqlText.commentEnd(text, j)
          case '(' => d += 1; j += 1
          case ')' => d -= 1; j += 1
          case _ =>
            if (d == 0) {
              val m = asKw.matcher(text)
              m.region(j, text.length)
              if (m.lookingAt()) { last = m.end; j = m.end } else j += 1
            } else j += 1
        }
      }
      if (last < 0) None
      else {
        val rest = text.substring(last).trim
        if (rest.matches("[A-Za-z_][A-Za-z0-9_]*")) Some(rest) else None
      }
    }
    val Ident = "[A-Za-z_][A-Za-z0-9_]*(\\s*\\.\\s*[A-Za-z_][A-Za-z0-9_]*)*"
    val inner = scala.collection.mutable.Buffer.empty[String]
    val outer = scala.collection.mutable.Buffer.empty[String]
    for ((s0, e0) <- ranges) {
      val text = block.substring(s0, e0)
      val inOccs = occs.filter(o => o.start >= s0 && o.start < e0)
      val wIn = inOccs.filterNot(subExpr.contains)
      if (wIn.size > 1 || (wIn.size == 1 && inOccs.size != 1)) return None
      if (wIn.size == 1) {
        val o = wIn.head
        val beforeTx = block.substring(s0, o.start)
        val afterTx = block.substring(o.end, e0)
        val castBefore = beforeTx.matches("(?is)\\s*CAST\\s*\\(\\s*")
        val beforeOk = castBefore || beforeTx.matches("(?s)\\s*")
        val afterOk =
          if (castBefore)
            afterTx.matches("(?is)\\s*AS\\s+[A-Za-z_][A-Za-z0-9_]*" +
              "(\\s*\\([0-9,\\s]*\\))?\\s*\\)\\s*(AS\\s+[A-Za-z_][A-Za-z0-9_]*)?\\s*")
          else afterTx.matches("(?is)\\s*(AS\\s+[A-Za-z_][A-Za-z0-9_]*)?\\s*")
        if (!beforeOk || !afterOk) return None
        val argRef =
          if (o.args.trim == "*") "*"
          else argAlias.getOrElseUpdate(o.args.replaceAll("\\s+", " ").trim,
            s"__graft_a${argAlias.size + 1}")
        val normB = o.base.replaceAll("\\s+", " ").trim.toUpperCase
        val (dr, rn, _) = drFor.getOrElseUpdate(normB, {
          val n = drFor.size + 1
          (s"__graft_dr$n", s"__graft_rn$n", o.base)
        })
        val om = OrderByKw.matcher(o.base)
        om.find() // guaranteed by parseTgSpec
        val pb = o.base.substring(0, om.start).trim
        val newHead =
          if (pb.isEmpty) ""
          else {
            val keys = SqlText.splitTopLevel(
              pb.replaceFirst("(?i)^PARTITION\\s+BY", ""), ',')
            if (keys.isEmpty) return None
            val names = keys.map { k =>
              val norm = k.replaceAll("\\s+", " ").trim.toUpperCase
              partAlias.getOrElseUpdate(norm,
                (s"__graft_p${partAlias.size + 1}", k))._1
            }
            s"PARTITION BY ${names.mkString(", ")} "
          }
        val repl = wrapRepl(o.copy(args = argRef), newHead, dr, rn)
        outer += (beforeTx + repl + afterTx).trim
      } else if (inOccs.nonEmpty) {
        // subtract-routed occurrences evaluate at the grouped level: the
        // item stays INNER (and needs a referenceable name outside)
        topAlias(text) match {
          case Some(al) =>
            var t = text
            inOccs.sortBy(-_.start).foreach { o =>
              t = t.substring(0, o.start - s0) + subExpr(o) +
                t.substring(o.end - s0)
            }
            inner += t.trim
            outer += al
          case None => return None
        }
      } else topAlias(text) match {
        case Some(al) => inner += text.trim; outer += al
        case None =>
          val t = text.trim
          if (t.matches(Ident)) {
            inner += t
            outer += t.split('.').last.trim
          } else return None
      }
    }
    val helperDefs = drFor.map { case (norm, (drName, rnName, base)) =>
      s"dense_rank() OVER ($base) AS $drName" +
        (if (needRn(norm)) s", row_number() OVER ($base) AS $rnName" else "")
    }
    val argDefs = argAlias.map { case (a, n) => s"($a) AS $n" }
    val partDefs = partAlias.values.map { case (n, k) => s"(${k.trim}) AS $n" }
    val innerSel = (inner ++ argDefs ++ partDefs ++ helperDefs).mkString(", ")
    val fromBody = block.substring(fromPos + 4, tailStart)
    Some(s"SELECT ${outer.mkString(", ")} FROM " +
      s"(SELECT $innerSel FROM$fromBody) __graft_gx $tail")
  }

  private val StopWords = Set("WHERE", "GROUP", "ORDER", "LIMIT", "WINDOW",
    "HAVING", "QUALIFY", "UNION", "INTERSECT", "EXCEPT", "JOIN", "ON",
    "USING", "CROSS", "INNER", "LEFT", "RIGHT", "FULL", "NATURAL",
    "LATERAL", "TABLESAMPLE", "VALUES", "AS", "SELECT", "FROM")

  private val StarItem = java.util.regex.Pattern.compile(
    "((?:[A-Za-z_][A-Za-z0-9_]*\\s*\\.\\s*)*)\\*")
  private val ExceptAfter = java.util.regex.Pattern.compile(
    "(?i)\\s*EXCEPT\\s*\\(")
  // DuckDB star sugar that is rewritten AFTER this pass (DialectSugar) —
  // inserting EXCEPT between the star and these would corrupt the later
  // rewrite; reject the block so EXCLUDE stays for Spark to refuse loudly
  private val StarSugarAfter = java.util.regex.Pattern.compile(
    "(?i)\\s*(REPLACE|EXCLUDE)\\s*\\(")
  private val DistinctAll = java.util.regex.Pattern.compile(
    "(?i)\\s*(DISTINCT|ALL)\\b")

  /** Rewrite every depth-0 star projection in a SELECT segment (`seg`
    * starts with the SELECT keyword, ends before FROM) to exclude the
    * helper columns the TIES/GROUP wrap adds: `*` → `* EXCEPT (helpers)`
    * (merging into an existing star-EXCEPT list), `wrapAlias.*`
    * likewise. None = a star qualified by anything other than the wrap
    * alias, which the wrap cannot fix silently — caller rejects the
    * whole block. */
  private def fixStars(seg: String, helpers: Seq[String],
      wrapAlias: String): Option[String] = {
    // insertion points, collected left-to-right: (pos, text)
    val ins = scala.collection.mutable.Buffer.empty[(Int, String)]
    // comments read as whitespace everywhere in this scanner (a '--' or
    // '/* */' span between SELECT/comma and '*' must not clear the
    // boundary flag, or the star silently escapes the EXCEPT rewrite and
    // helper columns leak into the output schema)
    var i = SqlText.skipWsAndComments(seg, "SELECT".length)
    val dm = DistinctAll.matcher(seg)
    dm.region(i, seg.length)
    if (dm.lookingAt()) i = dm.end
    var depth = 0
    var boundary = true
    var lastSig = ' ' // previous significant (non-ws, non-comment) char
    while (i < seg.length) {
      val c = seg.charAt(i)
      val ce = SqlText.commentEnd(seg, i)
      if (ce > i) i = ce
      else if (c == '\'') {
        i = SqlText.literalEnd(seg, i); boundary = false; lastSig = '\''
      }
      else if (c == '(') { depth += 1; i += 1; boundary = false; lastSig = c }
      else if (c == ')') { depth -= 1; i += 1; boundary = false; lastSig = c }
      else if (c == ',') { if (depth == 0) boundary = true; i += 1; lastSig = c }
      else if (c.isWhitespace) i += 1
      else if (depth == 0 && boundary) {
        val m = StarItem.matcher(seg)
        m.region(i, seg.length)
        if (m.lookingAt()) {
          val qual = m.group(1).replaceAll("[\\s.]+$", "").trim
          if (qual.nonEmpty && !qual.equalsIgnoreCase(wrapAlias)) return None
          val sm2 = StarSugarAfter.matcher(seg)
          sm2.region(m.end, seg.length)
          if (sm2.lookingAt()) return None
          val em = ExceptAfter.matcher(seg)
          em.region(m.end, seg.length)
          if (em.lookingAt())
            ins += ((em.end, helpers.mkString("", ", ", ", ")))
          else
            ins += ((m.end, s" EXCEPT (${helpers.mkString(", ")})"))
          i = m.end
        }
        boundary = false
        if (!m.lookingAt()) { lastSig = c; i += 1 } else lastSig = '*'
      }
      else {
        // a depth-0 star right after a dot can only be a qualified star
        // whose path the StarItem regex failed to read (e.g. a comment
        // inside `a./*c*/*`) — reject loudly rather than leak helpers
        if (c == '*' && depth == 0 && lastSig == '.') return None
        boundary = false; lastSig = c; i += 1
      }
    }
    var out = seg
    ins.sortBy(-_._1).foreach { case (p, t) =>
      out = out.substring(0, p) + t + out.substring(p)
    }
    Some(out)
  }

  /** Parse a TIES/GROUP window spec body (EXCLUDE already stripped) →
    * (base partition+order text, frame mode, lo bound, hi bound, keep
    * current row). k-offset bounds are accepted in every mode — callers
    * gate per mode×aggregate (ROWS offsets ride prefix differences,
    * RANGE offsets the subtract path, GROUPS offsets dr-RANGE pieces).
    * Same-side frames (both bounds preceding, or both following) never
    * contain the current row and are out of scope. None = out of scope. */
  private def parseTgSpec(body: String, ties: Boolean)
      : Option[(String, String, TgBound, TgBound, Boolean)] = {
    val fm = FrameKw.matcher(body)
    val (base, mode, loTxt, hiTxt) =
      if (fm.find()) {
        val frame = body.substring(fm.end).trim
        val b = body.substring(0, fm.start).trim
        val md = fm.group(1).toUpperCase
        val bm = java.util.regex.Pattern.compile("(?i)^BETWEEN\\s+(.*?)\\s+AND\\s+(.*)$",
          java.util.regex.Pattern.DOTALL).matcher(frame)
        if (bm.matches()) (b, md, bm.group(1).trim, bm.group(2).trim)
        else (b, md, frame, "CURRENT ROW") // short form: `ROWS lo`
      } else (body.trim, "RANGE", "UNBOUNDED PRECEDING", "CURRENT ROW")
    if (!OrderByKw.matcher(base).find()) return None
    def bound(txt: String, side: String): Option[TgBound] =
      if (txt.matches("(?i)CURRENT\\s+ROW") ||
          txt.matches(s"(?i)0\\s+$side")) Some(BCur)
      else if (txt.matches(s"(?i)UNBOUNDED\\s+$side")) Some(BUnb)
      else if (txt.matches(s"(?is).+\\s+$side"))
        Some(BOff(txt.replaceAll(s"(?is)\\s+$side\\s*$$", "").trim))
      else None
    for {
      lo <- bound(loTxt, "PRECEDING")
      hi <- bound(hiTxt, "FOLLOWING")
    } yield (base, mode, lo, hi, ties)
  }

  private def groupEnd(sql: String, open: Int): Int = {
    var depth = 1
    var j = open + 1
    while (j < sql.length && depth > 0) {
      sql.charAt(j) match {
        case '\'' => j = SqlText.literalEnd(sql, j)
        case '(' => depth += 1; j += 1
        case ')' => depth -= 1; j += 1
        case _ => j += 1
      }
    }
    j
  }

  /** The wrap-path replacement text for one TIES/GROUP occurrence whose
    * frame pieces ride the helper columns: `head` is the PARTITION BY
    * prefix the emitted windows use, `dr`/`rn` the dense_rank/row_number
    * helper names, and `o.args` the aggregate argument AS VISIBLE AT THE
    * EMISSION SITE (the grouped path substitutes an inner-materialized
    * alias before calling). */
  private def wrapRepl(o: TgOcc, head: String, dr: String, rn: String): String = {
      // BOTH sides are grows-from-the-frame-start frames: the suffix
      // aggregates are ORDER BY dr/rn DESC over [UNBOUNDED PRECEDING,
      // k PRECEDING] rather than the literal [k FOLLOWING, UNBOUNDED
      // FOLLOWING] — Spark evaluates UnboundedPreceding frames
      // incrementally (O(n) per partition) but recomputes
      // UnboundedFollowing frames from scratch per row (O(n²): measured
      // 31.7 s vs 0.7 s on a 30k-row partition at sf0.1)
      def drWin(f: String, a: String, ord: String) =
        s"$f($a) OVER (${head}ORDER BY $dr $ord " +
          "RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
      def rnWin(f: String, a: String, ord: String, skip: Long) =
        s"$f($a) OVER (${head}ORDER BY $rn $ord " +
          s"ROWS BETWEEN UNBOUNDED PRECEDING AND $skip PRECEDING)"
      if (o.hasOffset && o.mode == "ROWS") {
        // k-offset path (ROWS mode, sum/count/avg): each remaining piece
        // of the frame is a prefix DIFFERENCE — [cur−k, ps−1] =
        // prefix(ps−1) − prefix(cur−k−1), where prefix(ps−1) is the
        // dr-RANGE window (everything before the peer group) and
        // prefix(cur−k−1) the rn-ROWS window (everything up to k+1 rows
        // back); mirrored with DESC for the suffix piece. Empty-piece
        // guard: the piece exists only when the offset reaches past the
        // current row's own peers (k > peers-on-that-side).
        val peersL = s"($rn - min($rn) OVER (${head}ORDER BY $dr " +
          "RANGE BETWEEN CURRENT ROW AND CURRENT ROW))"
        val peersR = s"(max($rn) OVER (${head}ORDER BY $dr " +
          s"RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - $rn)"
        def pieceCnt(b: TgBound, asc: Boolean, a: String): String = {
          val ord = if (asc) "ASC" else "DESC"
          val peers = if (asc) peersL else peersR
          b match {
            case BCur => "0"
            case BUnb => drWin("count", a, ord)
            case b @ BOff(_) =>
              val k = b.kOpt.get // gated at occurrence collection
              s"(CASE WHEN $k > $peers THEN ${drWin("count", a, ord)} " +
                s"- ${rnWin("count", a, ord, k + 1)} ELSE 0 END)"
          }
        }
        def pieceSum(b: TgBound, asc: Boolean, a: String): String = {
          val ord = if (asc) "ASC" else "DESC"
          val peers = if (asc) peersL else peersR
          b match {
            case BCur => "0"
            case BUnb => s"coalesce(${drWin("sum", a, ord)}, 0)"
            case b @ BOff(_) =>
              val k = b.kOpt.get // gated at occurrence collection
              s"(CASE WHEN $k > $peers THEN coalesce(${drWin("sum", a, ord)}, 0) " +
                s"- coalesce(${rnWin("sum", a, ord, k + 1)}, 0) ELSE 0 END)"
          }
        }
        val ca = if (o.args.trim == "*") "1" else o.args
        val selfCnt =
          if (!o.keepSelf) "0"
          else if (o.args.trim == "*") "1"
          else s"(CASE WHEN (${o.args}) IS NULL THEN 0 ELSE 1 END)"
        val totalCnt = s"(${pieceCnt(o.lo, asc = true, ca)} " +
          s"+ ${pieceCnt(o.hi, asc = false, ca)} + $selfCnt)"
        def totalSum = {
          val selfSum = if (o.keepSelf) s"coalesce((${o.args}), 0)" else "0"
          s"(${pieceSum(o.lo, asc = true, o.args)} " +
            s"+ ${pieceSum(o.hi, asc = false, o.args)} + $selfSum)"
        }
        o.fn match {
          case "count" => totalCnt
          case "sum" =>
            s"(CASE WHEN $totalCnt > 0 THEN $totalSum ELSE NULL END)"
          case "avg" =>
            s"(CAST((CASE WHEN $totalCnt > 0 THEN $totalSum ELSE NULL END) " +
              s"AS DOUBLE) / nullif($totalCnt, 0))"
        }
      } else {
      // piece path: UNBOUNDED/CURRENT bounds in any mode (the three modes
      // agree there once the peer group is out), plus GROUPS k-offsets —
      // a GROUPS offset is k whole peer groups, i.e. k dense_rank units,
      // so the piece beyond the current group is the integer-RANGE frame
      // [dr−k, dr−1] (mirrored DESC for the suffix): a sliding frame
      // every aggregate can ride, min/max included — no differences.
      def pieceWin(b: TgBound, ord: String): Option[(String, String) => String] =
        b match {
          case BCur => None
          case BUnb => Some((f: String, a: String) => drWin(f, a, ord))
          case BOff(k) => Some((f: String, a: String) =>
            s"$f($a) OVER (${head}ORDER BY $dr $ord " +
              s"RANGE BETWEEN $k PRECEDING AND 1 PRECEDING)")
        }
      val left = pieceWin(o.lo, "ASC")
      val right = pieceWin(o.hi, "DESC")
      def addNullable(a: String, b: String) =
        s"(CASE WHEN $a IS NULL AND $b IS NULL THEN NULL " +
          s"ELSE coalesce($a, 0) + coalesce($b, 0) END)"
      def extremum(pick: String)(a: String, b: String) =
        s"(CASE WHEN $a IS NULL THEN $b WHEN $b IS NULL THEN $a " +
          s"ELSE $pick($a, $b) END)"
      // nullable parts: the two peer-group-adjacent windows plus (TIES
      // only) the current row's own value
      def parts(f: String, a: String, self: String): Seq[String] =
        left.map(_(f, a)).toSeq ++ right.map(_(f, a)) ++
          (if (o.keepSelf) Seq(self) else Nil)
      def fold(ps: Seq[String], empty: String,
          combine: (String, String) => String): String =
        if (ps.isEmpty) empty else ps.reduce(combine)
      def sumExpr(a: String) =
        fold(parts("sum", a, s"($a)"), "NULL", addNullable)
      def cntExpr(a: String) = {
        val self = if (a.trim == "*") "1"
          else s"(CASE WHEN ($a) IS NULL THEN 0 ELSE 1 END)"
        fold(parts("count", a, self), "0", (x, y) => s"($x + $y)")
      }
      o.fn match {
        case "sum" => sumExpr(o.args)
        case "count" => cntExpr(o.args)
        case "min" => fold(parts("min", o.args, s"(${o.args})"), "NULL",
          extremum("least"))
        case "max" => fold(parts("max", o.args, s"(${o.args})"), "NULL",
          extremum("greatest"))
        case "avg" =>
          s"(CAST(${sumExpr(o.args)} AS DOUBLE) / nullif(${cntExpr(o.args)}, 0))"
      }
      }
  }
}
