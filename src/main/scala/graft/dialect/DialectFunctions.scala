package graft.dialect

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable
import org.apache.spark.sql.catalyst.expressions.{Ascending, Cast, Expression, Literal, SortOrder}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.graftbridge.ParsedSql
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.CalendarInterval
import java.util.Locale
import scala.collection.concurrent.TrieMap

/** DuckDB function spellings → engine expressions, decided once, on the
  * parse tree (reference surface: duckdb docs/sql/functions/ list, text,
  * date, aggregates; exercised all over the reference's own tests, e.g.
  * `packages/duckdb-wasm/test/bindings.test.ts` uses list/unnest forms).
  *
  * The statement path's parse hook (graftbridge.ParsedSql) walks every
  * expression bottom-up and hands each `UnresolvedFunction` to [[resolve]],
  * which looks its lowercase name up in one table. A rule sees the call's
  * already-rewritten arguments (literal arguments as values, an in-call
  * `ORDER BY` as sort keys — the text layer spells it `WITHIN GROUP`) and
  * either renames the call, keeping DISTINCT / FILTER / ordering, or builds
  * an expression from a SQL template (`sql"…"`). A template is parsed once,
  * with the statement path's operator rewrites applied, and the arguments
  * are substituted into its placeholders; DISTINCT and FILTER of an
  * aggregate call carry over to the template's aggregates. A rule's output
  * is not looked up again, so a template names the Spark builtin it means
  * (`concat`, `date_trunc`, `lower`, …) even where the same name is a
  * DuckDB spelling here. Calls no rule accepts pass through for Spark to
  * resolve or reject loudly.
  */
object DialectFunctions {

  /** A call as a rule sees it: arguments and in-call ORDER BY keys. */
  private final case class Call(args: Seq[Expression], order: Seq[SortOrder])

  /** A call without an ORDER BY, matched on its argument list. */
  private object A {
    def unapplySeq(c: Call): Option[Seq[Expression]] =
      if (c.order.isEmpty) Some(c.args) else None
  }

  /** An ordered call whose keys share one direction and that direction's
    * default null order (value arguments, key expressions, ascending).
    * Explicit NULLS FIRST/LAST against the direction and mixed directions
    * have no single sort_array and pass through loudly. */
  private object Ordered {
    def unapply(c: Call): Option[(Seq[Expression], Seq[Expression], Boolean)] =
      c.order.headOption.map(_.direction).filter { d =>
        c.args.nonEmpty && c.order.forall(o =>
          o.direction == d && o.nullOrdering == d.defaultNullOrdering)
      }.map(d => (c.args, c.order.map(_.child), d == Ascending))
  }

  /** A non-null string literal's value. */
  private object Str {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(v, _: StringType) if v != null => Some(v.toString)
      case _ => None
    }
  }

  private sealed trait Out
  private final case class Rename(to: String) extends Out
  private final case class Built(template: Expression, args: Seq[Expression]) extends Out

  private val Placeholder = "_"
  private val templates = TrieMap.empty[(String, Boolean), Expression]

  /** `text` with `_1`, `_2`, … standing for `args`, parsed once per ANSI
    * mode (a parsed CAST keeps the mode it was parsed under). */
  private def build(text: String, args: Seq[Expression]): Built =
    Built(templates.getOrElseUpdate((text, SQLConf.get.ansiEnabled),
      ParsedSql.fixOperators(CatalystSqlParser.parseExpression(text))), args)

  /** `sql"…"`: an interpolated Expression becomes a placeholder, a
    * Seq[Expression] a comma-separated run of them, anything else is
    * spliced as SQL text. */
  private implicit class TemplateSql(sc: StringContext) {
    def sql(vals: Any*): Built = {
      val args = Seq.newBuilder[Expression]
      var n = 0
      def slot(e: Expression): String = { args += e; n += 1; Placeholder + n }
      val text = new StringBuilder(StringContext.processEscapes(sc.parts.head))
      vals.zip(sc.parts.tail).foreach { case (v, part) =>
        text.append(v match {
          case e: Expression => slot(e)
          case es: Seq[_] => es.map { case e: Expression => slot(e) }.mkString(", ")
          case other => other.toString
        })
        text.append(StringContext.processEscapes(part))
      }
      build(text.toString, args.result())
    }
  }

  private type Rule = PartialFunction[Call, Out]
  private val rules = scala.collection.mutable.HashMap.empty[String, Rule]
  private val aggregateNames = scala.collection.mutable.HashSet.empty[String]
  private def rule(names: String*)(r: Rule): Unit =
    names.foreach(n => rules(n) = rules.get(n).fold(r)(_.orElse(r)))
  /** A rule whose output is an aggregate: its names join [[Aggregates]]. */
  private def aggRule(names: String*)(r: Rule): Unit = {
    aggregateNames ++= names
    rule(names: _*)(r)
  }
  private def rename(pairs: (String, String)*): Unit =
    pairs.foreach { case (from, to) => rule(from) { case _ => Rename(to) } }

  /** DuckDB spellings whose rule yields an aggregate: DISTINCT, FILTER and
    * IGNORE NULLS apply to them. */
  private lazy val Aggregates: Set[String] = aggregateNames.toSet

  /** Aggregate spellings that are one NULL-ignoring Spark aggregate of the
    * argument in DOUBLE (Kahan-compensated in DuckDB; the 6-dp oracle band
    * absorbs the compensation): name → that aggregate. */
  private val DoubleAggregates =
    Map("fsum" -> "sum", "sumkahan" -> "sum", "kahan_sum" -> "sum", "favg" -> "avg")
  private def inDouble(arg: String) = s"CAST(($arg) AS DOUBLE)"

  /** Spark aggregates in a template take over the call's DISTINCT and
    * FILTER; Spark's own function registry says which names those are. */
  private def isSparkAggregate(name: String): Boolean =
    org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
      .lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
      .exists(_.getGroup == "agg_funcs")

  /** `SET strict_math = true`: DuckDB's loud out-of-domain errors (see
    * functions/StrictMath.scala) for these names, template output included,
    * so DuckDB's 1-arg log is checked as the log10 it becomes. */
  private val StrictNames = Set("ln", "log10", "log2", "sqrt", "asin", "acos")

  /** DuckDB table-function spellings in FROM position (a relation, not a
    * call): `FROM unnest(list)` is Spark's explode generator. */
  def tableFunction(name: Seq[String]): Option[String] =
    if (name.map(_.toLowerCase(Locale.ROOT)) == Seq("unnest")) Some("explode") else None

  /** Every name the table decides (lowercase). */
  def spellings: Set[String] = rules.keySet.toSet ++ StrictNames

  /** The engine expression for a DuckDB spelling, or None when no rule
    * applies. */
  def resolve(uf: UnresolvedFunction, strict: Boolean): Option[Expression] = {
    if (uf.nameParts.length != 1) return None
    val name = uf.nameParts.head.toLowerCase(Locale.ROOT)
    if (strict && StrictNames(name))
      return Some(uf.copy(nameParts = Seq("graft_strict_" + name)))
    // DISTINCT / FILTER / IGNORE NULLS only mean something on aggregates:
    // elsewhere Spark's own error is the loud answer
    val modified = uf.isDistinct || uf.filter.isDefined || uf.ignoreNulls
    if (modified && !Aggregates(name)) return None
    rules.get(name).flatMap(_.lift(Call(uf.arguments, uf.orderingWithinGroup))).flatMap {
      case Rename(to) => Some(uf.copy(nameParts = Seq(to)))
      case Built(_, _) if uf.ignoreNulls => None
      case Built(template, args) =>
        // inside a lambda body the parser reads every name as a lambda
        // variable, placeholders included
        def slot(p: String) = p.startsWith(Placeholder) && p.length > 1 &&
          p.substring(1).forall(_.isDigit)
        Some(template.transformUp {
          case UnresolvedAttribute(Seq(p)) if slot(p) => args(p.substring(1).toInt - 1)
          case UnresolvedNamedLambdaVariable(Seq(p)) if slot(p) => args(p.substring(1).toInt - 1)
          case f: UnresolvedFunction if isSparkAggregate(f.nameParts.head) =>
            f.copy(isDistinct = uf.isDistinct, filter = uf.filter)
          case f: UnresolvedFunction if strict && StrictNames(f.nameParts.head) =>
            f.copy(nameParts = Seq("graft_strict_" + f.nameParts.head))
        })
    }
  }

  // ------------------------------------------------------------- renames
  // 1:1 argument shape and semantics: list_extract/element_at are both
  // 1-based, regexp_split_to_array/split both take a regex; array_length →
  // size narrows BIGINT → INT (callers that compare widths cast, as DuckDB
  // users already do)
  rename(
    "regexp_split_to_array" -> "split",
    "list_contains" -> "array_contains",
    "list_has" -> "array_contains",
    // list/map extraction: the type-dispatched native expression — scalar
    // for lists, LIST-valued for maps (m['k'] → [v] / [] in DuckDB 1.0;
    // element_at and map_extract are DuckDB's map spellings of the same)
    "list_extract" -> "graft_extract",
    "list_element" -> "graft_extract",
    "element_at" -> "graft_extract",
    "map_extract" -> "graft_extract",
    "list_transform" -> "transform",
    "list_filter" -> "filter",
    "list_concat" -> "concat",
    "list_cat" -> "concat",
    "list_append" -> "array_append",
    "list_max" -> "array_max",
    "list_min" -> "array_min",
    "list_reverse" -> "reverse",
    "array_reverse" -> "reverse",
    // len() spans VARCHAR and LIST/MAP — type-dispatched natively
    "len" -> "graft_len",
    "strlen" -> "octet_length",
    "list_intersect" -> "array_intersect",
    "list_has_any" -> "arrays_overlap",
    "array_has_any" -> "arrays_overlap",
    "nfc_normalize" -> "graft_nfc",
    // utf8proc SIMPLE case mapping (ß→ẞ, never length-changing) vs the
    // JVM's full mapping (ß→SS) — probed over SpecialCasing.txt
    "upper" -> "graft_upper",
    "ucase" -> "graft_upper",
    "lower" -> "graft_lower",
    "lcase" -> "graft_lower",
    "json_keys" -> "json_object_keys",
    "prefix" -> "startswith",
    "suffix" -> "endswith",
    "starts_with" -> "startswith",
    "ends_with" -> "endswith",
    // week() is ISO like Spark's weekofyear
    "week" -> "weekofyear",
    // bit_count counts within the operand's own width; gamma/lgamma have
    // no Spark builtin (Lanczos kernels)
    "bit_count" -> "graft_bit_count",
    "gamma" -> "graft_gamma",
    "lgamma" -> "graft_lgamma",
    // date_trunc keeps DATE for DATE inputs at day-or-coarser fields
    "date_trunc" -> "graft_date_trunc",
    "datetrunc" -> "graft_date_trunc",
    // C-style printf: Spark's format_string IS printf — but %f rejects
    // DECIMAL arguments (DuckDB's numeric literals parse as DECIMAL), so
    // the marker casts those to DOUBLE
    "printf" -> "graft_printf",
    "array_length" -> "size",
    "unnest" -> "explode",
    "list_value" -> "array",
    // both 1-based, same argument order
    "strpos" -> "instr",
    "regexp_matches" -> "regexp_like",
    // chr over full codepoints (Spark's chr is ASCII-only — chr(9731)
    // silently returned ''); bar / signbit / nextafter / age ride native
    // kernels
    "chr" -> "graft_chr",
    "strip_accents" -> "graft_strip_accents",
    "signbit" -> "graft_signbit",
    "nextafter" -> "graft_nextafter",
    "age" -> "graft_age",
    "to_hex" -> "hex",
    "to_base64" -> "base64",
    "from_base64" -> "unbase64",
    // divide() is DuckDB's `//` kernel (integral truncating, DOUBLE when
    // fractional — probed divide(7,2)=3, divide(7.5,2)=3.75)
    "divide" -> "graft_fdiv",
    "gcd" -> "graft_gcd",
    "greatest_common_divisor" -> "graft_gcd",
    "lcm" -> "graft_lcm",
    "least_common_multiple" -> "graft_lcm",
    "list_slice" -> "graft_slice",
    "array_slice" -> "graft_slice",
    // DuckDB 1.0.0 (the reference baseline) returns 0 when the element is
    // absent — Spark's array_position contract (newer DuckDB returns NULL;
    // pinned by oracle q80's pos_none column)
    "list_position" -> "array_position",
    "list_indexof" -> "array_position")

  // ------------------------------------------------------- string edges
  // concat SKIPS NULL arguments and casts everything to VARCHAR (Spark's
  // concat is null-intolerant and array-overloaded)
  rule("concat") {
    case A(args @ _*) if args.nonEmpty =>
      build("concat_ws(''" + args.indices.map(i => s", CAST(_${i + 1} AS STRING)").mkString + ")",
        args)
  }
  // left/right accept negative n = drop |n| characters from the OTHER end
  rule("left") {
    case A(s, n) => sql"graft_slice($s, 1, CASE WHEN ($n) < 0 THEN greatest(0, length($s) + ($n)) ELSE ($n) END)"
  }
  rule("right") {
    case A(s, n) => sql"graft_slice($s, CASE WHEN ($n) < 0 THEN 1 - ($n) ELSE greatest(1, length($s) - ($n) + 1) END, 2147483647)"
  }
  // ltrim/rtrim/trim with a character set: DuckDB is (string, chars),
  // Spark's 2-arg builtins are (trimStr, srcStr) — swapped SILENTLY
  rule("ltrim") { case A(s, cs) => sql"TRIM(LEADING $cs FROM $s)" }
  rule("rtrim") { case A(s, cs) => sql"TRIM(TRAILING $cs FROM $s)" }
  rule("trim", "btrim") { case A(s, cs) => sql"TRIM(BOTH $cs FROM $s)" }
  // substr with a start at or below 0: DuckDB's window is [pos, pos+len)
  // in 1-based space, clamped to [1, ∞) — the clamp CONSUMES length
  // (substr('hello', 0, 3) = 'he'); Spark treats non-positive starts as
  // position 1 with the full length. Positive starts agree.
  rule("substr", "substring") {
    case A(s, i, n) =>
      val pos = "(CASE WHEN (_2) < 0 THEN length(_1) + (_2) + 1 ELSE (_2) END)"
      build(s"(CASE WHEN (_2) >= 1 THEN substring(_1 FROM (_2) FOR (_3)) WHEN $pos + (_3) <= 1 " +
        s"THEN '' ELSE graft_slice(_1, greatest($pos, 0), $pos + (_3) - 1) END)", Seq(s, i, n))
  }
  // unicode/ord: first code point, -1 for the EMPTY string (ascii('') is
  // 0 in both engines — only these two spellings return -1)
  rule("unicode", "ord") {
    case A(x) => sql"(CASE WHEN length($x) = 0 THEN -1 ELSE ascii($x) END)"
  }
  rule("sha256") { case A(s) => sql"sha2($s, 256)" }
  rule("regexp_full_match") {
    case A(s, p) => sql"regexp_like($s, concat('^(?:', $p, ')$$'))"
  }
  // 2-arg regexp_extract / regexp_extract_all return the FULL match
  // (group 0) in DuckDB; Spark's 2-arg forms default to group 1
  rule("regexp_extract") { case A(s, p) => sql"regexp_extract($s, $p, 0)" }
  rule("regexp_extract_all") { case A(s, p) => sql"regexp_extract_all($s, $p, 0)" }
  // DuckDB splits on a PLAIN separator, Spark's split takes a regex: a
  // literal separator is regex-quoted; others pass through (no safe
  // quoting exists for a value unknown until run time)
  rule("string_split", "str_split", "string_to_array") {
    case A(e, Str(sep)) => sql"split($e, ${Literal(java.util.regex.Pattern.quote(sep))})"
  }
  // DuckDB's regexp_replace replaces the FIRST match unless the 'g' option
  // is given, with RE2 rewrite syntax (\1 backrefs, $ literal); Spark's
  // always replaces ALL with Java syntax ($1 backrefs). Unsupported option
  // letters pass through — loud, since Spark's 4th argument is a position.
  rule("regexp_replace") {
    case A(s, p, r) => sql"regexp_replace_first($s, $p, ${javaReplacement(r)})"
    case A(s, p, r, Str(flags)) if flags.forall("gic".contains(_)) &&
        (!flags.contains('i') || Str.unapply(p).isDefined) =>
      val pat = if (flags.contains('i')) Literal("(?i)" + Str.unapply(p).get) else p
      val fn = if (flags.contains('g')) "regexp_replace" else "regexp_replace_first"
      sql"$fn($s, $pat, ${javaReplacement(r)})"
  }
  // the ESCAPE clause takes a bare string literal, so only literal escapes
  // rewrite; the ilike twins case-fold both sides (the escape character is
  // unaffected — DuckDB lowercases pattern and input the same way)
  rule("like_escape") { case A(s, p, Str(e)) => sql"(($s) LIKE ($p) ESCAPE ${sparkLit(e)})" }
  rule("not_like_escape") { case A(s, p, Str(e)) => sql"(($s) NOT LIKE ($p) ESCAPE ${sparkLit(e)})" }
  rule("ilike_escape") {
    case A(s, p, Str(e)) => sql"((lower($s)) LIKE (lower($p)) ESCAPE ${sparkLit(e)})"
  }
  rule("not_ilike_escape") {
    case A(s, p, Str(e)) => sql"((lower($s)) NOT LIKE (lower($p)) ESCAPE ${sparkLit(e)})"
  }
  // DuckDB fmt-style format('{} {:d} {:.2f}', …) → printf-style via the
  // graft_printf marker: literal templates whose every placeholder is {}
  // or a printf-compatible {:spec} translate; others pass through for a
  // loud UNRESOLVED_ROUTINE
  rule("format") {
    case A(Str(fmt), rest @ _*) if rest.nonEmpty && !FmtAlignRe.matcher(
        FmtSpecRe.matcher(fmt.replace("{}", "").replace("{:,}", "")).replaceAll(""))
        .replaceAll("").contains("{") =>
      val body0 = fmt.replace("%", "%%").replace("{}", "%s").replace("{:,}", "%,d")
      val body1 = FmtSpecRe.matcher(body0).replaceAll("%$1")
      val body = FmtAlignLeftRe.matcher(
        FmtAlignRightRe.matcher(body1).replaceAll("%$1s")).replaceAll("%-$1s")
      sql"graft_printf(${Literal(body)}, $rest)"
  }
  rule("encode") { case A(x) => sql"CAST($x AS BINARY)" }
  rule("decode") { case A(x) => sql"CAST($x AS STRING)" }
  rule("bar") {
    case A(x, lo, hi) => sql"graft_bar($x, $lo, $hi, 80.0D)"
    case A(x, lo, hi, w) => sql"graft_bar($x, $lo, $hi, $w)"
  }

  // --------------------------------------------------------------- math
  // DuckDB's 1-argument log(x) is LOG BASE 10 where Spark's is ln; the
  // 2-argument log(b, x) agrees between engines and passes through
  rule("log") { case A(x) => sql"log10($x)" }
  // 1-arg trunc = toward zero (Spark's trunc is the date function)
  rule("trunc") { case A(x) => sql"(CASE WHEN ($x) >= 0 THEN floor($x) ELSE ceil($x) END)" }
  rule("xor") { case A(a, b) => sql"(($a) ^ ($b))" }
  rule("isinf") { case A(x) => sql"(abs(CAST(($x) AS DOUBLE)) = CAST('Infinity' AS DOUBLE))" }
  rule("isfinite") {
    case A(x) => sql"(NOT (isnan(CAST(($x) AS DOUBLE)) OR abs(CAST(($x) AS DOUBLE)) = CAST('Infinity' AS DOUBLE)))"
  }
  // even(x): round away from zero to the next even number (DOUBLE)
  rule("even") {
    case A(x) => sql"CAST(CASE WHEN ($x) >= 0 THEN 2 * ceil(($x) / 2.0D) ELSE -(2 * ceil((-($x)) / 2.0D)) END AS DOUBLE)"
  }
  // fdiv = floor division in DOUBLE; fmod is FLOOR mod (sign of the
  // divisor — probed fmod(-7.5, 2) = 0.5, fmod(7.5, -2) = -0.5; neither C
  // fmod nor Spark's pmod)
  rule("fdiv") { case A(a, b) => sql"CAST(floor(CAST(($a) AS DOUBLE) / ($b)) AS DOUBLE)" }
  rule("fmod") {
    case A(a, b) => sql"(CAST(($a) AS DOUBLE) - CAST(($b) AS DOUBLE) * floor(CAST(($a) AS DOUBLE) / CAST(($b) AS DOUBLE)))"
  }
  rule("to_base") { case A(x, b) => sql"conv(CAST(($x) AS BIGINT), 10, $b)" }
  // add/subtract/multiply ride the infix operators, so the statement
  // path's graft_add/graft_sub markers type-dispatch them
  rule("multiply") { case A(a, b) => sql"(($a) * ($b))" }
  rule("add") { case A(a, b) => sql"(($a) + ($b))" }
  rule("subtract") { case A(a, b) => sql"(($a) - ($b))" }

  // ----------------------------------------------------------- temporal
  // date_add(x, iv) is the infix + (DuckDB returns TIMESTAMP for DATE +
  // INTERVAL — graft_add reproduces that); the Spark-spelled date_add(d,
  // n) lands on the same DATE+integral dispatch
  rule("date_add") { case A(a, b) => sql"(($a) + ($b))" }
  // Day-of-week numbering and the EPOCH field (pinned on DuckDB 1.0):
  // dow/dayofweek = Sunday 0..Saturday 6 (Spark's dayofweek is Sunday 1);
  // isodow = Monday 1..Sunday 7 (Spark's weekday is Monday 0). Every other
  // field goes to graft_datepart: DuckDB's INTERVAL component semantics
  // (hours unbounded, days separate, trunc-toward-zero months, DOUBLE
  // epoch) are a resolved-type dispatch. `extract(f FROM e)` parses to
  // the same two-argument call.
  rule("date_part", "datepart", "extract") {
    case A(Str(f), e) if Set("dow", "dayofweek")(f.toLowerCase(Locale.ROOT)) =>
      sql"(dayofweek($e) - 1)"
    case A(Str(f), e) if f.equalsIgnoreCase("isodow") => sql"(weekday($e) + 1)"
    case A(_, _) => Rename("graft_datepart")
  }
  // epoch(ts) = DOUBLE seconds, INTERVAL sources included
  rule("epoch") { case A(x) => sql"graft_datepart('epoch', $x)" }
  rule("isodow") {
    case A(x) => sql"(CASE WHEN dayofweek(CAST(($x) AS DATE)) = 1 THEN 7 ELSE dayofweek(CAST(($x) AS DATE)) - 1 END)"
  }
  // yearweek = ISO year (the year of the ISO week's Thursday) * 100 + ISO
  // week — yearweek(DATE '2021-01-01') = 202053
  rule("yearweek") {
    case A(x) =>
      val d = "CAST((_1) AS DATE)"
      val iso = s"(CASE WHEN dayofweek($d) = 1 THEN 7 ELSE dayofweek($d) - 1 END)"
      build(s"(year(date_add($d, 4 - $iso)) * 100 + weekofyear($d))", Seq(x))
  }
  rule("century") { case A(x) => sql"CAST(ceil(year(CAST(($x) AS DATE)) / 100.0D) AS BIGINT)" }
  rule("decade") { case A(x) => sql"CAST(floor(year(CAST(($x) AS DATE)) / 10.0D) AS BIGINT)" }
  rule("millennium") { case A(x) => sql"CAST(ceil(year(CAST(($x) AS DATE)) / 1000.0D) AS BIGINT)" }
  // Julian Day at midnight of the DATE: JD(1970-01-01) = 2440588
  rule("julian") {
    case A(x) => sql"(CAST(datediff(CAST(($x) AS DATE), DATE '1970-01-01') AS DOUBLE) + 2440588.0D)"
  }
  // weekday/month names: Spark renders the same English names
  rule("dayname") { case A(e) => sql"date_format($e, 'EEEE')" }
  rule("monthname") { case A(e) => sql"date_format($e, 'MMMM')" }
  // strftime/strptime carry C strftime patterns (reference surface:
  // insert_csv.test.ts:151-177) — a literal format translates to the Java
  // pattern Spark's date_format/to_timestamp expect
  rule("strftime") { case A(e, Str(f)) => sql"date_format($e, ${javaPattern(f)})" }
  rule("strptime") { case A(e, Str(f)) => sql"to_timestamp($e, ${javaPattern(f)})" }
  // exception-free variant: NULL on unparseable input
  rule("try_strptime") { case A(e, Str(f)) => sql"try_to_timestamp($e, ${javaPattern(f)})" }
  // DuckDB overloads epoch_ms: epoch_ms(BIGINT ms) → TIMESTAMP, while
  // epoch_ms(TIMESTAMP) → BIGINT ms. An integer-typed argument (integer
  // literal or integer cast) takes the first overload; everything else the
  // second, where the TIMESTAMP cast is needed because parquet naive
  // timestamps surface as TIMESTAMP_NTZ, which unix_millis rejects —
  // meaning-preserving since the engine session is pinned to UTC.
  rule("epoch_ms") {
    case A(e) if integerShaped(e) => sql"timestamp_millis(CAST($e AS BIGINT))"
    case A(e) => sql"unix_millis(CAST($e AS TIMESTAMP))"
  }
  rule("epoch_us") {
    case A(e) if integerShaped(e) => sql"timestamp_micros(CAST($e AS BIGINT))"
    case A(e) => sql"unix_micros(CAST($e AS TIMESTAMP))"
  }
  rule("epoch_ns") {
    case A(e) if integerShaped(e) => sql"timestamp_micros(CAST($e AS BIGINT) div 1000L)"
    case A(e) => sql"(unix_micros(CAST($e AS TIMESTAMP)) * 1000L)"
  }
  // DuckDB's 1-arg make_timestamp is epoch MICROSECONDS (BIGINT); the
  // 6- and 7-argument forms are Spark's own
  rule("make_timestamp") { case A(e) => sql"timestamp_micros(CAST($e AS BIGINT))" }
  // DuckDB's 1-arg to_timestamp is epoch SECONDS (DOUBLE)
  rule("to_timestamp") { case A(e) => sql"timestamp_seconds(CAST($e AS DOUBLE))" }
  // date_diff counts PART BOUNDARIES CROSSED in DuckDB; Spark's
  // timestampdiff counts complete intervals — truncating both ends to the
  // part first makes them equal. Spark's grammar claims date_diff/datediff
  // with a quoted unit, so the text layer renames those calls to this key.
  rule(DialectSyntax.DateDiffName) {
    case A(Str(part), a, b) if part.matches("[A-Za-z]+") =>
      val p = part.toUpperCase(Locale.ROOT)
      sql"timestampdiff($p, date_trunc('$p', $a), date_trunc('$p', $b))"
  }
  // datesub(part, start, end): COMPLETE whole units from start to end,
  // truncating toward zero (probed: month Jan15→Mar14 = 1, negative mirror
  // −1, week = days/7, quarter = months/3). Month-family parts ride
  // months_between; day-and-finer ride the micros difference. 3-arg only:
  // 2-arg date_sub stays Spark's.
  rule("datesub", "date_sub") {
    case A(Str(part), a, b) if datesubUnit(part.toLowerCase(Locale.ROOT)).isDefined =>
      datesubUnit(part.toLowerCase(Locale.ROOT)).get match {
        case Left(months) =>
          sql"(CAST(months_between(CAST(($b) AS TIMESTAMP), CAST(($a) AS TIMESTAMP)) AS BIGINT) div $months)"
        case Right(micros) =>
          sql"((unix_micros(CAST(($b) AS TIMESTAMP)) - unix_micros(CAST(($a) AS TIMESTAMP))) div ${micros}L)"
      }
  }
  // time_bucket(INTERVAL 'n unit', ts) — fixed-width bucket truncation.
  // DuckDB's default origin is 2000-01-03 00:00:00, a whole multiple of
  // every interval that divides one day — for those the bucketing is
  // epoch-aligned floor division (pmod-subtraction, so pre-epoch
  // timestamps floor instead of truncating toward zero). Intervals that do
  // NOT divide a day (weeks, months) follow the Monday/calendar origin and
  // pass through.
  rule("time_bucket") {
    case A(iv, e) if intervalSeconds(iv).exists(s => s > 0 && 86400L % s == 0) =>
      val secs = intervalSeconds(iv).get
      sql"timestamp_seconds(unix_seconds(CAST($e AS TIMESTAMP)) - pmod(unix_seconds(CAST($e AS TIMESTAMP)), ${secs}L))"
  }

  // -------------------------------------------------------------- lists
  // LIST form only: `FROM range(...)` is a table-valued function in both
  // dialects (Spark's is already end-exclusive) and never reaches this
  // table. DuckDB's list range is end-EXCLUSIVE and yields [] when empty,
  // while sequence(a, b) is end-inclusive and DESCENDS when a > b.
  rule("range") {
    case A(n) => build(range("CAST(0 AS BIGINT)", "CAST(_1 AS BIGINT)"), Seq(n))
    case A(a, b) => build(range("CAST(_1 AS BIGINT)", "CAST(_2 AS BIGINT)"), Seq(a, b))
    // stepped: shrink the end by one step-sign and guard the empty cases
    case A(a, b, st) =>
      val (aa, bb, ss) = ("CAST(_1 AS BIGINT)", "CAST(_2 AS BIGINT)", "CAST(_3 AS BIGINT)")
      build(s"(CASE WHEN $ss > 0 AND $aa < $bb THEN sequence($aa, $bb - 1, $ss) " +
        s"WHEN $ss < 0 AND $aa > $bb THEN sequence($aa, $bb + 1, $ss) " +
        "ELSE slice(sequence(CAST(0 AS BIGINT), CAST(0 AS BIGINT)), 1, 0) END)", Seq(a, b, st))
  }
  // scalar generate_series — end-INCLUSIVE with an optional step, incl.
  // the timestamp + INTERVAL form — is exactly Spark's sequence()
  rule("generate_series") {
    case A(a, b) => sql"sequence($a, $b)"
    case A(a, b, st) => sql"sequence($a, $b, $st)"
  }
  // DuckDB's map constructor takes two LISTS; Spark's same-named function
  // takes flat key/value pairs
  rule("map") { case A(k, v) => sql"map_from_arrays($k, $v)" }
  // list_sort defaults NULLS LAST in both directions: array_sort = ASC
  // NULLS LAST; sort_array(asc) = ASC NULLS FIRST / DESC NULLS LAST;
  // reversed array_sort = DESC NULLS FIRST
  private def sorted(l: Expression, dir: String, nulls: String): Option[Out] =
    (dir.toUpperCase(Locale.ROOT), nulls.toUpperCase(Locale.ROOT)) match {
      case ("ASC", "NULLS LAST") => Some(sql"array_sort($l)")
      case ("ASC", "NULLS FIRST") => Some(sql"sort_array($l, true)")
      case ("DESC", "NULLS LAST") => Some(sql"sort_array($l, false)")
      case ("DESC", "NULLS FIRST") => Some(sql"reverse(array_sort($l))")
      case _ => None
    }
  rule("list_sort", "array_sort") {
    case A(l, Str(d)) if sorted(l, d, "NULLS LAST").isDefined => sorted(l, d, "NULLS LAST").get
    case A(l, Str(d), Str(n)) if sorted(l, d, n).isDefined => sorted(l, d, n).get
  }
  rename("list_sort" -> "array_sort")
  rule("list_reverse_sort") {
    case A(l) => sql"sort_array($l, false)"
    case A(l, Str(n)) if sorted(l, "DESC", n).isDefined => sorted(l, "DESC", n).get
  }
  // list_distinct DROPS NULL elements (and returns an unspecified order —
  // callers sort); list_prepend takes (element, list)
  rule("list_distinct") { case A(l) => sql"filter(array_distinct($l), __ld -> __ld IS NOT NULL)" }
  rule("list_prepend") { case A(e, l) => sql"array_prepend($l, $e)" }
  // list_unique = count of distinct NON-NULL elements
  rule("list_unique") { case A(l) => sql"size(filter(array_distinct($l), __lu -> __lu IS NOT NULL))" }
  rule("array_pop_back") { case A(l) => sql"slice($l, 1, size($l) - 1)" }
  rule("array_pop_front") { case A(l) => sql"slice($l, 2, size($l) - 1)" }
  // has_all ignores NULL needle elements and is vacuously true on an empty
  // needle; array_except coerces the empty-literal NullType where a
  // forall/array_contains lambda cannot
  rule("list_has_all") {
    case A(a, b) => sql"(size(array_except(filter($b, __hb -> __hb IS NOT NULL), $a)) = 0)"
  }
  // list_resize(l, n[, fill]): truncate or pad to n elements (NULL pad
  // unless a fill value is given); sequence() can't take n = 0
  rule("list_resize") {
    case A(l, n) => sql"(CASE WHEN ($n) <= 0 THEN slice($l, 1, 0) ELSE transform(sequence(1, CAST(($n) AS INT)), __lr -> CASE WHEN __lr <= size($l) THEN element_at($l, __lr) ELSE NULL END) END)"
    case A(l, n, v) => sql"(CASE WHEN ($n) <= 0 THEN slice($l, 1, 0) ELSE transform(sequence(1, CAST(($n) AS INT)), __lr -> CASE WHEN __lr <= size($l) THEN element_at($l, __lr) ELSE ($v) END) END)"
  }
  // array_to_string(l, sep) is NULL for an EMPTY list in DuckDB 1.x where
  // Spark's array_join returns ''
  rule("array_to_string") {
    case A(l, sep) => sql"CASE WHEN size($l) = 0 THEN CAST(NULL AS STRING) ELSE array_join($l, $sep) END"
  }
  // list_reduce seeds from the first element (empty input errors loudly
  // in both engines — element_at(…, 1) throws on [])
  rule("list_reduce") {
    case A(l, lam) => sql"aggregate(slice($l, 2, greatest(size($l) - 1, 0)), element_at($l, 1), $lam)"
  }
  // list_aggregate(l, 'name') applies the named aggregate to the elements,
  // NULLs skipped; sum/avg accumulate in DOUBLE (documented deviation:
  // DuckDB keeps integer sums integral — callers cast, as the oracle does)
  private def listAggregate(l: Expression, fn: String, sep: Option[Expression]): Option[Out] = {
    val nn = "filter(_1, __la -> __la IS NOT NULL)"
    val dsum = s"aggregate($nn, CAST(0 AS DOUBLE), (__a, __x) -> __a + CAST(__x AS DOUBLE))"
    (fn.toLowerCase(Locale.ROOT), sep) match {
      case ("min", None) => Some(build("array_min(_1)", Seq(l)))
      case ("max", None) => Some(build("array_max(_1)", Seq(l)))
      case ("count", None) => Some(build(s"CAST(size($nn) AS BIGINT)", Seq(l)))
      case ("sum", None) => Some(build(s"(CASE WHEN size($nn) = 0 THEN NULL ELSE $dsum END)", Seq(l)))
      case ("avg", None) =>
        Some(build(s"(CASE WHEN size($nn) = 0 THEN NULL ELSE $dsum / size($nn) END)", Seq(l)))
      // string_agg joins with the separator (default ','), NULLs skipped
      case ("string_agg", s) =>
        Some(build(s"array_join(transform($nn, __la -> CAST(__la AS STRING)), _2)",
          Seq(l, s.getOrElse(Literal(",")))))
      case _ => None
    }
  }
  rule("list_aggregate", "list_aggr") {
    case A(l, Str(fn)) if listAggregate(l, fn, None).isDefined => listAggregate(l, fn, None).get
    case A(l, Str(fn), sep) if listAggregate(l, fn, Some(sep)).isDefined =>
      listAggregate(l, fn, Some(sep)).get
  }
  rule("list_sum") { case A(l) => listAggregate(l, "sum", None).get }
  // list vector math (DuckDB ANN sugar): zip_with arithmetic in DOUBLE,
  // a dimension mismatch a loud error like DuckDB's
  private val Dot = "aggregate(zip_with(_A, _B, (__vx, __vy) -> CAST(__vx AS DOUBLE) * " +
    "CAST(__vy AS DOUBLE)), CAST(0 AS DOUBLE), (__vs, __ve) -> __vs + __ve)"
  private def dot(a: String, b: String) = Dot.replace("_A", a).replace("_B", b)
  private def dimGuard(expr: String, a: Expression, b: Expression): Built =
    build("(CASE WHEN size(_1) <> size(_2) THEN CAST(raise_error('list dimensions must be equal') " +
      s"AS DOUBLE) ELSE $expr END)", Seq(a, b))
  rule("list_dot_product", "list_inner_product") { case A(a, b) => dimGuard(dot("_1", "_2"), a, b) }
  rule("list_cosine_similarity") {
    case A(a, b) =>
      dimGuard(s"(${dot("_1", "_2")} / (sqrt(${dot("_1", "_1")}) * sqrt(${dot("_2", "_2")})))", a, b)
  }
  rule("list_distance") {
    case A(a, b) => dimGuard("sqrt(aggregate(zip_with(_1, _2, (__vx, __vy) -> " +
      "(CAST(__vx AS DOUBLE) - CAST(__vy AS DOUBLE)) * (CAST(__vx AS DOUBLE) - CAST(__vy AS DOUBLE))), " +
      "CAST(0 AS DOUBLE), (__vs, __ve) -> __vs + __ve))", a, b)
  }
  // struct_extract(s, 'k') → s['k'] (Spark's UnresolvedExtractValue
  // resolves string keys against structs)
  rule("struct_extract") { case A(e, k) => sql"$e[$k]" }

  // ------------------------------------------------------------- JSON
  // DuckDB accepts '$.a.b', bare 'a.b' and '/a/b' path spellings; Spark's
  // get_json_object wants the '$'-rooted JSONPath. Documented divergence:
  // duck's json_extract keeps STRING leaves JSON-quoted where
  // get_json_object unquotes — json_extract_string (the ->> twin) matches
  rule("json_extract", "json_extract_path", "json_extract_string", "json_extract_path_text") {
    case A(j, Str(p)) =>
      val path = if (p.startsWith("$")) p else if (p.startsWith("/")) "$" + p.replace("/", ".") else "$." + p
      sql"get_json_object($j, ${Literal(path)})"
  }
  // json_valid: a JSON null document ('null', whitespace-padded too) is
  // valid, and a NULL input is NULL — get_json_object alone misreports both
  rule("json_valid") {
    case A(j) => sql"(CASE WHEN $j IS NULL THEN CAST(NULL AS BOOLEAN) WHEN trim($j) = 'null' THEN true ELSE get_json_object($j, '$$') IS NOT NULL END)"
  }

  // --------------------------------------------------------- aggregates
  // DuckDB's skewness/kurtosis are SAMPLE-corrected where Spark's are
  // population statistics (skewness ratio = √(n(n−1))/(n−2); kurtosis
  // G2 = ((n+1)·g2 + 6)(n−1)/((n−2)(n−3))). Divisions go through the
  // NULL-on-zero operator hook, so n too small → NULL exactly like DuckDB.
  aggRule("skewness") {
    case A(x) => sql"(skewness($x) * sqrt(CAST(count($x) AS DOUBLE) * (count($x) - 1.0)) / (count($x) - 2.0))"
  }
  aggRule("kurtosis") {
    case A(x) => sql"(((count($x) + 1.0) * kurtosis($x) + 6.0) * (count($x) - 1.0) / ((count($x) - 2.0) * (count($x) - 3.0)))"
  }
  // fsum/favg and their aliases (DoubleAggregates); geomean = exp(mean of logs)
  DoubleAggregates.foreach { case (name, agg) =>
    aggRule(name) { case A(x) => build(s"$agg(${inDouble("_1")})", Seq(x)) }
  }
  aggRule("geomean", "geometric_mean") { case A(x) => sql"exp(avg(ln(CAST(($x) AS DOUBLE))))" }
  // arg_max/arg_min: 2-arg → max_by/min_by; 3-arg top-n (the n values of
  // x at the n largest/smallest y) → collect (y, x) structs, sort by y,
  // project x, take n. Ties in y follow the struct's x tie-break.
  aggRule("arg_max", "argmax") {
    case A(x, y) => sql"max_by($x, $y)"
    case A(x, y, n) => sql"slice(transform(sort_array(collect_list(named_struct('k', $y, 'v', $x)), false), s -> s.v), 1, $n)"
  }
  aggRule("arg_min", "argmin") {
    case A(x, y) => sql"min_by($x, $y)"
    case A(x, y, n) => sql"slice(transform(sort_array(collect_list(named_struct('k', $y, 'v', $x)), true), s -> s.v), 1, $n)"
  }
  // Ordered aggregates (ORDER BY inside the aggregate): collect (key…,
  // value) structs and sort them — struct comparison is field-order
  // lexicographic, so multi-key orders work when all keys share one
  // direction. Documented deviation, oracled around: NULL order keys sort
  // first for ASC (DuckDB: last); string_agg of an all-empty group is ''
  // not NULL.
  private def orderedCollect(nKeys: Int, asc: Boolean): String = {
    val fields = (0 until nKeys).map(i => s"'k$i', _${i + 2}").mkString(", ")
    s"transform(sort_array(collect_list(named_struct($fields, 'v', _1)), $asc), __s -> __s.v)"
  }
  aggRule("list", "array_agg") {
    case Ordered(Seq(v), keys, asc) => build(orderedCollect(keys.length, asc), v +: keys)
    // DuckDB's list() KEEPS NULL elements; collect_list drops them —
    // collect non-null struct wrappers and unwrap, preserving arrival order
    case A(x) => sql"transform(collect_list(named_struct('v', $x)), __lg -> __lg.v)"
  }
  aggRule("string_agg") {
    case Ordered(Seq(v), keys, asc) =>
      build(s"array_join(${orderedCollect(keys.length, asc)}, ',')", v +: keys)
    case Ordered(Seq(v, sep), keys, asc) =>
      build(s"array_join(${orderedCollect(keys.length, asc)}, _${keys.length + 2})",
        (v +: keys) :+ sep)
    case A(x) => sql"array_join(collect_list($x), ',')"
    case A(x, sep) => sql"array_join(collect_list($x), $sep)"
  }
  // first/last with an in-aggregate ORDER BY: the value at the
  // order-minimal/maximal row under DuckDB's NULLS-LAST default. min_by/
  // max_by skip NULL keys, so the null order is encoded IN the key: each
  // key becomes a (null-flag, key) pair whose flag polarity puts NULL-key
  // rows last in the traversal direction — which also makes all-NULL-key
  // groups return a row's value like DuckDB instead of NULL.
  private def orderedPick(firstAgg: Boolean): Rule = {
    case Ordered(Seq(v), keys, asc) =>
      val useMin = firstAgg == asc
      val flag = if (useMin == firstAgg) "IS NULL" else "IS NOT NULL"
      val k = keys.indices.map(i => s"((_${i + 2}) $flag), _${i + 2}").mkString(", ")
      build(s"${if (useMin) "min_by" else "max_by"}(_1, struct($k))", v +: keys)
  }
  aggRule("first")(orderedPick(firstAgg = true))
  aggRule("last")(orderedPick(firstAgg = false))
  // arbitrary(x) is DuckDB's alias for first(x)
  aggRule("arbitrary")(orderedPick(firstAgg = true).orElse { case A(_) => Rename("first") })
  // both engines sketch (t-digest vs Greenwald-Khanna) — exact on small
  // inputs, estimate-class on large (the q44 HLL precedent)
  aggRule("approx_quantile") { case _ => Rename("approx_percentile") }

  // ------------------------------------------------------------ helpers
  /** `[a, b)` as a Spark sequence with DuckDB's empty-range behavior. */
  private def range(a: String, b: String): String =
    s"slice(sequence($a, greatest($a, $b - 1)), 1, CAST(greatest(0L, $b - $a) AS INT))"

  private val DatesubMonths = Map("year" -> 12, "years" -> 12, "yr" -> 12, "yrs" -> 12, "y" -> 12,
    "quarter" -> 3, "quarters" -> 3, "month" -> 1, "months" -> 1, "mon" -> 1, "mons" -> 1)
  private val DatesubMicros = Map("week" -> 604800000000L, "weeks" -> 604800000000L,
    "w" -> 604800000000L, "day" -> 86400000000L, "days" -> 86400000000L, "d" -> 86400000000L,
    "hour" -> 3600000000L, "hours" -> 3600000000L, "hr" -> 3600000000L, "hrs" -> 3600000000L,
    "h" -> 3600000000L, "minute" -> 60000000L, "minutes" -> 60000000L, "min" -> 60000000L,
    "mins" -> 60000000L, "m" -> 60000000L, "second" -> 1000000L, "seconds" -> 1000000L,
    "sec" -> 1000000L, "secs" -> 1000000L, "s" -> 1000000L, "millisecond" -> 1000L,
    "milliseconds" -> 1000L, "ms" -> 1000L, "microsecond" -> 1L, "microseconds" -> 1L, "us" -> 1L)
  private def datesubUnit(part: String): Option[Either[Int, Long]] =
    DatesubMonths.get(part).map(Left(_)).orElse(DatesubMicros.get(part).map(Right(_)))

  /** fmt `{:spec}` placeholders that map 1:1 onto printf `%spec`:
    * optional flags/width/precision + a d/f/s/e/E/g/G/x/X/o conversion. */
  private val FmtSpecRe = java.util.regex.Pattern.compile(
    """\{:([#0\- +]?[0-9]*(?:\.[0-9]+)?[dfseEgGxXo])\}""")
  /** fmt alignment placeholders mapping to printf width specs. */
  private val FmtAlignRightRe = java.util.regex.Pattern.compile("""\{:>(\d+)\}""")
  private val FmtAlignLeftRe = java.util.regex.Pattern.compile("""\{:<(\d+)\}""")
  private val FmtAlignRe = java.util.regex.Pattern.compile("""\{:[><](\d+)\}""")

  /** A string value as a Spark SQL literal token (C-style escapes). */
  private def sparkLit(v: String): String =
    "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** strftime pattern → Java DateTimeFormatter pattern. */
  private def javaPattern(f: String): Expression = Literal(Strftime.toJavaPattern(f))

  /** A literal RE2 rewrite string as a Java Matcher replacement: `\N`
    * backref → `$N`, literal `$` → `\$`, `\\` stays (one literal backslash
    * on both sides); non-literal replacements pass as they are. */
  private def javaReplacement(r: Expression): Expression = r match {
    case Str(v) =>
      val out = new StringBuilder
      var i = 0
      while (i < v.length) {
        val c = v.charAt(i)
        if (c == '\\' && i + 1 < v.length && v.charAt(i + 1) == '\\') { out.append("\\\\"); i += 2 }
        else if (c == '\\' && i + 1 < v.length && v.charAt(i + 1).isDigit) {
          out.append('$').append(v.charAt(i + 1)); i += 2
        } else if (c == '$') { out.append("\\$"); i += 1 }
        else { out.append(c); i += 1 }
      }
      Literal(out.toString)
    case other => other
  }

  /** Statically integer-typed: an integer literal or an integer cast, a
    * template's Cast or the GraftIntCast the hook makes of a user's. */
  private def integerShaped(e: Expression): Boolean = e match {
    case _: Literal | _: Cast | _: graft.functions.GraftIntCast =>
      graft.functions.TryParseIntegral.targets(e.dataType)
    case _ => false
  }

  /** Whole seconds of a day-time interval literal. */
  private def intervalSeconds(e: Expression): Option[Long] = e match {
    case Literal(us: Long, _: DayTimeIntervalType) if us % 1000000L == 0 => Some(us / 1000000L)
    case Literal(ci: CalendarInterval, CalendarIntervalType)
        if ci.months == 0 && ci.microseconds % 1000000L == 0 =>
      Some(ci.days * 86400L + ci.microseconds / 1000000L)
    case _ => None
  }
}
