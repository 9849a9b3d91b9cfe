package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Levenshtein, Literal}

/** The engine's SQL functions, each declared once: its name, its usage
  * text and its builder, as Spark's own
  * `SparkSessionExtensions.FunctionDescription`. [[graft.GraftExtensions]]
  * injects every entry into the sessions built with it; `registerAll`
  * installs the same entries on a caller-built session without the
  * extension. `FunctionTableGuardSpec` keeps every other function
  * registration out of `src/main`. */
object FunctionTable {

  type Entry = SparkSessionExtensions#FunctionDescription

  private def fn(name: String, usage: String)(build: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName, null, name, name + usage,
        "", "", "", "", "", "", "built-in"),
      build)

  private def arity(name: String, n: Int, es: Seq[Expression]): Unit =
    require(es.length == n, s"$name requires $n argument(s), got ${es.length}")

  private def f1(name: String, usage: String)(build: Expression => Expression): Entry =
    fn(name, usage) { es => arity(name, 1, es); build(es(0)) }

  private def f2(name: String, usage: String)(
      build: (Expression, Expression) => Expression): Entry =
    fn(name, usage) { es => arity(name, 2, es); build(es(0), es(1)) }

  private def f3(name: String, usage: String)(
      build: (Expression, Expression, Expression) => Expression): Entry =
    fn(name, usage) { es => arity(name, 3, es); build(es(0), es(1), es(2)) }

  private def constLong(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** `x[, q]`, the quantile defaulting to the median. */
  private def quantile(name: String, usage: String)(
      build: (Expression, Expression) => Expression): Entry =
    fn(name, usage) {
      case Seq(x) => build(x, Literal(0.5))
      case Seq(x, q) => build(x, q)
      case es => throw new IllegalArgumentException(
        s"$name requires 1 or 2 arguments, got ${es.length}")
    }

  val entries: Seq[Entry] = Seq(
    f2("vec_dot", "(a, b) - dot product of two numeric arrays")(VecDot(_, _)),
    f1("vec_norm", "(a) - L2 norm of a numeric array")(VecNorm(_)),
    f2("vec_cosine", "(a, b) - cosine similarity of two numeric arrays")(VecCosine(_, _)),
    f1("simhash64", "(hashes) - 64-bit SimHash of an ARRAY<BIGINT>")(SimHash64(_)),
    f3("graft_polyhash", "(s, mult, mod) - portable polynomial code-point hash")(
      (s, mult, mod) => PolyHash(s, constLong(mult, "mult"), constLong(mod, "mod"))),
    f1("vec_sum", "(a) - element-wise vector sum aggregate")(VecSumAgg(_)),
    f1("product", "(x) - DuckDB product aggregate (NULL-skipping, DOUBLE)")(ProductAgg(_)),
    f1("quant_stats",
      "(a) - [scale, q_sum, q_l1, q_min, q_max] of one-pass int8 quantization")(QuantStats(_)),
    f1("dup_chars", "(a) - characters inside duplicated array elements")(DupChars(_)),
    f3("regexp_replace_first",
      "(s, re, rep) - replace the FIRST regex match (DuckDB regexp_replace default)")(
      RegexpReplaceFirst(_, _, _)),
    // bracket forms: the dialect emits them for `e[a:b]` / `e[i]`, and the
    // type dispatch happens after resolution, which SQL text cannot do
    f3("graft_slice",
      "(e, lo, hi) - DuckDB bracket slice (1-based inclusive, negatives from end) over STRING or ARRAY")(
      GraftSlice(_, _, _)),
    f2("graft_extract",
      "(e, i) - DuckDB bracket extraction over STRING (char), ARRAY or MAP (element_at)")(
      GraftExtract(_, _)),
    // DuckDB-parity quantile family (QuantileAggs.scala): the selection
    // math is Spark's, the types are DuckDB's. quantile_disc keeps the input
    // type, median is DECIMAL-discrete, quantile_cont is DECIMAL-truncating;
    // `median` and `quantile_cont` replace Spark's builtins, which agree on
    // non-DECIMAL inputs
    quantile("quantile_disc",
      "(x[, q]) - DuckDB discrete quantile (type-preserving; q defaults to 0.5)")(
      GraftQuantileDisc(_, _)),
    quantile("quantile",
      "(x[, q]) - DuckDB discrete quantile (type-preserving; q defaults to 0.5)")(
      GraftQuantileDisc(_, _)),
    quantile("quantile_cont",
      "(x[, q]) - DuckDB interpolated quantile (DECIMAL inputs truncate at their scale)")(
      GraftQuantileCont(_, _)),
    f1("median", "(x) - DuckDB median (DECIMAL inputs are discrete and keep their type)")(
      GraftMedian(_)),
    f1("entropy", "(x) - Shannon entropy (log2) of the value distribution")(GraftEntropy(_)),
    // the statement path's operators and casts (graftbridge.ParsedSql)
    f2("graft_fdiv",
      "(a, b) - DuckDB // division (integral truncating; DOUBLE when either operand is fractional)")(
      GraftFloorDiv(_, _)),
    f2("graft_sub",
      "(a, b) - infix minus with DuckDB's type dispatch (DATE - DATE is BIGINT days)")(
      GraftSub(_, _)),
    f2("graft_add",
      "(a, b) - infix plus with DuckDB's type dispatch (DATE + INTERVAL is TIMESTAMP)")(
      GraftAdd(_, _)),
    f2("graft_datepart",
      "(field, e) - date_part/extract with DuckDB's INTERVAL component semantics and DOUBLE epoch")(
      GraftDatePart(_, _)),
    f1("graft_cast_bool", "(e) - CAST to BOOLEAN with DuckDB's strict VARCHAR set")(
      GraftCastBool(_)),
    f1("graft_try_bool", "(e) - TRY_CAST to BOOLEAN with DuckDB's accepted strings")(
      GraftTryBool(_)),
    // DuckDB spellings the tree table maps to a type-dispatched kernel
    // (DialectFunctions; DialectParityFns.scala, MathStringFns.scala)
    f1("graft_len", "(e) - DuckDB len over STRING, LIST or MAP")(GraftLen(_)),
    f1("graft_bit_count", "(x) - bit count within the operand's own width")(GraftBitCount(_)),
    f2("graft_date_trunc", "(field, x) - DuckDB date_trunc (DATE stays DATE at day-or-coarser)")(
      GraftDateTrunc(_, _)),
    f1("graft_gamma", "(x) - gamma function (Lanczos)")(GraftGamma(_, log = false)),
    f1("graft_lgamma", "(x) - log-gamma function (Lanczos)")(GraftGamma(_, log = true)),
    f2("graft_gcd", "(a, b) - greatest common divisor")(GraftGcd(_, _, lcm = false)),
    f2("graft_lcm", "(a, b) - least common multiple")(GraftGcd(_, _, lcm = true)),
    f1("graft_nfc", "(s) - Unicode NFC normalization")(GraftNfcNormalize(_)),
    f1("graft_upper", "(s) - utf8proc simple-mapping uppercase")(GraftCaseMap(_, upper = true)),
    f1("graft_lower", "(s) - utf8proc simple-mapping lowercase")(GraftCaseMap(_, upper = false)),
    f1("graft_chr", "(n) - UTF-8 character of a codepoint")(GraftChr(_)),
    f1("graft_strip_accents", "(s) - NFD-decompose and drop combining marks")(
      GraftStripAccents(_)),
    fn("graft_printf", "(fmt, ...) - format_string with DECIMAL args cast to DOUBLE")(
      GraftPrintf(_)),
    f2("graft_age", "(end, start) - Postgres-style symbolic calendar difference")(GraftAge(_, _)),
    fn("graft_bar", "(x, min, max, width) - Unicode block bar")(GraftBar(_)),
    f1("graft_signbit", "(x) - IEEE 754 sign bit")(GraftSignbit(_)),
    f2("graft_nextafter", "(a, b) - next representable double toward b")(GraftNextAfter(_, _))
  ) ++
    // `SET strict_math = true` maps ln/log10/log2/sqrt/asin/acos here on the
    // parse tree: DuckDB's loud out-of-domain errors
    Seq("ln", "log10", "log2", "sqrt", "asin", "acos").map { kind =>
      f1(s"graft_strict_$kind", s"(x) - $kind with DuckDB's loud out-of-domain error")(
        StrictMathCheck(_, kind))
    } ++
    // DuckDB's byte-level text similarity (StringSimilarity). `levenshtein`
    // replaces Spark's code-point builtin (identical on ASCII); Spark's
    // 3-argument threshold form levenshtein(s1, s2, k) is not a DuckDB
    // spelling, and it delegates to Spark's builtin
    Seq("jaccard" -> "jaccard", "hamming" -> "hamming",
      "mismatches" -> "hamming", "jaro_similarity" -> "jaro",
      "jaro_winkler_similarity" -> "jaro_winkler",
      "damerau_levenshtein" -> "damerau_levenshtein",
      "levenshtein" -> "levenshtein", "editdist3" -> "levenshtein").map { case (name, kind) =>
      fn(name, "(a, b) - DuckDB byte-level text similarity") {
        case Seq(a, b, k) if name == "levenshtein" => Levenshtein(a, b, Some(k))
        case es => arity(name, 2, es); StringSimilarity(es(0), es(1), kind)
      }
    }
}
