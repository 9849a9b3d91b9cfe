package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Standard Spark extension entry point: make the engine's native
  * expressions available in ANY session via
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions           // spark-submit conf
  * SparkSession.builder().withExtensions(new GraftExtensions) // programmatic
  * }}}
  *
  * This is the idiomatic packaging for cluster deployments (the imperative
  * `graft.functions.registerAll` path remains for driver-side sessions the
  * engine builds itself). Injected functions are resolved by Catalyst like
  * built-ins — usable from SQL text on every executor with codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private def arity(name: String, n: Int)(es: Seq[Expression]): Seq[Expression] = {
    require(es.length == n, s"$name requires $n argument(s), got ${es.length}")
    es
  }

  private def constLong(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Optimizer rules (TryCastParseRule / ExactQuantileRule /
    // QuantileFallbackRule / RangeWindowGroupRule) must land in the
    // END-position "User Provided Optimizers" batch, NOT the operator-
    // optimization batch injectOptimizerRule feeds: at operator-batch
    // position their stitched output is re-chewed by the standard rules
    // and the marker-eliminator can outrun the histogram stitch
    // (round 15: windowed entropy over an all-NULL partition folded to
    // NULL). injectPostHocResolutionRule is the one hook that receives
    // the session, so the rules are appended to experimental
    // .extraOptimizations exactly like graft.functions.registerAll does;
    // the hook itself is a pass-through on the plan and the append is
    // idempotent.
    ext.injectPostHocResolutionRule { session =>
      new org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
        override val ruleName = "graft.EnsureOptimizerRules"
        override def apply(
            plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
            : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
          functions.ensureOptimizerRules(session)
          plan
        }
      }
    }
    // interval comparisons Spark can't resolve (CalendarIntervalType /
    // cross-family) → exact normalized compare (months=30 d, day=24 h)
    ext.injectResolutionRule(_ => functions.IntervalCompareRule)
    // frame EXCLUDE: the dialect text leaves a graft_exclude key in the
    // window's PARTITION BY, and the rule plans it on the resolved Window
    // nodes, ahead of DistinctFilterWindowRule (which must not stitch a
    // keyed window) and of CheckAnalysis. The key is registered with
    // Spark's builtins, which every session's registry is cloned from:
    // a persisted view stores the key in its text, and Spark refuses a
    // persisted view that names a session (temporary) function; it is
    // registered once per JVM
    functions.WindowExclusion.registerBuiltin
    ext.injectResolutionRule(_ => functions.WindowExcludeRule)
    // ahead of resolution (the hint batch, which also runs on a stored
    // view's body): an EXCLUDE avg is spelled as its DOUBLE sum / count, and
    // a window FILTER folds into the argument, since window extraction
    // rejects it before any resolution rule runs
    ext.injectHintResolutionRule(_ => functions.WindowExcludeAvg)
    ext.injectHintResolutionRule(_ => functions.WindowFilterFold)
    // DISTINCT/FILTER window aggregates over whole-partition frames must
    // stitch BEFORE CheckAnalysis rejects them (duck accepts them for
    // every aggregate; Spark's check fires ahead of all optimizer rules)
    ext.injectResolutionRule(_ => functions.DistinctFilterWindowRule)
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two numeric arrays"),
      es => { arity("vec_dot", 2)(es); functions.VecDot(es(0), es(1)) }))
    ext.injectFunction((FunctionIdentifier("vec_norm"),
      info("vec_norm", "vec_norm(a) - L2 norm of a numeric array"),
      es => { arity("vec_norm", 1)(es); functions.VecNorm(es.head) }))
    ext.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two numeric arrays"),
      es => { arity("vec_cosine", 2)(es); functions.VecCosine(es(0), es(1)) }))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(hashes) - 64-bit SimHash of an ARRAY<BIGINT>"),
      es => { arity("simhash64", 1)(es); functions.SimHash64(es.head) }))
    ext.injectFunction((FunctionIdentifier("graft_polyhash"),
      info("graft_polyhash", "graft_polyhash(s, mult, mod) - portable polynomial code-point hash"),
      es => {
        arity("graft_polyhash", 3)(es)
        functions.PolyHash(es.head, constLong(es(1), "mult"), constLong(es(2), "mod"))
      }))
    ext.injectFunction((FunctionIdentifier("vec_sum"),
      info("vec_sum", "vec_sum(a) - element-wise vector sum aggregate"),
      es => { arity("vec_sum", 1)(es); functions.VecSumAgg(es.head) }))
    ext.injectFunction((FunctionIdentifier("regexp_replace_first"),
      info("regexp_replace_first",
        "regexp_replace_first(s, re, rep) - replace the FIRST regex match (DuckDB regexp_replace default)"),
      es => { arity("regexp_replace_first", 3)(es)
        functions.RegexpReplaceFirst(es(0), es(1), es(2)) }))
    ext.injectFunction((FunctionIdentifier("graft_slice"),
      info("graft_slice",
        "graft_slice(e, lo, hi) - DuckDB bracket slice (1-based inclusive, negatives from end) over STRING or ARRAY"),
      es => { arity("graft_slice", 3)(es)
        functions.GraftSlice(es(0), es(1), es(2)) }))
    ext.injectFunction((FunctionIdentifier("graft_extract"),
      info("graft_extract",
        "graft_extract(e, i) - DuckDB bracket extraction over STRING (char), ARRAY or MAP (element_at)"),
      es => { arity("graft_extract", 2)(es)
        functions.GraftExtract(es(0), es(1)) }))
    ext.injectFunction((FunctionIdentifier("graft_icast"),
      info("graft_icast",
        "graft_icast(e, 'int') - DuckDB numeric-to-integer CAST (rounds: half-even from float, half-away from decimal/string)"),
      es => { arity("graft_icast", 2)(es)
        functions.GraftIntCast(es(0), functions.icastTarget(es(1))) }))
    Seq("jaccard" -> "jaccard", "hamming" -> "hamming",
      "mismatches" -> "hamming", "jaro_similarity" -> "jaro",
      "jaro_winkler_similarity" -> "jaro_winkler",
      "damerau_levenshtein" -> "damerau_levenshtein",
      // replaces Spark's code-point builtin: the engine surface promises
      // DuckDB's byte-level semantics (identical on ASCII)
      "levenshtein" -> "levenshtein",
      "editdist3" -> "levenshtein").foreach { case (name, kind) =>
      ext.injectFunction((FunctionIdentifier(name),
        info(name, s"$name(a, b) - DuckDB byte-level text similarity"),
        es => { arity(name, 2)(es); functions.StringSimilarity(es(0), es(1), kind) }))
    }
    // DuckDB-parity quantile family (QuantileAggs.scala): quantile_disc
    // keeps the input type, median is DECIMAL-discrete, quantile_cont is
    // DECIMAL-truncating; `median`/`quantile_cont` intentionally replace
    // the builtins (DuckDB-identical on non-DECIMAL inputs)
    def qArgs(name: String)(es: Seq[Expression]): (Expression, Expression) = {
      require(es.length == 1 || es.length == 2,
        s"$name requires 1 or 2 arguments, got ${es.length}")
      (es.head, if (es.length == 2) es(1) else Literal(0.5))
    }
    for (name <- Seq("quantile_disc", "quantile"))
      ext.injectFunction((FunctionIdentifier(name),
        info(name, s"$name(x[, q]) - DuckDB discrete quantile (type-preserving; q defaults to 0.5)"),
        es => { val (x, q) = qArgs(name)(es); functions.GraftQuantileDisc(x, q) }))
    ext.injectFunction((FunctionIdentifier("entropy"),
      info("entropy", "entropy(x) - Shannon entropy (log2) of the value distribution"),
      es => { arity("entropy", 1)(es); functions.GraftEntropy(es.head) }))
    ext.injectFunction((FunctionIdentifier("median"),
      info("median", "median(x) - DuckDB median (DECIMAL inputs are discrete and keep their type)"),
      es => { arity("median", 1)(es); functions.GraftMedian(es.head) }))
    ext.injectFunction((FunctionIdentifier("quantile_cont"),
      info("quantile_cont", "quantile_cont(x[, q]) - DuckDB interpolated quantile (DECIMAL inputs truncate at their scale)"),
      es => { val (x, q) = qArgs("quantile_cont")(es); functions.GraftQuantileCont(x, q) }))
    ext.injectFunction((FunctionIdentifier("graft_len"),
      info("graft_len", "graft_len(e) - DuckDB len over STRING, LIST or MAP"),
      es => { arity("graft_len", 1)(es); functions.GraftLen(es.head) }))
    ext.injectFunction((FunctionIdentifier("graft_bit_count"),
      info("graft_bit_count", "graft_bit_count(x) - bit count within the operand's own width"),
      es => { arity("graft_bit_count", 1)(es); functions.GraftBitCount(es.head) }))
    ext.injectFunction((FunctionIdentifier("graft_date_trunc"),
      info("graft_date_trunc", "graft_date_trunc(field, x) - DuckDB date_trunc (DATE stays DATE at day-or-coarser)"),
      es => { arity("graft_date_trunc", 2)(es); functions.GraftDateTrunc(es(0), es(1)) }))
    ext.injectFunction((FunctionIdentifier("graft_gamma"),
      info("graft_gamma", "graft_gamma(x) - gamma function (Lanczos)"),
      es => { arity("graft_gamma", 1)(es); functions.GraftGamma(es.head, log = false) }))
    ext.injectFunction((FunctionIdentifier("graft_lgamma"),
      info("graft_lgamma", "graft_lgamma(x) - log-gamma function (Lanczos)"),
      es => { arity("graft_lgamma", 1)(es); functions.GraftGamma(es.head, log = true) }))
    ext.injectFunction((FunctionIdentifier("graft_cast_bool"),
      info("graft_cast_bool", "graft_cast_bool(e) - CAST to BOOLEAN with DuckDB's strict VARCHAR set"),
      es => { arity("graft_cast_bool", 1)(es); functions.GraftCastBool(es.head) }))
    ext.injectFunction((FunctionIdentifier("graft_gcd"),
      info("graft_gcd", "graft_gcd(a, b) - greatest common divisor"),
      es => { arity("graft_gcd", 2)(es); functions.GraftGcd(es(0), es(1), lcm = false) }))
    ext.injectFunction((FunctionIdentifier("graft_lcm"),
      info("graft_lcm", "graft_lcm(a, b) - least common multiple"),
      es => { arity("graft_lcm", 2)(es); functions.GraftGcd(es(0), es(1), lcm = true) }))
    ext.injectFunction((FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(s) - Unicode NFC normalization"),
      es => { arity("graft_nfc", 1)(es); functions.GraftNfcNormalize(es.head) }))
    ext.injectFunction((FunctionIdentifier("graft_upper"),
      info("graft_upper", "graft_upper(s) - utf8proc simple-mapping uppercase"),
      es => { arity("graft_upper", 1)(es); functions.GraftCaseMap(es.head, upper = true) }))
    ext.injectFunction((FunctionIdentifier("graft_lower"),
      info("graft_lower", "graft_lower(s) - utf8proc simple-mapping lowercase"),
      es => { arity("graft_lower", 1)(es); functions.GraftCaseMap(es.head, upper = false) }))
    ext.injectFunction((FunctionIdentifier("graft_try_bool"),
      info("graft_try_bool", "graft_try_bool(e) - TRY_CAST to BOOLEAN with DuckDB's accepted strings"),
      es => { arity("graft_try_bool", 1)(es); functions.GraftTryBool(es.head) }))
    ext.injectFunction((FunctionIdentifier("graft_fdiv"),
      info("graft_fdiv",
        "graft_fdiv(a, b) - DuckDB // division (integral truncating; DOUBLE when either operand is fractional)"),
      es => { arity("graft_fdiv", 2)(es); functions.GraftFloorDiv(es(0), es(1)) }))
    ext.injectFunction((FunctionIdentifier("graft_sub"),
      info("graft_sub",
        "graft_sub(a, b) - infix minus with DuckDB's type dispatch (DATE - DATE is BIGINT days)"),
      es => { arity("graft_sub", 2)(es); functions.GraftSub(es(0), es(1)) }))
    ext.injectFunction((FunctionIdentifier("graft_datepart"),
      info("graft_datepart",
        "graft_datepart(field, e) - date_part/extract with DuckDB's INTERVAL component semantics and DOUBLE epoch"),
      es => { arity("graft_datepart", 2)(es); functions.GraftDatePart(es(0), es(1)) }))
    ext.injectFunction((FunctionIdentifier("graft_add"),
      info("graft_add",
        "graft_add(a, b) - infix plus with DuckDB's type dispatch (DATE + INTERVAL is TIMESTAMP)"),
      es => { arity("graft_add", 2)(es); functions.GraftAdd(es(0), es(1)) }))
    ext.injectFunction((FunctionIdentifier("graft_chr"),
      info("graft_chr", "graft_chr(n) - UTF-8 character of a codepoint"),
      es => { arity("graft_chr", 1)(es); functions.GraftChr(es.head) }))
    ext.injectFunction((FunctionIdentifier("graft_strip_accents"),
      info("graft_strip_accents",
        "graft_strip_accents(s) - NFD-decompose and drop combining marks"),
      es => { arity("graft_strip_accents", 1)(es); functions.GraftStripAccents(es.head) }))
    ext.injectFunction((FunctionIdentifier("graft_printf"),
      info("graft_printf",
        "graft_printf(fmt, ...) - format_string with DECIMAL args cast to DOUBLE"),
      es => functions.GraftPrintf(es)))
    ext.injectFunction((FunctionIdentifier("graft_age"),
      info("graft_age",
        "graft_age(end, start) - Postgres-style symbolic calendar difference"),
      es => { arity("graft_age", 2)(es); functions.GraftAge(es(0), es(1)) }))
    ext.injectFunction((FunctionIdentifier("graft_bar"),
      info("graft_bar", "graft_bar(x, min, max, width) - Unicode block bar"),
      es => functions.GraftBar(es)))
    ext.injectFunction((FunctionIdentifier("graft_signbit"),
      info("graft_signbit", "graft_signbit(x) - IEEE 754 sign bit"),
      es => { arity("graft_signbit", 1)(es); functions.GraftSignbit(es.head) }))
    ext.injectFunction((FunctionIdentifier("graft_nextafter"),
      info("graft_nextafter", "graft_nextafter(a, b) - next representable double toward b"),
      es => { arity("graft_nextafter", 2)(es); functions.GraftNextAfter(es(0), es(1)) }))
    for (kind <- Seq("ln", "log10", "log2", "sqrt", "asin", "acos"))
      ext.injectFunction((FunctionIdentifier(s"graft_strict_$kind"),
        info(s"graft_strict_$kind",
          s"graft_strict_$kind(x) - $kind with DuckDB's loud out-of-domain error"),
        es => { arity(s"graft_strict_$kind", 1)(es)
          functions.StrictMathCheck(es.head, kind) }))
  }
}
