package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Type-dispatched parity kernels surfaced by the round-13 differential
  * probe grid (scripts/probe_grid.py / ProbeGridSpec) — each exists
  * because DuckDB's behavior depends on the RESOLVED argument type, which
  * the text layer cannot see:
  *
  *  - [[GraftLen]]: DuckDB `len` counts characters of VARCHAR and elements
  *    of LIST/MAP; Spark's `len` is string-only.
  *  - [[GraftBitCount]]: DuckDB counts bits within the operand's own
  *    width (bit_count(-1::TINYINT) = 8); Spark sign-extends to LONG (=64).
  *  - [[GraftDateTrunc]]: DuckDB date_trunc returns DATE for DATE input
  *    truncated to day-or-coarser fields; Spark always returns TIMESTAMP.
  *  - [[GammaFn]] + registrations: gamma/lgamma have no Spark builtin
  *    (and commons-math is not on the classpath); Lanczos g=7 gives ~15
  *    significant digits — far inside the oracle's 6-dp comparison.
  */
case class GraftLen(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override lazy val replacement: Expression = child.dataType match {
    case _: StringType => Length(child)
    case BinaryType => Length(child) // bytes, like DuckDB's len(BLOB)
    case _: ArrayType | _: MapType => Size(child)
    case other => throw new IllegalArgumentException(
      s"len() needs a STRING, LIST or MAP operand, got ${other.simpleString}")
  }
}

case class GraftBitCount(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  private def masked(bits: Int): Expression =
    BitwiseCount(BitwiseAnd(Cast(child, LongType),
      Literal((1L << bits) - 1)))
  override lazy val replacement: Expression = child.dataType match {
    case ByteType => masked(8)
    case ShortType => masked(16)
    case IntegerType => masked(32)
    case LongType | BooleanType => BitwiseCount(child)
    case other => throw new IllegalArgumentException(
      s"bit_count() needs an integral operand, got ${other.simpleString}")
  }
}

case class GraftDateTrunc(format: Expression, child: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override def left: Expression = format
  override def right: Expression = child
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(format = newLeft, child = newRight)
  // DuckDB's full accepted alias set (probed exhaustively — 'epoch'
  // truncates to whole seconds, probed on a .123456 timestamp); any
  // spelling outside it must FAIL LOUDLY like DuckDB's Not-implemented
  // error, not fall through to TruncTimestamp's silent NULL
  private val canonical: Map[String, String] = {
    def m(c: String, sp: String*) = sp.map(_ -> c)
    (m("year", "year", "years", "yr", "yrs", "y") ++
      m("month", "month", "months", "mon", "mons") ++
      m("day", "day", "days", "d", "dayofmonth") ++
      m("week", "week", "weeks", "w", "weekofyear") ++
      m("quarter", "quarter", "quarters") ++
      m("hour", "hour", "hours", "hr", "hrs", "h") ++
      m("minute", "minute", "minutes", "min", "mins", "m") ++
      m("second", "second", "seconds", "sec", "secs", "s", "epoch") ++
      m("millisecond", "millisecond", "milliseconds", "ms", "msec", "msecs") ++
      m("microsecond", "microsecond", "microseconds", "us", "usec", "usecs") ++
      m("decade", "decade", "decades", "dec", "decs") ++
      m("century", "century", "centuries", "cent", "c") ++
      m("millennium", "millennium", "millenniums", "millennia", "mil", "mils") ++
      m("isoyear", "isoyear")).toMap
  }
  private val dateFields = Set("day", "week", "month", "quarter", "year",
    "decade", "century", "millennium", "isoyear")
  // floor-multiple year widths (probed: century(2000)=2000, century(2001)
  // =2000, decade(1987)=1980, millennium(1987)=1000)
  private val yearSpans = Map("decade" -> 10, "century" -> 100,
    "millennium" -> 1000)
  override lazy val replacement: Expression = {
    val f = format match {
      case Literal(s, _: StringType) if s != null =>
        canonical.getOrElse(s.toString.toLowerCase,
          throw new IllegalArgumentException(
            s"date_trunc: unrecognized field '$s'"))
      case other => throw new IllegalArgumentException(
        s"date_trunc field must be a string literal, got $other")
    }
    // TruncTimestamp / ts-casts are TimeZoneAware: the replacement is not
    // a plan child, so the analyzer's ResolveTimeZone never visits it —
    // the session zone must be bound here explicitly
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    def truncTs(e: Expression): Expression =
      TruncTimestamp(Literal(f), e, tz)
    // built after analysis, so no implicit cast runs on it: DATE and the
    // TIMESTAMP_NTZ that parquet naive timestamps read as must be cast to
    // the TIMESTAMP TruncTimestamp takes (the session is pinned to UTC, so
    // the NTZ cast keeps the wall clock)
    val ts = child.dataType match {
      case DateType | TimestampNTZType => Cast(child, TimestampType, tz)
      case _ => child
    }
    val asDate = Cast(ts, DateType, tz)
    f match {
      case span if yearSpans.contains(span) =>
        // Jan 1 of the floor multiple of the span width (built
        // post-analysis: coercions spelled out, IntegralDivide → LONG)
        val n = Literal(yearSpans(span).toLong)
        val yrs = Multiply(
          IntegralDivide(Cast(Year(asDate), LongType), n), n)
        MakeDate(Cast(yrs, IntegerType), Literal(1), Literal(1))
      case "isoyear" =>
        // Monday of the ISO week containing Jan 4 of the ISO year
        // (probed: isoyear(2021-01-01) = 2019-12-30)
        TruncDate(MakeDate(YearOfWeek(asDate), Literal(1), Literal(4)),
          Literal("week"))
      // DuckDB returns DATE for day-or-coarser fields REGARDLESS of the
      // input type (date_trunc('month', TIMESTAMP …) is a DATE); finer
      // fields return TIMESTAMP
      case d if dateFields(d) => Cast(truncTs(ts), DateType, tz)
      case _ => truncTs(ts)
    }
  }
}

/** TRY_CAST(e AS BOOLEAN) with DuckDB's VARCHAR acceptance set — exactly
  * {true, false, t, f, 1, 0} case-insensitively, NO whitespace trimming
  * (Spark additionally accepts y/yes/n/no and trims). Non-string inputs
  * keep Spark's TRY cast. Routed here by the dialect because literal
  * TRY_CASTs constant-fold before any optimizer-rule defense runs. */
case class GraftTryBool(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override lazy val replacement: Expression = child.dataType match {
    case _: StringType =>
      val low = Lower(child)
      def in(vals: String*): Expression =
        In(low, vals.map(v => Literal(v): Expression))
      CaseWhen(Seq(
        (in("true", "t", "1"), Literal(true)),
        (in("false", "f", "0"), Literal(false))),
        Literal(null, BooleanType))
    case _ =>
      TryEval(Cast(child, BooleanType, None, EvalMode.ANSI))
  }
}

/** Plain CAST(e AS BOOLEAN) with DuckDB's VARCHAR strictness: exactly
  * {true, false, t, f, 1, 0} case-insensitively, no trimming; anything
  * else ERRORS loudly with DuckDB's message (Spark's ANSI cast silently
  * accepts y/yes/n/no and trims — a value-vs-error divergence). NULL stays
  * NULL; non-string inputs keep Spark's cast. Routed by the engine's
  * parse-level hook (graftbridge.ParsedSql) because the operand type is
  * unknown in text. */
case class GraftCastBool(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override lazy val replacement: Expression = child.dataType match {
    case _: StringType =>
      val low = Lower(child)
      def in(vals: String*): Expression =
        In(low, vals.map(v => Literal(v): Expression))
      CaseWhen(Seq(
        (IsNull(child), Literal(null, BooleanType)),
        (in("true", "t", "1"), Literal(true)),
        (in("false", "f", "0"), Literal(false))),
        Cast(RaiseError(Concat(Seq(
          Literal("Conversion Error: Could not convert string '"),
          child, Literal("' to BOOL")))), BooleanType))
    case _ => Cast(child, BooleanType)
  }
}

/** Lanczos (g = 7, n = 9) gamma/log-gamma — the standard published
  * coefficients (Numerical Recipes / Boost's reference table). */
object GammaFn {
  private val C = Array(
    0.99999999999980993, 676.5203681218851, -1259.1392167224028,
    771.32342877765313, -176.61502916214059, 12.507343278686905,
    -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)

  def gamma(x: Double): Double =
    if (x.isNaN) Double.NaN
    else if (x < 0.5) math.Pi / (math.sin(math.Pi * x) * gamma(1.0 - x))
    else {
      val z = x - 1.0
      var a = C(0)
      val t = z + 7.5
      var i = 1
      while (i < 9) { a += C(i) / (z + i); i += 1 }
      math.sqrt(2.0 * math.Pi) * math.pow(t, z + 0.5) * math.exp(-t) * a
    }

  def lgamma(x: Double): Double =
    if (x.isNaN) Double.NaN
    else if (x < 0.5)
      math.log(math.Pi / math.abs(math.sin(math.Pi * x))) - lgamma(1.0 - x)
    else {
      val z = x - 1.0
      var a = C(0)
      val t = z + 7.5
      var i = 1
      while (i < 9) { a += C(i) / (z + i); i += 1 }
      0.5 * math.log(2.0 * math.Pi) + (z + 0.5) * math.log(t) - t + math.log(a)
    }
}

case class GraftGamma(child: Expression, log: Boolean)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override lazy val replacement: Expression =
    StaticInvoke(GammaFn.getClass, DoubleType,
      if (log) "lgamma" else "gamma",
      Seq(Cast(child, DoubleType)), Seq(DoubleType), returnNullable = false)
}
