package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Exception-free `TRY_CAST(string AS <integral>)`.
  *
  * Spark's TRY-mode cast routes string→integral through the THROWING parse
  * (`UTF8String.toIntExact` et al.) and catches the `NumberFormatException`
  * per failing row. Exception construction is microseconds per row, so a
  * column of non-numeric strings makes TRY_CAST ~10× slower than the scan
  * around it (measured: 1.75 s of a 1.9 s query at sf0.1 was two TRY_CASTs
  * over 150k rows) — at 100 TB that is the whole job. The exact variants are
  * the non-throwing `toLong(LongWrapper)`/`toInt(IntWrapper)` grammar
  * (trimmed whitespace, optional sign, digits, overflow → failure) minus
  * its one leniency, a decimal point and digits after it, which the
  * wrapper truncates ('1.5' → 1) and the exact parse rejects. So a string
  * with a '.' is NULL, and the rest parse through the wrapper API with
  * identical semantics and no exception allocated.
  *
  * [[TryParseIntegral]] is that wrapper parse as a codegen expression;
  * [[TryCastParseRule]] swaps it in for every resolved TRY-mode
  * string→integral `Cast` at optimization time (where child types are
  * known — the SQL-text layer cannot see types). TryParseSpec pins parity
  * with `try_cast` on the full probe matrix.
  */
case class TryParseIntegral(child: Expression, override val dataType: DataType)
    extends UnaryExpression {

  require(TryParseIntegral.targets.contains(dataType),
    s"TryParseIntegral supports integral targets only, got $dataType")

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case _: StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"TryParseIntegral needs STRING, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (TryParseIntegral.hasPoint(s)) return null
    dataType match {
      case LongType =>
        val w = new UTF8String.LongWrapper
        if (s.toLong(w)) w.value else null
      case IntegerType =>
        val w = new UTF8String.IntWrapper
        if (s.toInt(w)) w.value else null
      case ShortType =>
        val w = new UTF8String.IntWrapper
        if (s.toShort(w)) w.value.toShort else null
      case ByteType =>
        val w = new UTF8String.IntWrapper
        if (s.toByte(w)) w.value.toByte else null
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (wrapperCls, parseFun, coerce) = dataType match {
      case LongType => ("org.apache.spark.unsafe.types.UTF8String.LongWrapper", "toLong", "")
      case IntegerType => ("org.apache.spark.unsafe.types.UTF8String.IntWrapper", "toInt", "")
      case ShortType => ("org.apache.spark.unsafe.types.UTF8String.IntWrapper", "toShort", "(short) ")
      case ByteType => ("org.apache.spark.unsafe.types.UTF8String.IntWrapper", "toByte", "(byte) ")
    }
    // one wrapper per expression instance, reused across rows (no per-row
    // allocation; the parse itself is allocation- and exception-free)
    val wrapper = ctx.addMutableState(wrapperCls, "tryParseWrapper",
      v => s"$v = new $wrapperCls();")
    nullSafeCodeGen(ctx, ev, s => s"""
      if (!graft.functions.TryParseIntegral.hasPoint($s) && $s.$parseFun($wrapper)) {
        ${ev.value} = $coerce$wrapper.value;
      } else {
        ${ev.isNull} = true;
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TryParseIntegral {
  val targets: Set[DataType] = Set(LongType, IntegerType, ShortType, ByteType)

  private val Point = UTF8String.fromString(".")

  def hasPoint(s: UTF8String): Boolean = s.contains(Point)
}

/** Cheap necessary-condition check for "this string could parse as a
  * number": skip leading control/space bytes (≤ 0x20 — exactly what
  * `String.trim` inside Spark's numeric parsers strips), then test the
  * first significant byte against the characters a successful parse can
  * start with (`[+-.0-9]`, plus `[iInN]` for the floating grammar's
  * inf/nan spellings). For a DECIMAL target the string's ASCII prefix
  * must follow BigDecimal's whole grammar, so digit-leading garbage
  * ('1-URGENT') fails too. A failing check proves the real parser would
  * throw — so the caller can emit NULL without constructing the
  * exception. A passing check proves nothing; the caller falls through
  * to the real parser (exact semantics by construction). */
case class NumericParseable(child: Expression, floating: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def nullSafeEval(input: Any): Any =
    NumericParseable.plausible(input.asInstanceOf[UTF8String], floating)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.NumericParseable.plausible($s, $floating);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NumericParseable {
  def plausible(s: UTF8String, floating: Boolean): Boolean = {
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length && (bytes(i) & 0xff) <= 0x20) i += 1
    if (i == bytes.length) return false
    // a non-ASCII byte where the check stops is plausible: BigDecimal
    // accepts Unicode digits (Character.digit — '٤٢' parses to 42), and
    // multibyte whitespace is not trimmed by the parsers' String.trim;
    // both cases must reach the real parser for exact semantics.
    if (!floating) return decimalShaped(bytes, i)
    val b = bytes(i)
    (b & 0xff) >= 0x80 ||
      (b >= '0' && b <= '9') || b == '+' || b == '-' || b == '.' ||
      b == 'i' || b == 'I' || b == 'n' || b == 'N'
  }

  /** `bytes` from `from` on, before trailing bytes ≤ 0x20, spell
    * `[+-]digits[.digits][(e|E)[+-]digits]` with at least one significand
    * digit — BigDecimal's grammar — or stray from it first at a non-ASCII
    * byte. */
  private def decimalShaped(bytes: Array[Byte], from: Int): Boolean = {
    var end = bytes.length
    while ((bytes(end - 1) & 0xff) <= 0x20) end -= 1
    var i = from
    def sign(): Unit = if (i < end && (bytes(i) == '+' || bytes(i) == '-')) i += 1
    def digits(): Int = {
      val start = i
      while (i < end && bytes(i) >= '0' && bytes(i) <= '9') i += 1
      i - start
    }
    sign()
    var n = digits()
    if (i < end && bytes(i) == '.') { i += 1; n += digits() }
    var ok = n > 0
    if (ok && i < end && (bytes(i) == 'e' || bytes(i) == 'E')) { i += 1; sign(); ok = digits() > 0 }
    ok && i == end || i < end && bytes(i) < 0
  }
}

/** Optimizer rule: a resolved TRY-mode cast from STRING to an integral
  * type becomes the exception-free [[TryParseIntegral]], and one to
  * DECIMAL/DOUBLE/FLOAT parses only strings that could be numbers; the
  * values are Spark's try_cast's. Runs in the user-rule batch (after the
  * main optimizer), so pushdown/pruning decisions are unaffected; every
  * engine session gets it.
  *
  * DATE/TIMESTAMP targets are NOT rewritten: Spark 4.1's string→datetime
  * casts already parse with no per-row exception (measured on a 4M-row
  * half-garbage probe: all-garbage TRY_CAST-to-DATE 0.17 s ≈ all-valid
  * 0.21 s, where the pre-rule integral path took 4.1 s). */
object TryCastParseRule extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{EvalMode, If, Literal, TryEval}

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case c: Cast if c.isTryCast && c.child.resolved &&
          c.child.dataType.isInstanceOf[StringType] &&
          TryParseIntegral.targets.contains(c.dataType) =>
        TryParseIntegral(c.child, c.dataType)

      // decimal/double/float have no exception-free parser in Spark
      // (Decimal.fromString and the double path catch internally), so
      // guard the throwing parse behind the byte-scan necessary condition:
      // strings that cannot possibly parse return NULL without an
      // exception; plausible ones take the original TRY semantics.
      // TryEval(ANSI cast) == TRY-mode cast, and — unlike a TRY Cast —
      // cannot re-match this rule, so the fixed-point converges.
      case c: Cast if c.isTryCast && c.child.resolved &&
          c.child.dataType.isInstanceOf[StringType] &&
          (c.dataType.isInstanceOf[DecimalType] ||
            c.dataType == DoubleType || c.dataType == FloatType) =>
        val floating = c.dataType == DoubleType || c.dataType == FloatType
        If(NumericParseable(c.child, floating),
          TryEval(Cast(c.child, c.dataType, c.timeZoneId, EvalMode.ANSI)),
          Literal(null, c.dataType))
    }
}
