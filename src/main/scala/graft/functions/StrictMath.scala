package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Strict-math kernels behind the engine's `strict_math` option: DuckDB
  * errors LOUDLY on out-of-domain math where Spark yields NULL/NaN —
  *
  *   ln/log10/log2 of 0   → "Out of Range Error: cannot take logarithm of zero"
  *   ln/log10/log2 of < 0 → "… of a negative number"
  *   sqrt of < 0          → "… cannot take square root of a negative number"
  *   asin/acos outside [-1,1] → "Invalid Input Error: ASIN/ACOS is
  *                               undefined outside [-1,1]"
  *
  * (messages probed verbatim on duckdb 1.0.0; power/exp do NOT error there
  * — they produce nan/inf — so they are deliberately not wrapped). The
  * default stays Spark-lenient; `SET strict_math = true` on an engine
  * connection maps the six function names to these kernels on the parse
  * tree (`dialect/DialectFunctions`), same opt-in philosophy as the strict
  * prepared-statement binder. NULL inputs stay NULL (the guards are
  * three-valued, so a NULL never trips an error). */
case class StrictMathCheck(child: Expression, kind: String)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  private def err(msg: String): Expression =
    Cast(RaiseError(Literal(msg)), DoubleType)

  override lazy val replacement: Expression = {
    val x = Cast(child, DoubleType)
    kind match {
      case "ln" | "log10" | "log2" =>
        val fn: Expression = kind match {
          case "ln" => Log(x)
          case "log10" => Log10(x)
          case "log2" => Log2(x)
        }
        CaseWhen(Seq(
          (EqualTo(x, Literal(0.0)),
            err("Out of Range Error: cannot take logarithm of zero")),
          (LessThan(x, Literal(0.0)),
            err("Out of Range Error: cannot take logarithm of a negative number"))),
          fn)
      case "sqrt" =>
        CaseWhen(Seq(
          (LessThan(x, Literal(0.0)),
            err("Out of Range Error: cannot take square root of a negative number"))),
          Sqrt(x))
      case "asin" | "acos" =>
        val fn: Expression = if (kind == "asin") Asin(x) else Acos(x)
        CaseWhen(Seq(
          (GreaterThan(Abs(x), Literal(1.0)),
            err(s"Invalid Input Error: ${kind.toUpperCase} is undefined outside [-1,1]"))),
          fn)
      case other =>
        throw new IllegalArgumentException(s"unknown strict-math kind: $other")
    }
  }
}
