package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types._

/** DuckDB bracket-slice semantics over strings AND lists — `'hello'[2:4]`,
  * `l[2:]`, `text[-3:-1]` (reference: duckdb docs/sql/functions/char +
  * list; behavior pinned empirically on DuckDB 1.0):
  *
  *   - 1-based, both ends INCLUSIVE; open ends default to 1 / length
  *     (the dialect layer emits 2147483647 for an open upper bound);
  *   - negative index i resolves to len + i + 1 (count from the end);
  *   - after resolution lo clamps to ≥ 1, hi to ≤ len; lo > hi yields the
  *     EMPTY string/list (never NULL); NULL input yields NULL.
  *
  * The dialect layer cannot know the operand's type from text, so the
  * string-vs-array dispatch lives here: a [[RuntimeReplaceable]] that
  * expands to Spark's own Substring/Slice (inheriting their codegen) once
  * the child is resolved. It backs both the BRACKET syntax and the
  * `list_slice(...)` spelling (DialectFunctions), whose DuckDB semantics
  * include negatives and clamping.
  */
case class GraftSlice(e: Expression, lo: Expression, hi: Expression)
    extends RuntimeReplaceable with TernaryLike[Expression] {

  override def first: Expression = e
  override def second: Expression = lo
  override def third: Expression = hi

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(e = newFirst, lo = newSecond, hi = newThird)

  override lazy val replacement: Expression = {
    val len: Expression = e.dataType match {
      case _: StringType => Length(e)
      case _: ArrayType => Size(e)
      case other => throw new IllegalArgumentException(
        s"slice brackets need a STRING or ARRAY operand, got ${other.simpleString}")
    }
    def resolveIdx(x: Expression): Expression = {
      val xi = Cast(x, IntegerType)
      If(LessThan(xi, Literal(0)), Add(Add(len, xi), Literal(1)), xi)
    }
    val lo1 = Greatest(Seq(Literal(1), resolveIdx(lo)))
    val hi1 = Least(Seq(len, resolveIdx(hi)))
    val n = Greatest(Seq(Literal(0), Add(Subtract(hi1, lo1), Literal(1))))
    e.dataType match {
      case _: StringType => Substring(e, lo1, n)
      case _ => Slice(e, lo1, n)
    }
  }
}
