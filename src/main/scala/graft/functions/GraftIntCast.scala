package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** DuckDB's numeric→integer CAST ROUNDS where Spark's truncates — and the
  * rounding mode depends on the SOURCE type (pinned empirically on 1.0):
  *
  *   - DOUBLE/FLOAT → int: round HALF-EVEN (2.5→2, 3.5→4, -2.5→-2) —
  *     C's rint, Spark's `rint`;
  *   - DECIMAL → int: round HALF-AWAY (2.5→3, -2.5→-3) — Spark's
  *     Round(x, 0) (BigDecimal HALF_UP = away from zero);
  *   - VARCHAR → int: parsed as a decimal, then HALF-AWAY ('2.5'→3,
  *     '-2.5'→-3, '1e3'→1000);
  *   - everything else (integrals, booleans, dates): plain Cast.
  *
  * Every cast runs in `evalMode`, the parsed cast's: a TRY_CAST is NULL
  * where a string does not parse or the rounded value does not fit, as in
  * DuckDB, and a plain CAST fails there as Spark's does under ANSI.
  *
  * The statement path's parse-tree hook (graftbridge.ParsedSql) builds
  * this for every CAST, `::` and TRY_CAST to TINYINT, SMALLINT, INT or
  * BIGINT the user wrote; the type dispatch must happen after resolution.
  * Its SQL is the cast's own, so an unaliased column keeps the cast's
  * name. */
case class GraftIntCast(child: Expression, to: DataType, evalMode: EvalMode.Value)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  private def cast(e: Expression, t: DataType) = Cast(e, t, None, evalMode)

  override lazy val replacement: Expression = child.dataType match {
    case DoubleType | FloatType => cast(Rint(cast(child, DoubleType)), to)
    case _: DecimalType => cast(Round(child, Literal(0)), to)
    case _: StringType => cast(Round(cast(child, DecimalType(38, 15)), Literal(0)), to)
    case _ => plain
  }

  override def dataType: DataType = to

  /** The parsed cast: Spark's truncating one. */
  def plain: Cast = cast(child, to)

  override def sql: String = plain.sql

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
