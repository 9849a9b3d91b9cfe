package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.CalendarInterval

/** `graft_exclude('ties')`: the key the dialect text
  * ([[graft.dialect.WindowExclude]]) puts at the head of a window's
  * PARTITION BY in place of a frame `EXCLUDE CURRENT ROW | TIES | GROUP`
  * clause, which Spark's grammar lacks; a second argument `'groups'`
  * records a GROUPS frame unit the text spelled as ROWS. It is a key of the
  * spec, so named-window substitution and stored view text carry it as
  * they carry any key, and it is foldable, so window extraction leaves it
  * in the Window node's partition spec, where [[WindowExcludeRule]] reads
  * and removes it. Evaluating it is an error. */
final case class WindowExclusion(kind: String, groups: Boolean)
    extends LeafExpression with CodegenFallback {
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def dataType: DataType = StringType
  override def prettyName: String = WindowExclusion.Name
  override def sql: String =
    s"${WindowExclusion.Name}('$kind'${if (groups) ", 'groups'" else ""})"
  override def eval(input: InternalRow): Any = throw new WindowExcludeUnsupported(
    s"$sql reached execution: frame EXCLUDE is planned by graft.functions." +
      "WindowExcludeRule, which graft.GraftExtensions installs")
}

object WindowExclusion {
  val Name = "graft_exclude"
  val Kinds = Set("current row", "ties", "group")

  /** Puts the key into Spark's builtin registry, which every session's is
    * cloned from (once: a repeated registration replaces it and warns). */
  lazy val registerBuiltin: Unit =
    org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(Name),
      new ExpressionInfo(classOf[WindowExclusion].getName, null, Name,
        s"$Name(kind[, 'groups']) - frame EXCLUDE key of a window spec (planned, never evaluated)",
        "", "", "", "", "", "", "built-in"),
      build _)

  def build(args: Seq[Expression]): WindowExclusion = {
    def str(e: Expression) = e match {
      case Literal(v, StringType) if v != null => Some(v.toString)
      case _ => None
    }
    args.map(str) match {
      case Seq(Some(k)) if Kinds(k) => WindowExclusion(k, groups = false)
      case Seq(Some(k), Some("groups")) if Kinds(k) => WindowExclusion(k, groups = true)
      case _ => throw new IllegalArgumentException(
        s"$Name takes one of ${Kinds.mkString("'", "', '", "'")} and optionally 'groups'")
    }
  }
}

/** A frame exclusion this engine does not plan: the statement fails at
  * analysis with this error, naming the window. */
final class WindowExcludeUnsupported(msg: String) extends UnsupportedOperationException(msg)

/** Frame exclusion (SQL:2016 T620; duckdb docs/sql/functions/window), planned
  * on the resolved Window nodes that carry a [[WindowExclusion]] key. Each
  * excluded window becomes ordinary Spark windows combined per aggregate
  * (NULL = the aggregate of an empty frame in both engines), and a Project
  * restores the node's output, attribute for attribute, so nothing the
  * decomposition adds leaks. An avg arrives as a sum and a count
  * ([[WindowExcludeAvg]]). The rule sees the rows the windows range over —
  * after grouping, HAVING, set-operation branches or a QUALIFY wrap — and the
  * analyzer's own attributes, so no statement shape needs special handling.
  *
  * A select's windows arrive as one stack of Window nodes, one per spec; the
  * rule rewrites a stack that carries a key as a whole, into one Project of
  * window expressions (the stack's plain windows included, so everything
  * regroups by spec as the analyzer's window extraction does) over, when
  * needed, one Project of per-spec helpers:
  *
  *  - EXCLUDE CURRENT ROW, ROWS: the frame splits around the current row,
  *    `[a, 1 PRECEDING]` ⊕ `[1 FOLLOWING, b]`; sum adds nullable halves,
  *    count adds, min/max take least/greatest skipping NULL halves.
  *    first/last_value keep the
  *    frame's value unless the frame starts (ends) at the current row, where
  *    the neighbouring half answers; with IGNORE NULLS the halves compose by
  *    coalesce. A whole-partition frame spells sum/count as total − self.
  *    A ROWS piece whose upper bound is UNBOUNDED FOLLOWING is the one frame
  *    Spark recomputes per row (O(n²) per partition), so those pieces move
  *    to the sequence-reversed ordering — all of one call's pieces on one
  *    ordering, or rows tied on every key could be counted twice or not at
  *    all.
  *  - RANGE frames (CURRENT ROW, or TIES/GROUP with sum/count): frame −
  *    peer group [+ self for TIES], or frame − self for CURRENT ROW; every
  *    RANGE frame holds the whole peer group. `[CUR, UNB]` is total − prefix
  *    (+ peers − self), and `[k PRECEDING, UNB]` runs on the reversed
  *    single-key ordering as `[UNB, k FOLLOWING]`.
  *  - TIES/GROUP otherwise: a `dense_rank` helper per (partition, order)
  *    under the stack; "before the peer group" and "after it" are the ASC
  *    and DESC integer-RANGE frames `[UNB, 1 PRECEDING]` over that rank
  *    (incremental in Spark). GROUPS offsets are rank units, `[k PRECEDING,
  *    1 PRECEDING]`; ROWS offsets cut peer groups, so each piece is a prefix
  *    difference over a `row_number` helper, guarded when the offset stays
  *    inside the peer group. When every TIES/GROUP call of the stack is a
  *    RANGE sum/count the subtract form spares the helper; otherwise
  *    only RANGE offsets take it, and the rest share the helper's pieces.
  *
  * Loud, with [[WindowExcludeUnsupported]]: non-aggregate window functions,
  * DISTINCT calls, min/max over ROWS or RANGE k-offsets (neither a
  * difference nor a value range can cut the peer group out of them), TIES/
  * GROUP without ORDER BY, RANGE offsets whose reversal needs more than one
  * key, CURRENT ROW over GROUPS frames, and frames that lie wholly on one
  * side of the current row.
  *
  * DOUBLE sums accumulate in another order than a native exclusion would,
  * so oracle queries round to the data's scale (q103's discipline). */
object WindowExcludeRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithPruning(_.containsPattern(TreePattern.WINDOW)) {
      case w: Window if stack(w).exists(marker(_).isDefined) && stack(w).forall(_.resolved) =>
        rewrite(stack(w))
    }

  /** A Window and the Windows stacked directly beneath it, top first. */
  private def stack(w: Window): List[Window] = w.child match {
    case c: Window => w :: stack(c)
    case _ => List(w)
  }

  private def marker(w: Window): Option[WindowExclusion] =
    w.partitionSpec.collectFirst { case m: WindowExclusion => m }

  private def fail(msg: String): Nothing = throw new WindowExcludeUnsupported(msg)

  // ------------------------------------------------------------ the calls

  private sealed trait Bound
  private case object Unb extends Bound
  private case object Cur extends Bound
  /** `k PRECEDING` as a start or `k FOLLOWING` as an end, `e` as the frame
    * spells it (a negative value for PRECEDING). */
  private final case class Off(e: Expression) extends Bound {
    def k: Int = math.abs(e.eval().asInstanceOf[Int])
  }

  private sealed trait FrameMode
  private case object Rows extends FrameMode
  private case object Range extends FrameMode
  private case object Groups extends FrameMode

  /** One excluded window: `f` over (`part`, `order`) with frame bounds
    * `lo`/`hi` in `mode`, excluding `kind`. */
  private final case class Call(alias: Alias, f: AggregateFunction,
      part: Seq[Expression], order: Seq[SortOrder], mode: FrameMode, lo: Bound,
      hi: Bound, kind: String) {
    def hasOffset: Boolean = lo.isInstanceOf[Off] || hi.isInstanceOf[Off]
    def name: String = f match {
      case _: Sum => "sum"
      case _: Count => "count"
      case _: Min => "min"
      case _: Max => "max"
      case _: First => "first"
      case _: Last => "last"
      case _ => f.prettyName
    }
    def x: Expression = f.children.head
    /** count of this call's argument: count(*) stays count(*). */
    def count: AggregateFunction = f match {
      case c: Count => c
      case _ => Count(Seq(x))
    }
    def baseKey: (Seq[Expression], Seq[Expression]) =
      (part.map(_.canonicalized), order.map(_.canonicalized))
    def describe: String = alias.child.sql
  }

  /** The sign of a foldable frame offset, None when it has none. */
  private def sign(e: Expression): Option[Int] =
    if (!e.foldable) None
    else scala.util.Try(e.eval()).toOption.flatMap {
      case n: java.lang.Number => Some(math.signum(n.doubleValue).toInt)
      case d: Decimal => Some(d.toJavaBigDecimal.signum)
      case ci: CalendarInterval =>
        val s = Seq(ci.months.toLong, ci.days.toLong, ci.microseconds).map(java.lang.Long.signum)
          .filter(_ != 0).distinct
        if (s.size <= 1) Some(s.headOption.getOrElse(0)) else None
      case _ => None
    }

  private def parse(ne: NamedExpression, m: WindowExclusion): Call = ne match {
    case a @ Alias(WindowExpression(ae: AggregateExpression, spec: WindowSpecDefinition), _) =>
      def here = a.child.sql
      if (ae.isDistinct) fail(s"frame EXCLUDE over a DISTINCT aggregate is not supported: $here")
      val frame = spec.frameSpecification match {
        case f: SpecifiedWindowFrame => f
        case _ => fail(s"frame EXCLUDE without a resolved frame: $here")
      }
      val mode = frame.frameType match {
        case RowFrame => if (m.groups) Groups else Rows
        case RangeFrame => Range
      }
      val lo = frame.lower match {
        case UnboundedPreceding => Unb
        case CurrentRow => Cur
        case e => sign(e) match {
          case Some(-1) => Off(e)
          case Some(0) => Cur
          case _ => fail(s"frame EXCLUDE over a frame that starts after the current row: $here")
        }
      }
      val hi = frame.upper match {
        case UnboundedFollowing => Unb
        case CurrentRow => Cur
        case e => sign(e) match {
          case Some(1) => Off(e)
          case Some(0) => Cur
          case _ => fail(s"frame EXCLUDE over a frame that ends before the current row: $here")
        }
      }
      val call = Call(a, ae.aggregateFunction,
        spec.partitionSpec.filterNot(_.isInstanceOf[WindowExclusion]), spec.orderSpec,
        mode, lo, hi, m.kind)
      val aggs = Set("sum", "count", "min", "max")
      m.kind match {
        case "current row" =>
          if (mode == Groups) fail(s"EXCLUDE CURRENT ROW over a GROUPS frame is not supported: $here")
          if (!aggs(call.name) && !(mode == Rows && (call.name == "first" || call.name == "last")))
            fail(s"EXCLUDE CURRENT ROW supports sum/count/avg/min/max" +
              s" (first_value/last_value over ROWS frames): $here")
        case _ =>
          if (!aggs(call.name))
            fail(s"EXCLUDE ${m.kind.toUpperCase} supports sum/count/avg/min/max: $here")
          if (spec.orderSpec.isEmpty)
            fail(s"EXCLUDE ${m.kind.toUpperCase} needs an ORDER BY to define peers: $here")
          if (call.hasOffset && mode != Groups && (call.name == "min" || call.name == "max"))
            fail(s"EXCLUDE ${m.kind.toUpperCase} over a ${mode.toString.toUpperCase} frame with" +
              s" a k-offset bound cannot be planned for min/max: $here")
      }
      call
    case other =>
      fail(s"frame EXCLUDE applies to aggregate window functions, not ${other.sql}")
  }

  // ------------------------------------------------------ expression kit

  private def over(f: AggregateFunction, part: Seq[Expression], order: Seq[SortOrder],
      frame: WindowFrame): Expression =
    WindowExpression(AggregateExpression(f, Complete, isDistinct = false),
      WindowSpecDefinition(part, order, frame))
  private def rows(lo: Expression, hi: Expression) = SpecifiedWindowFrame(RowFrame, lo, hi)
  private def range(lo: Expression, hi: Expression) = SpecifiedWindowFrame(RangeFrame, lo, hi)
  private def pre(k: Int): Expression = Literal(-k)
  private def fol(k: Int): Expression = Literal(k)
  private val Null: Expression = Literal(null)
  private val Zero: Expression = Literal(0)

  private def addNullable(a: Expression, b: Expression): Expression =
    CaseWhen(Seq(And(IsNull(a), IsNull(b)) -> Null),
      Add(Coalesce(Seq(a, Zero)), Coalesce(Seq(b, Zero))))
  private def extremum(pick: Seq[Expression] => Expression)(a: Expression, b: Expression) =
    CaseWhen(Seq(IsNull(a) -> b, IsNull(b) -> a), pick(Seq(a, b)))
  /** 1 when the current row enters the call's count, else 0. */
  private def selfCount(c: Call): Expression = {
    val args = c.count.children
    if (args.forall(!_.nullable)) Literal(1)
    else CaseWhen(Seq(args.map(IsNull(_): Expression).reduce(Or) -> Zero), Literal(1))
  }
  private def selfValue(c: Call): Expression = Coalesce(Seq(c.x, Zero))

  /** The sequence-reversed ordering: every key flips direction and null
    * placement, so row positions reverse. */
  private def flip(o: SortOrder): SortOrder = o.copy(
    direction = if (o.direction == Ascending) Descending else Ascending,
    nullOrdering = if (o.nullOrdering == NullsLast) NullsFirst else NullsLast)
  private def mirror(f: AggregateFunction): AggregateFunction = f match {
    case First(e, ignoreNulls) => Last(e, ignoreNulls)
    case Last(e, ignoreNulls) => First(e, ignoreNulls)
    case other => other
  }
  private def negate(e: Expression): Expression = e match {
    case UnaryMinus(x, _) => x
    case other => UnaryMinus(other)
  }

  // ------------------------------------------------- EXCLUDE CURRENT ROW

  private def excludeCurrentRow(c: Call): Expression = c.mode match {
    case Range => subtract(c, keepSelf = false, exclCur = true).getOrElse(
      fail(s"EXCLUDE CURRENT ROW over a RANGE frame supports sum/count/avg" +
        s" (and one ORDER BY key for a k PRECEDING start): ${c.describe}"))
    case _ => splitRows(c)
  }

  private def splitRows(c: Call): Expression = {
    val (part, order) = (c.part, c.order)
    val (loCur, hiCur) = (c.lo == Cur, c.hi == Cur)
    val (loUnb, hiUnb) = (c.lo == Unb, c.hi == Unb)
    if (loUnb && hiUnb && Set("sum", "count")(c.name)) {
      val whole = rows(UnboundedPreceding, UnboundedFollowing)
      val cntRem = Subtract(over(c.count, part, order, whole), selfCount(c))
      def sumRem = CaseWhen(Seq(GreaterThan(cntRem, Zero) ->
        Subtract(Coalesce(Seq(over(Sum(c.x), part, order, whole), Zero)), selfValue(c))), Null)
      return if (c.name == "count") cntRem else sumRem
    }
    val k = c.lo match { case o: Off => o.k; case _ => 0 }
    val loB = c.lo match { case Unb => UnboundedPreceding; case Cur => CurrentRow; case _ => pre(k) }
    val hiB = c.hi match { case Unb => UnboundedFollowing; case o: Off => fol(o.k); case _ => CurrentRow }
    val flipped = order.map(flip)
    val useFlip = hiUnb && !loUnb && order.nonEmpty
    type Piece = AggregateFunction => Expression
    val l: Option[Piece] =
      if (loCur) None
      else if (useFlip) Some(f => over(mirror(f), part, flipped, rows(fol(1), fol(k))))
      else Some(f => over(f, part, order, rows(loB, pre(1))))
    val r: Option[Piece] =
      if (hiCur) None
      else if (useFlip) Some(f => over(mirror(f), part, flipped, rows(UnboundedPreceding, pre(1))))
      else Some(f => over(f, part, order, rows(fol(1), hiB)))
    def full(f: AggregateFunction): Expression =
      if (!useFlip) over(f, part, order, rows(loB, hiB))
      else over(mirror(f), part, flipped,
        rows(UnboundedPreceding, if (loCur) CurrentRow else fol(k)))
    def combine(f: AggregateFunction, empty: Expression,
        plus: (Expression, Expression) => Expression): Expression = (l, r) match {
      case (Some(lf), Some(rf)) => plus(lf(f), rf(f))
      case (Some(lf), None) => lf(f)
      case (None, Some(rf)) => rf(f)
      case (None, None) => empty
    }
    val countStar = Count(Seq(Literal(1)))
    c.f match {
      case _: Sum => combine(Sum(c.x), Null, addNullable)
      case _: Count => combine(c.count, Zero, Add(_, _))
      case _: Min => combine(Min(c.x), Null, extremum(Least(_)))
      case _: Max => combine(Max(c.x), Null, extremum(Greatest(_)))
      // IGNORE NULLS: the remainder's first non-null is the earlier half's,
      // else the later half's
      case f @ First(_, true) =>
        (l.map(_(f)) ++ r.map(_(f))).toSeq match {
          case Seq() => Literal(null, c.alias.dataType)
          case Seq(one) => one
          case both => Coalesce(both)
        }
      case f @ Last(_, true) =>
        (r.map(_(f)) ++ l.map(_(f))).toSeq match {
          case Seq() => Literal(null, c.alias.dataType)
          case Seq(one) => one
          case both => Coalesce(both)
        }
      // the current row displaces the frame's first (last) value only when
      // the frame has no rows before (after) it
      case f: First =>
        CaseWhen(Seq(GreaterThan(l.map(_(countStar)).getOrElse(Zero), Zero) -> full(f)),
          r.map(_(f)).getOrElse(Null))
      case f: Last =>
        CaseWhen(Seq(GreaterThan(r.map(_(countStar)).getOrElse(Zero), Zero) -> full(f)),
          l.map(_(f)).getOrElse(Null))
    }
  }

  // -------------------------------------------------------- subtract path

  /** RANGE frames: frame − peer group (+ self when `keepSelf`), or frame −
    * self when `exclCur`; sum/count/avg only. Every window keeps an
    * incremental frame: no UNBOUNDED FOLLOWING upper bound survives. None
    * when the reversal a `[k PRECEDING, UNB]` frame needs has more than one
    * key, or for other aggregates. */
  private def subtract(c: Call, keepSelf: Boolean, exclCur: Boolean): Option[Expression] = {
    if (!Set("sum", "count")(c.name)) return None
    val self1 = selfCount(c)
    val selfSum = selfValue(c)
    type Win = AggregateFunction => Expression
    def win(order: Seq[SortOrder], frame: WindowFrame): Win = f => over(f, c.part, order, frame)
    def counted(order: Seq[SortOrder], frame: WindowFrame): (Expression, Expression) =
      (win(order, frame)(c.count), Coalesce(Seq(win(order, frame)(Sum(c.x)), Zero)))
    val peers = range(CurrentRow, CurrentRow)
    val whole = range(UnboundedPreceding, UnboundedFollowing)
    val prefix = range(UnboundedPreceding, CurrentRow)
    def sub(order: Seq[SortOrder]) = if (exclCur) (self1, selfSum) else counted(order, peers)
    val picked: Option[(Win, (Expression, Expression))] = (c.lo, c.hi) match {
      case (Unb, Unb) => Some((win(c.order, whole), sub(c.order)))
      case (Cur, Unb) if exclCur =>
        // frame − self = total − prefix + peers − self, on one ordering
        val (pC, pS) = counted(c.order, prefix)
        val (gC, gS) = counted(c.order, peers)
        Some((win(c.order, whole), (Add(Subtract(pC, gC), self1), Add(Subtract(pS, gS), selfSum))))
      case (Cur, Unb) => Some((win(c.order, whole), counted(c.order, prefix)))
      case (Off(e), Unb) =>
        if (c.order.size != 1) None
        else {
          val back = c.order.map(flip)
          Some((win(back, range(UnboundedPreceding, negate(e))), sub(back)))
        }
      case (lo, hi) =>
        val frame = range(lo match { case Unb => UnboundedPreceding; case Off(e) => e; case _ => CurrentRow },
          hi match { case Unb => UnboundedFollowing; case Off(e) => e; case _ => CurrentRow })
        Some((win(c.order, frame), sub(c.order)))
    }
    picked.map { case (winA, (subCnt, subSum)) =>
      val cntRem = Add(Subtract(winA(c.count), subCnt), if (keepSelf) self1 else Zero)
      def sumRem = CaseWhen(Seq(GreaterThan(cntRem, Zero) -> Add(Subtract(
        Coalesce(Seq(winA(Sum(c.x)), Zero)), subSum), if (keepSelf) selfSum else Zero)), Null)
      if (c.name == "count") cntRem else sumRem
    }
  }

  // ----------------------------------------------------------- rank path

  /** A `dense_rank` (and, for ROWS offsets, `row_number`) over one call
    * base, computed beneath the stack. */
  private final class Helper(n: Int, part: Seq[Expression], order: Seq[SortOrder]) {
    private def rank(f: Expression, name: String) = Alias(WindowExpression(f,
      WindowSpecDefinition(part, order, SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))),
      name)()
    val dr: Alias = rank(DenseRank(order.map(_.child)), s"__graft_dr$n")
    val rn: Alias = rank(RowNumber(), s"__graft_rn$n")
    var needRn = false
  }

  private def rankPieces(c: Call, h: Helper): Expression = {
    val part = c.part
    val keepSelf = c.kind == "ties"
    val (dr, rn) = (h.dr.toAttribute, h.rn.toAttribute)
    def byDr(asc: Boolean) =
      Seq(if (asc) SortOrder(dr, Ascending, NullsLast, Seq.empty) else SortOrder(dr, Descending))
    def byRn(asc: Boolean) =
      Seq(if (asc) SortOrder(rn, Ascending, NullsLast, Seq.empty) else SortOrder(rn, Descending))
    // rows strictly before (asc) or after (desc) the peer group
    def outside(f: AggregateFunction, asc: Boolean) =
      over(f, part, byDr(asc), range(UnboundedPreceding, pre(1)))
    if (c.hasOffset && c.mode == Rows) {
      // each piece [cur−k, ps−1] = prefix(ps−1) − prefix(cur−k−1), mirrored
      // DESC; empty when the offset stays inside the current peer group
      def peerWin(f: AggregateFunction) = over(f, part, byDr(true), range(CurrentRow, CurrentRow))
      val peersBefore = Subtract(rn, peerWin(Min(rn)))
      val peersAfter = Subtract(peerWin(Max(rn)), rn)
      def upTo(f: AggregateFunction, asc: Boolean, skip: Int) =
        over(f, part, byRn(asc), rows(UnboundedPreceding, pre(skip)))
      def piece(b: Bound, asc: Boolean, whole: Expression, upToK: Int => Expression) = b match {
        case Cur => Zero
        case Unb => whole
        case o: Off =>
          CaseWhen(Seq(GreaterThan(Literal(o.k), if (asc) peersBefore else peersAfter) ->
            Subtract(whole, upToK(o.k))), Zero)
      }
      def cntPiece(b: Bound, asc: Boolean) =
        piece(b, asc, outside(c.count, asc), k => upTo(c.count, asc, k + 1))
      def sumPiece(b: Bound, asc: Boolean) = piece(b, asc,
        Coalesce(Seq(outside(Sum(c.x), asc), Zero)),
        k => Coalesce(Seq(upTo(Sum(c.x), asc, k + 1), Zero)))
      val cnt = Add(Add(cntPiece(c.lo, asc = true), cntPiece(c.hi, asc = false)),
        if (keepSelf) selfCount(c) else Zero)
      def sum = CaseWhen(Seq(GreaterThan(cnt, Zero) -> Add(Add(sumPiece(c.lo, asc = true),
        sumPiece(c.hi, asc = false)), if (keepSelf) selfValue(c) else Zero)), Null)
      if (c.name == "count") cnt else sum
    } else {
      // UNBOUNDED/CURRENT bounds agree in every mode once the peer group is
      // out; a GROUPS offset is k rank units
      def piece(b: Bound, asc: Boolean): Option[AggregateFunction => Expression] = b match {
        case Cur => None
        case Unb => Some(f => outside(f, asc))
        case o: Off => Some(f => over(f, part, byDr(asc), range(pre(o.k), pre(1))))
      }
      val (left, right) = (piece(c.lo, asc = true), piece(c.hi, asc = false))
      def parts(f: AggregateFunction, self: Expression): Seq[Expression] =
        left.map(_(f)).toSeq ++ right.map(_(f)) ++ (if (keepSelf) Seq(self) else Nil)
      def fold(ps: Seq[Expression], empty: Expression,
          plus: (Expression, Expression) => Expression) =
        if (ps.isEmpty) empty else ps.reduce(plus)
      def sum = fold(parts(Sum(c.x), c.x), Null, addNullable)
      def cnt = fold(parts(c.count, selfCount(c)), Zero, Add(_, _))
      c.name match {
        case "sum" => sum
        case "count" => cnt
        case "min" => fold(parts(Min(c.x), c.x), Null, extremum(Least(_)))
        case _ => fold(parts(Max(c.x), c.x), Null, extremum(Greatest(_)))
      }
    }
  }

  // ------------------------------------------------------------- rewrite

  private def rewrite(nodes: List[Window]): LogicalPlan = {
    val base = nodes.last.child
    val bottomUp = nodes.reverse
    val calls = bottomUp.flatMap(w => marker(w).toSeq.flatMap(m => w.windowExpressions.map(parse(_, m))))
    val plain = bottomUp.filter(marker(_).isEmpty).flatMap(_.windowExpressions)
      .map(ne => ne.exprId -> ne).toMap
    val peerCalls = calls.filter(_.kind != "current row")
    def subtractable(c: Call) = c.mode == Range && Set("sum", "count")(c.name)
    // the helper is built for min/max or ROWS/GROUPS frames anyway; sharing
    // its pieces is cheaper than a third window family (q103: 1.17 s vs
    // 1.6 s at sf0.1), so then only RANGE offsets, which it cannot express,
    // take the subtract form
    val helperNeeded = peerCalls.exists(!subtractable(_))
    val viaSubtract = peerCalls.filter(c => subtractable(c) && (!helperNeeded || c.hasOffset)).toSet
    val helpers = scala.collection.mutable.LinkedHashMap.empty[Any, Helper]
    peerCalls.filterNot(viaSubtract).foreach { c =>
      val h = helpers.getOrElseUpdate(c.baseKey, new Helper(helpers.size + 1, c.part, c.order))
      h.needRn ||= c.mode == Rows && c.hasOffset
    }
    val replaced = calls.map { c =>
      c.alias.exprId -> (c.kind match {
        case "current row" => excludeCurrentRow(c)
        case _ if viaSubtract(c) => subtract(c, keepSelf = c.kind == "ties", exclCur = false)
          .getOrElse(fail(s"EXCLUDE ${c.kind.toUpperCase} over a k PRECEDING .. UNBOUNDED" +
            s" FOLLOWING RANGE frame needs one ORDER BY key: ${c.describe}"))
        case _ => rankPieces(c, helpers(c.baseKey))
      })
    }.toMap
    val below =
      if (helpers.isEmpty) base
      else Project(base.output ++ helpers.values.flatMap(h =>
        h.dr +: (if (h.needRn) Seq(h.rn) else Nil)), base)
    Project(nodes.head.output.map { a =>
      replaced.get(a.exprId) match {
        case Some(e) => Alias(Cast(e, a.dataType), a.name)(a.exprId, a.qualifier)
        case None => plain.getOrElse(a.exprId, a)
      }
    }, below)
  }
}

/** An avg under a frame EXCLUDE key is DuckDB's DOUBLE quotient of the
  * remaining rows' sum and count, `CAST(sum(x) OVER s AS DOUBLE) /
  * nullif(count(x) OVER s, 0)`, for every argument type (Spark's avg of a
  * DECIMAL is a DECIMAL). It is spelled so in the analyzer's hint batch,
  * ahead of resolution, so that the window's type is DOUBLE from the start;
  * [[WindowExcludeRule]] then plans the sum and the count. The batch also
  * runs on a stored view's body when the view is read. */
object WindowExcludeAvg extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction

  private def named(f: UnresolvedFunction, names: String*): Boolean =
    f.nameParts.length == 1 && names.exists(_.equalsIgnoreCase(f.nameParts.head))

  private def keyed(spec: WindowSpecDefinition): Boolean = spec.partitionSpec.exists {
    case f: UnresolvedFunction => named(f, WindowExclusion.Name)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveExpressions {
    case WindowExpression(f: UnresolvedFunction, spec: WindowSpecDefinition)
        if named(f, "avg", "mean") && f.arguments.length == 1 && !f.isDistinct && keyed(spec) =>
      def over(name: String) = WindowExpression(f.copy(nameParts = Seq(name)), spec)
      Divide(Cast(over("sum"), DoubleType),
        UnresolvedFunction("nullif", Seq(over("count"), Literal(0)), isDistinct = false))
  }
}
