package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{Cross, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, HintInfo, Join, JoinHint, LogicalPlan, Project, Window, BROADCAST}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** DuckDB's exact-quantile aggregate family with DuckDB's TYPE semantics —
  * Spark's builtins agree on the selection math but not on types:
  *
  *  - `quantile_disc(x, q)` (alias `quantile`): the discrete quantile — the
  *    element at 1-based sorted index max(1, ceil(q·n)) (differentially
  *    probed against duckdb 1.0.0 over a (n × q) grid: identical to SQL
  *    PERCENTILE_DISC). DuckDB PRESERVES THE INPUT TYPE (INT→INT,
  *    DECIMAL→DECIMAL, DATE→DATE, VARCHAR→VARCHAR) and supports any
  *    orderable input; Spark's `percentile_disc` casts to DOUBLE and only
  *    takes numerics, hence this native family. A list-typed q returns a
  *    list. Reference surface: duckdb quantile_disc/quantile
  *    (aggregate_function catalog; wasm exposes it through RunQuery).
  *  - `median(x)`: DuckDB interpolates for non-DECIMAL numerics (= Spark's
  *    `median`) but is DISCRETE-LOWER for DECIMAL inputs, keeping the
  *    DECIMAL type (probed: median of DECIMALs [1,4] = 1, not 2.5).
  *  - `quantile_cont(x, q)`: interpolated; for DECIMAL inputs DuckDB
  *    computes lo + (hi−lo)·frac in DOUBLE over the UNSCALED values and
  *    truncates the exact result TOWARD ZERO back to the input scale
  *    (probed: 200 randomized (n, scale, q) trials, 0 mismatches — plain
  *    rounding and increment-truncation both fail on negatives).
  *
  * These are resolution-time MARKERS: they carry DuckDB's type contract
  * through analysis and are ALWAYS eliminated in the optimizer —
  * [[ExactQuantileRule]] rewrites them into the scale-safe histogram +
  * conditional-min shape (no data-sized buffer; the discrete statistic is
  * the lower-straddle min the rule already computes), and
  * [[QuantileFallbackRule]] rewrites whatever that rule bailed on into a
  * collect_list composite (exact, but per-group-sized state — the same
  * memory class as Spark's own Percentile buffer, acceptable only as the
  * correctness fallback). WINDOW position is supported too (round 14):
  * whole-partition frames stitch the aggregate-position histogram back
  * under the window; other frames ride the windowed composite — see
  * [[QuantileFallbackRule.rewriteWindow]]. A marker that survives to
  * physical planning throws loudly.
  */
abstract class QuantileMarker extends DeclarativeAggregate {
  protected def funcName: String

  override def nullable: Boolean = true
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Nil
  private def unplanned: Nothing = throw new IllegalStateException(
    s"$funcName must be rewritten by the graft optimizer rules before " +
      "execution (aggregate and window position are supported). Was " +
      "this session built with graft.GraftExtensions (or given to an " +
      "Engine as its existingSession)?")
  override lazy val initialValues: Seq[Expression] = unplanned
  override lazy val updateExpressions: Seq[Expression] = unplanned
  override lazy val mergeExpressions: Seq[Expression] = unplanned
  override lazy val evaluateExpression: Expression = unplanned
}

object QuantileMarker {
  /** Coerce the user's percentage spelling (0.5 parses as DECIMAL(1,1);
    * [0.25, 0.5] as ARRAY<DECIMAL>) to DOUBLE / ARRAY<DOUBLE> and fold it
    * — the markers skip ImplicitCastInputTypes (AbstractDataType is
    * private[sql]), so the coercion lives here. */
  def foldedPercentage(e: Expression): Expression = {
    val n = e.dataType match {
      case DoubleType | ArrayType(DoubleType, _) => e
      case ArrayType(_, _) => Cast(e, ArrayType(DoubleType))
      case _ => Cast(e, DoubleType)
    }
    if (n.foldable && !n.isInstanceOf[Literal])
      Literal.create(n.eval(), n.dataType)
    else n
  }

  /** The q-list of a (constant-folded) percentage argument: scalar double
    * → (Seq(q), isArray=false); array<double> literal → (qs, true). */
  def percentages(e: Expression): Option[(Seq[Double], Boolean)] = e match {
    case Literal(q: Double, DoubleType) if q >= 0.0 && q <= 1.0 =>
      Some((Seq(q), false))
    case Literal(arr: ArrayData, ArrayType(DoubleType, _))
        if arr.numElements() > 0 &&
          (0 until arr.numElements()).forall(i => !arr.isNullAt(i)) &&
          arr.toDoubleArray().forall(q => q >= 0.0 && q <= 1.0) =>
      Some((arr.toDoubleArray().toSeq, true))
    case _ => None
  }

  /** Percentage argument check shared by the markers: foldable, coercible
    * to double or array<double>, non-null, in [0, 1]. */
  def checkPercentage(funcName: String, e: Expression): TypeCheckResult =
    if (!e.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$funcName quantile position must be a constant, got ${e.sql}")
    else scala.util.Try(percentages(foldedPercentage(e))).toOption.flatten match {
      case Some(_) => TypeCheckResult.TypeCheckSuccess
      case None => TypeCheckResult.TypeCheckFailure(
        s"$funcName quantile position must be a non-null DOUBLE or " +
          s"LIST(DOUBLE) within [0, 1], got ${e.sql}")
    }
}

/** `quantile_disc(x, q)` / `quantile(x, q)` — see [[QuantileMarker]]. */
case class GraftQuantileDisc(child: Expression, percentageExpression: Expression)
    extends QuantileMarker {
  override protected def funcName: String = "quantile_disc"
  override def children: Seq[Expression] = Seq(child, percentageExpression)
  override def checkInputDataTypes(): TypeCheckResult =
    if (!RowOrdering.isOrderable(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"quantile_disc input must be orderable, got ${child.dataType.sql}")
    else QuantileMarker.checkPercentage("quantile_disc", percentageExpression)
  override def dataType: DataType = percentageExpression.dataType match {
    case ArrayType(_, _) => ArrayType(child.dataType, containsNull = true)
    case _ => child.dataType
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), percentageExpression = newChildren(1))
}

/** `median(x)` with DuckDB's type semantics — see [[QuantileMarker]].
  * Non-DECIMAL numerics interpolate (Spark-identical); DECIMAL and
  * VARCHAR are discrete-lower keeping the input type (probed: median of
  * ['a','b','c','d'] = 'b' — the quantile_disc(0.5) selection rule);
  * DATE/TIMESTAMP interpolate in epoch-microsecond space and return
  * TIMESTAMP (probed: median of two adjacent dates is the midnight+12h
  * TIMESTAMP). */
case class GraftMedian(child: Expression) extends QuantileMarker {
  override protected def funcName: String = "median"
  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType | NullType | _: StringType | DateType |
        TimestampType | TimestampNTZType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"median needs a numeric, string or date/timestamp input, got ${other.sql}")
  }
  override def dataType: DataType = child.dataType match {
    case d: DecimalType => d
    case s: StringType => s
    case DateType | TimestampType => TimestampType
    case TimestampNTZType => TimestampNTZType
    case _ => DoubleType
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** `quantile_cont(x, q)` with DuckDB's DECIMAL truncated-interpolation —
  * see [[QuantileMarker]]. Non-DECIMAL numerics = Spark's `percentile`.
  * DECIMAL up to precision 18 interpolates over long-backed unscaled
  * values; wider decimals use DuckDB's own probed arithmetic — the
  * unscaled hugeint cast to DOUBLE (midpoint of 10^30 and 10^30+3 comes
  * back as double(10^30): DuckDB loses the low bits too, so the
  * BigInteger→double kernel is exact parity, not an approximation).
  * DATE/TIMESTAMP interpolate in epoch-microsecond space → TIMESTAMP. */
case class GraftQuantileCont(child: Expression, percentageExpression: Expression)
    extends QuantileMarker {
  override protected def funcName: String = "quantile_cont"
  override def children: Seq[Expression] = Seq(child, percentageExpression)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType | NullType | DateType | TimestampType |
        TimestampNTZType =>
      QuantileMarker.checkPercentage("quantile_cont", percentageExpression)
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantile_cont needs a numeric or date/timestamp input, got ${other.sql}")
  }
  override def dataType: DataType = {
    val elem = child.dataType match {
      case d: DecimalType => d
      case DateType | TimestampType => TimestampType
      case TimestampNTZType => TimestampNTZType
      case _ => DoubleType
    }
    percentageExpression.dataType match {
      case ArrayType(_, _) => ArrayType(elem, containsNull = true)
      case _ => elem
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), percentageExpression = newChildren(1))
}

/** `entropy(x)` — Shannon entropy (log₂) of the VALUE DISTRIBUTION:
  * H = log₂(n) − (Σ c_v·log₂ c_v)/n over per-distinct-value counts c_v.
  * DuckDB ships it (docs/sql/functions/aggregates); Spark has no
  * counterpart because the state is a value→count map. The engine's
  * scale path is the (group, value) histogram + two plain aggregations
  * (ExactQuantileRule — NO window, NO data-sized buffer); the fallback
  * composite computes the same from a collected list (O(d·n) per group,
  * correctness-only). NULLs are skipped like every aggregate; an
  * empty/all-NULL group is NULL. */
case class GraftEntropy(child: Expression) extends QuantileMarker {
  override protected def funcName: String = "entropy"
  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrdering.isOrderable(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"entropy input must be groupable, got ${child.dataType.sql}")
  override def dataType: DataType = DoubleType
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** The always-on correctness fallback for [[QuantileMarker]]s that
  * [[ExactQuantileRule]] bailed on (nondeterministic child, grouping sets,
  * disabled rewrite, …): rewrite each marker AggregateExpression — in
  * aggregate position — into a composite over builtins:
  *
  *   sorted = sort_array(collect_list(x))   n = count(x)
  *   disc   = element_at(sorted, max(1, ceil(q·n)))
  *   cont   = interpolate straddle elements (DECIMAL: truncated unscaled)
  *
  * collect_list carries the marker's DISTINCT/FILTER unchanged; count uses
  * the same pair so the index and the array always agree. Per-group state
  * is data-sized — the documented fallback trade. */
object QuantileFallbackRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val rewritten = plan.transformUp {
      case agg @ Aggregate(_, aggExprs, _, _)
          if aggExprs.exists(_.exists {
            case ae: AggregateExpression =>
              ae.aggregateFunction.isInstanceOf[QuantileMarker]
            case _ => false
          }) =>
        agg.copy(aggregateExpressions = aggExprs.map { ne =>
          ne.transformUp {
            case ae: AggregateExpression
                if ae.aggregateFunction.isInstanceOf[QuantileMarker] =>
              rewriteMarker(ae)
          }.asInstanceOf[NamedExpression]
        })
      case w @ Window(wexprs, _, _, _, _)
          if wexprs.exists(_.exists {
            case WindowExpression(ae: AggregateExpression, _) =>
              ae.aggregateFunction.isInstanceOf[QuantileMarker]
            case _ => false
          }) =>
        rewriteWindow(w)
    }
    // a marker anywhere else has no rewrite — fail the query loudly
    // instead of letting physical planning produce a cryptic error (or
    // worse, a silent wrong answer). The Aggregate emitted by
    // rewriteWindow's whole-frame path legitimately still carries markers
    // here: ExactQuantileRule (ordered first in the same fixed-point
    // batch) rewrites it into the histogram shape on the next iteration.
    rewritten.foreach { node =>
      node match {
        case _: Aggregate => // handled above / next iteration
        case other => other.expressions.foreach(_.foreach {
          case m: QuantileMarker => throw new UnsupportedOperationException(
            s"${m.prettyName} is supported in aggregate and window " +
              "position only; it cannot appear here")
          case _ =>
        })
      }
    }
    rewritten
  }

  private val broadcastRight = JoinHint(None, Some(HintInfo(Some(BROADCAST))))

  /** The grouped whole-frame stitch joins ONE ROW PER WINDOW PARTITION
    * back onto the stream. Spark's size estimate for an Aggregate is its
    * child's size, so the planner picks SortMergeJoin — shuffling and
    * sorting the FULL STREAM once per stitch on the window partition key
    * (q117 paid 4 stream exchanges; q135's key has 3 distinct values, so
    * its two SMJs also collapsed the stream into 3-task sorts). Hint the
    * aggregate side broadcast instead: the stream flows shuffle-free into
    * the join and pays only the Window's own exchange (guide §2.4/§3.1).
    *
    * Scale gate: the relation is one row per window partition — broadcast
    * is right until partition COUNT approaches the broadcast cap, where a
    * whole-partition window is itself degenerate. The hint honors the
    * session's broadcast switch (`autoBroadcastJoinThreshold = -1` keeps
    * the old SMJ plan). */
  private[functions] def stitchJoinHint: JoinHint =
    if (org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold > 0) broadcastRight
    else JoinHint.NONE

  private def deterministicTree(plan: LogicalPlan): Boolean =
    !plan.exists(_.expressions.exists(e => !e.deterministic))

  /** Quantile markers in WINDOW position (DuckDB accepts every aggregate
    * as a window function). Two shapes:
    *
    *  - WHOLE-PARTITION frames (`median(x) OVER (PARTITION BY p)` — the
    *    no-ORDER-BY spelling resolves to ROWS UNBOUNDED⋯UNBOUNDED): the
    *    frame is the partition, so the statistic is computable ONCE per
    *    group — the marker moves to aggregate position grouped by the
    *    partition keys (where ExactQuantileRule gives it the scale-safe
    *    histogram shape, no data-sized buffer) and joins back under the
    *    window on null-safe key equality (window PARTITION BY groups
    *    NULLs together, so the join must too). The per-row
    *    sort-an-array-per-frame cost this avoids is quadratic in the
    *    partition size. An empty partition spec is the same stitch over
    *    a one-row aggregate (broadcast nested-loop, the
    *    ExactQuantileRule global shape).
    *  - any other frame (running / sliding): each marker becomes the
    *    [[rewriteMarker]] collect_list composite with every
    *    sub-aggregate windowed under the ORIGINAL spec — WindowExec
    *    patches scalar trees over window results, and collect_list /
    *    count ride Spark's frame machinery (incremental for prefix
    *    frames). Per-row frame state is data-sized — the same documented
    *    trade as the aggregate-position fallback, and what a per-frame
    *    exact quantile costs in any engine.
    */
  private def rewriteWindow(w: Window): LogicalPlan = {
    val Window(wexprs, partSpec, orderSpec, child, hint) = w
    // the whole-frame path scans the child twice (window side + group
    // side); a nondeterministic tree would disagree between scans, so it
    // keeps the single-scan composite
    val wholeOk = partSpec.forall(_.deterministic) && deterministicTree(child)
    def isWhole(spec: WindowSpecDefinition): Boolean =
      spec.frameSpecification match {
        case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) =>
          true
        case _ => false
      }
    val whole =
      scala.collection.mutable.LinkedHashMap.empty[Expression, Alias]
    val newWexprs = wexprs.map { ne =>
      ne.transformUp {
        case we @ WindowExpression(ae: AggregateExpression, spec)
            if ae.aggregateFunction.isInstanceOf[QuantileMarker] =>
          if (wholeOk && isWhole(spec)) {
            whole.getOrElseUpdate(we.canonicalized,
              Alias(ae, s"__wq${whole.size}")()).toAttribute
          } else {
            // ordered/sliding frames: the histogram window aggregate
            // (O(distinct) buffer, no per-row frame array) when the
            // marker shape supports it; the collect_list composite
            // otherwise (DISTINCT/FILTER, non-atomic types, unfoldable
            // percentage — the documented data-sized fallback)
            histForWindow(ae).getOrElse(rewriteMarker(ae)).transformUp {
              case sub: AggregateExpression => WindowExpression(sub, spec)
            }
          }
      }.asInstanceOf[NamedExpression]
    }
    val child2: LogicalPlan = if (whole.isEmpty) child else {
      val keyAliases = partSpec.zipWithIndex.map { case (k, i) =>
        Alias(k, s"__wqk$i")()
      }
      // Aggregate over the BARE child: when several marker windows stack
      // (grouped + global in one SELECT), this child already contains the
      // previous window's stitch — a Project-over-Join whose right side
      // is OUR "__wq*"-aliased Aggregate. Aggregating through it would
      // (a) recompute that stitch once more per quantile branch and
      // (b) put its SparkPartitionID-bearing histogram inside this
      // aggregate's subtree, failing ExactQuantileRule's deterministic-
      // tree guard and silently degrading THIS stitch to the collect_list
      // composite (found by q126's plan audit). Strip our own stitch
      // layers — they are row-preserving by construction (unique-key
      // LeftOuter / one-row Cross) — as long as this window's keys and
      // measures resolve against the stripped output.
      val aggChild = {
        def ourAgg(a: Aggregate): Boolean =
          a.aggregateExpressions.nonEmpty &&
            a.aggregateExpressions.forall(_.name.startsWith("__wq"))
        // peel our own wrap-Project chains and stitch joins only; any
        // node that is not ours is returned unchanged (eq), which stops
        // the peel — user Projects/Joins are never removed
        def strip(p: LogicalPlan): LogicalPlan = p match {
          case proj @ Project(_, inner) =>
            val s = strip(inner)
            if (s.eq(inner)) proj else s
          case Join(l, a: Aggregate, _, _, _) if ourAgg(a) => strip(l)
          case other => other
        }
        val s = strip(child)
        val needed = AttributeSet(
          partSpec.flatMap(_.references) ++
            whole.values.flatMap(_.references))
        if (s.ne(child) && needed.subsetOf(s.outputSet)) s else child
      }
      val aggSide =
        Aggregate(partSpec, keyAliases ++ whole.values.toSeq, aggChild)
      val joined =
        if (partSpec.isEmpty) Join(child, aggSide, Cross, None, broadcastRight)
        else Join(child, aggSide, LeftOuter,
          Some(partSpec.zip(keyAliases)
            .map { case (k, a) => EqualNullSafe(k, a.toAttribute): Expression }
            .reduce(And)),
          stitchJoinHint)
      // drop the helper join keys; keep the stitched marker columns
      Project(child.output ++ whole.values.map(_.toAttribute), joined)
    }
    val core: LogicalPlan =
      if (newWexprs.exists(_.exists(_.isInstanceOf[WindowExpression])))
        Window(newWexprs, partSpec, orderSpec, child2, hint)
      else Project(child2.output.filterNot(a =>
        whole.values.exists(_.exprId == a.exprId)) ++ newWexprs, child2)
    // parents resolve against the original Window output, unchanged
    Project(w.output, core)
  }

  private def ae(f: AggregateFunction, model: AggregateExpression): Expression =
    AggregateExpression(f, Complete, model.isDistinct, model.filter)

  /** Route an ordered/sliding-frame marker to [[WindowQuantileHist]] —
    * None keeps the collect_list composite. Numeric median/quantile_cont
    * ride the histogram too (round 17: Spark's Percentile keeps an
    * O(distinct) buffer but RE-SORTS it on every per-row window eval —
    * O(n·d log d) per partition, 566 s on a near-unique DOUBLE measure
    * over 3 partitions at sf0.1 where the AVL's O(log d) rank selection
    * class takes seconds; the ContNum mode reproduces Percentile's
    * weighted interpolation bit-for-bit). DATE / NTZ interpolation
    * aggregates in TimestampType and restores the declared output with
    * an outer Cast (sits above the WindowExpression). */
  private def histForWindow(model: AggregateExpression): Option[Expression] = {
    if (model.isDistinct || model.filter.nonEmpty) return None
    def atomic(dt: DataType): Boolean = dt match {
      case _: NumericType | _: StringType | DateType | TimestampType |
          TimestampNTZType | BooleanType => true
      case _ => false
    }
    def hist(x: Expression, mode: String, qs: Seq[Double],
        isArray: Boolean): Expression =
      AggregateExpression(WindowQuantileHist(x, mode, qs, isArray),
        Complete, isDistinct = false, None)
    def restore(e: Expression, declared: DataType): Expression =
      if (e.dataType == declared) e
      else Cast(e, declared,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
    def folded(pct: Expression): Option[(Seq[Double], Boolean)] =
      QuantileMarker.percentages(QuantileMarker.foldedPercentage(pct))
    val marker = model.aggregateFunction.asInstanceOf[QuantileMarker]
    marker match {
      case GraftQuantileDisc(x, pct) if atomic(x.dataType) =>
        folded(pct).map { case (qs, arr) =>
          hist(x, WindowQuantileHist.Disc, qs, arr)
        }
      case GraftMedian(x) => x.dataType match {
        case _: DecimalType | _: StringType =>
          Some(hist(x, WindowQuantileHist.Disc, Seq(0.5), isArray = false))
        case DateType | TimestampType | TimestampNTZType =>
          Some(restore(
            hist(toTs(x), WindowQuantileHist.ContTs, Seq(0.5),
              isArray = false), marker.dataType))
        case _: NumericType =>
          Some(hist(x, WindowQuantileHist.ContNum, Seq(0.5), isArray = false))
        case _ => None
      }
      case GraftQuantileCont(x, pct) => x.dataType match {
        case _: DecimalType =>
          folded(pct).map { case (qs, arr) =>
            hist(x, WindowQuantileHist.ContDec, qs, arr)
          }
        case DateType | TimestampType | TimestampNTZType =>
          folded(pct).map { case (qs, arr) =>
            restore(hist(toTs(x), WindowQuantileHist.ContTs, qs, arr),
              marker.dataType)
          }
        case _: NumericType =>
          folded(pct).map { case (qs, arr) =>
            hist(x, WindowQuantileHist.ContNum, qs, arr)
          }
        case _ => None
      }
      case GraftEntropy(x) if atomic(x.dataType) =>
        Some(hist(x, WindowQuantileHist.Entropy, Nil, isArray = false))
      case _ => None
    }
  }

  private def rewriteMarker(model: AggregateExpression): Expression = {
    val marker = model.aggregateFunction.asInstanceOf[QuantileMarker]
    marker match {
      case GraftQuantileDisc(x, pct) =>
        val folded = QuantileMarker.foldedPercentage(pct)
        val (qs, isArray) = QuantileMarker.percentages(folded).getOrElse(
          throw new IllegalStateException(
            s"quantile_disc position did not fold to a literal: ${pct.sql}"))
        composite(x, model, qs, isArray, discSelect)
      case GraftMedian(x) => x.dataType match {
        // DECIMAL and VARCHAR: discrete-lower, type-preserving (probed)
        case _: DecimalType | _: StringType =>
          composite(x, model, Seq(0.5), isArray = false, discSelect)
        case DateType | TimestampType | TimestampNTZType =>
          composite(toTs(x), model, Seq(0.5), isArray = false,
            contTsSelect(marker.dataType))
        case _ => ae(new Percentile(x, Literal(0.5, DoubleType)), model)
      }
      case GraftQuantileCont(x, pct) => x.dataType match {
        case d: DecimalType =>
          val folded = QuantileMarker.foldedPercentage(pct)
          val (qs, isArray) = QuantileMarker.percentages(folded).get
          composite(x, model, qs, isArray, contDecimalSelect(d))
        case DateType | TimestampType | TimestampNTZType =>
          val folded = QuantileMarker.foldedPercentage(pct)
          val (qs, isArray) = QuantileMarker.percentages(folded).get
          composite(toTs(x), model, qs, isArray,
            contTsSelect(marker.dataType match {
              case ArrayType(e, _) => e
              case other => other
            }))
        case _ =>
          ae(new Percentile(x, QuantileMarker.foldedPercentage(pct)), model)
      }
      case GraftEntropy(x) =>
        // H = log2(n) − (Σ_v c_v·log2 c_v)/n from the collected list:
        // per-distinct-value counts via size(filter(...)) — O(d·n) per
        // group, the correctness-only fallback (the histogram path in
        // ExactQuantileRule is the scale shape)
        val lst = ae(CollectList(x), model)
        val n = Cast(ae(Count(Seq(x)), model), DoubleType)
        val lam1 = {
          val v = NamedLambdaVariable("__ev", x.dataType, nullable = true)
          val y = NamedLambdaVariable("__ey", x.dataType, nullable = true)
          val cnt = Cast(Size(new ArrayFilter(lst,
            LambdaFunction(EqualTo(y, v), Seq(y)))), DoubleType)
          LambdaFunction(Multiply(cnt, Log2(cnt)), Seq(v))
        }
        val sumClogC = new ArrayAggregate(
          ArrayTransform(ArrayDistinct(lst), lam1),
          Literal(0.0),
          {
            val acc = NamedLambdaVariable("__ea", DoubleType, nullable = true)
            val e = NamedLambdaVariable("__ee", DoubleType, nullable = true)
            LambdaFunction(Add(acc, e), Seq(acc, e))
          },
          {
            val acc = NamedLambdaVariable("__ef", DoubleType, nullable = true)
            LambdaFunction(acc, Seq(acc))
          })
        // duckdb: entropy of an EMPTY/all-NULL group is 0.0, not NULL
        If(EqualTo(n, Literal(0.0)), Literal(0.0),
          Subtract(Log2(n), Divide(sumClogC, n, EvalMode.TRY)))
    }
  }

  /** Shared shape: guard on n = 0, per-q selection over the sorted array. */
  private def composite(x: Expression, model: AggregateExpression,
      qs: Seq[Double], isArray: Boolean,
      select: (Expression, Expression, Double) => Expression): Expression = {
    val sorted = new SortArray(ae(CollectList(x), model), Literal(true))
    val n = ae(Count(Seq(x)), model)
    val sels = qs.map(q => select(sorted, n, q))
    val out: Expression = if (isArray) CreateArray(sels) else sels.head
    val dt =
      if (isArray) ArrayType(sels.head.dataType, containsNull = true)
      else sels.head.dataType
    If(EqualTo(n, Literal(0L)), Literal(null, dt), out)
  }

  /** DuckDB's DECIMAL truncated-interpolation core, shared by the
    * collect_list fallback and ExactQuantileRule's histogram path:
    * exact = lo_u + (hi_u − lo_u)·frac in DOUBLE over the unscaled values,
    * truncated TOWARD ZERO, re-scaled (probed: 200 randomized trials).
    * Up to precision 18 the unscaled hop is a long; wider decimals use
    * the BigInteger→double kernels, which is what DuckDB's hugeint cast
    * does too (probed: round 14). */
  def truncDecimalInterp(lo: Expression, hi: Expression, frac: Expression,
      d: DecimalType): Expression =
    if (d.precision <= 18) {
      val pow10 = Literal(Decimal(BigDecimal(10).pow(d.scale), d.scale + 1, 0),
        DecimalType(d.scale + 1, 0))
      def unscaled(e: Expression): Expression =
        Cast(Multiply(e, pow10), LongType) // integral value at scale s: exact
      val loU = unscaled(lo)
      val dU = Subtract(unscaled(hi), loU)
      val exact = Add(Cast(loU, DoubleType), Multiply(Cast(dU, DoubleType), frac))
      val resU = Cast(exact, LongType) // Cast double→long truncates toward zero
      MakeDecimal(resU, d.precision, d.scale)
    } else {
      import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
      def unscaled(e: Expression): Expression =
        StaticInvoke(MathStringFns.getClass, DoubleType, "unscaledDouble",
          Seq(e), Seq(d))
      val loU = unscaled(lo)
      val exact = Add(loU, Multiply(Subtract(unscaled(hi), loU), frac))
      StaticInvoke(MathStringFns.getClass, d, "decimalFromUnscaledDouble",
        Seq(exact, Literal(d.precision), Literal(d.scale)),
        Seq(DoubleType, IntegerType, IntegerType))
    }

  /** DuckDB's DATE/TIMESTAMP interpolation core: lo + (hi − lo)·frac in
    * epoch-microsecond space (probed: median of two adjacent seconds is
    * the .5-microsecond midpoint). Inputs must already be TimestampType;
    * `outT` restores a TIMESTAMP_NTZ declared output. */
  def tsInterp(lo: Expression, hi: Expression, frac: Expression,
      outT: DataType): Expression = {
    val loU = Cast(UnixMicros(lo), DoubleType)
    val hiU = Cast(UnixMicros(hi), DoubleType)
    val exact = Add(loU, Multiply(Subtract(hiU, loU), frac))
    val ts: Expression = MicrosToTimestamp(Cast(exact, LongType))
    if (outT == TimestampNTZType)
      Cast(ts, TimestampNTZType,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
    else ts
  }

  private def tzOpt: Option[String] =
    Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)

  /** Cast a DATE/TIMESTAMP_NTZ measure to TimestampType for the
    * interpolation space. */
  def toTs(e: Expression): Expression = e.dataType match {
    case TimestampType => e
    case _ => Cast(e, TimestampType, tzOpt)
  }

  /** element_at(sorted, max(1, ceil(q·n))) — the discrete statistic. */
  private def discSelect(
      sorted: Expression, n: Expression, q: Double): Expression = {
    val idx = Greatest(Seq(Literal(1L),
      Ceil(Multiply(Literal(q), Cast(n, DoubleType)))))
    new ElementAt(sorted, Cast(idx, IntegerType))
  }

  /** DuckDB DECIMAL interpolation over the sorted array: straddle elements
    * at floor(pos)+1 / ceil(pos)+1 with pos = q·(n−1), then the shared
    * truncated-unscaled core. */
  private def contDecimalSelect(d: DecimalType)(
      sorted: Expression, n: Expression, q: Double): Expression = {
    val (lo, hi, frac) = straddle(sorted, n, q)
    truncDecimalInterp(lo, hi, frac, d)
  }

  /** DATE/TIMESTAMP interpolation over the sorted (TimestampType) array —
    * the shared epoch-microsecond core. */
  private def contTsSelect(outT: DataType)(
      sorted: Expression, n: Expression, q: Double): Expression = {
    val (lo, hi, frac) = straddle(sorted, n, q)
    tsInterp(lo, hi, frac, outT)
  }

  private def straddle(sorted: Expression, n: Expression, q: Double)
      : (Expression, Expression, Expression) = {
    val pos = Multiply(Literal(q),
      Subtract(Cast(n, DoubleType), Literal(1.0)))
    val f = Floor(pos) // LongType
    val frac = Subtract(pos, Cast(f, DoubleType))
    val lo = new ElementAt(sorted, Cast(Add(f, Literal(1L)), IntegerType))
    val hi = new ElementAt(sorted, Cast(Add(Ceil(pos), Literal(1L)), IntegerType))
    (lo, hi, frac)
  }
}

/** DISTINCT window aggregates over WHOLE-PARTITION frames —
  * `median(DISTINCT x) OVER (PARTITION BY p)`, `count(DISTINCT x) OVER
  * (PARTITION BY p)` — which DuckDB accepts for every aggregate and Spark
  * rejects in CheckAnalysis (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED). A
  * window FILTER never gets here: [[WindowFilterFold]] folds it into the
  * argument before resolution, and window extraction rejects any other.
  * The check fires BEFORE any optimizer rule runs, so the optimizer-time
  * whole-frame stitch in [[QuantileFallbackRule.rewriteWindow]] can never
  * see these shapes —
  * this rule applies the SAME construction at RESOLUTION time (analyzer
  * fixed point, ahead of CheckAnalysis): the frame is the partition, so
  * the statistic moves to aggregate position grouped by the partition
  * keys — where DISTINCT and FILTER are ordinary modifiers — and joins
  * back under the window on null-safe key equality (empty partition
  * spec: one-row broadcast cross join). Quantile markers stitched here
  * flow into ExactQuantileRule / the composite downstream exactly like
  * the optimizer-time stitch's output.
  *
  * Scope: whole-frame specs only, deterministic partition keys and
  * child (the child is scanned twice). Ordered/sliding frames with
  * DISTINCT stay loud analysis errors — per-frame DISTINCT
  * state is data-sized in any engine (COVERAGE boundary).
  * Reference surface: duckdb window aggregates accept DISTINCT/FILTER
  * (docs/sql/window_functions); probed via fuzz fz523–fz526. */
object DistinctFilterWindowRule extends Rule[LogicalPlan] {

  private val broadcastRight = JoinHint(None, Some(HintInfo(Some(BROADCAST))))

  private def deterministicTree(plan: LogicalPlan): Boolean =
    !plan.exists(_.expressions.exists(e => !e.deterministic))

  private def wholeFrame(spec: WindowSpecDefinition): Boolean =
    spec.frameSpecification match {
      case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) =>
        true
      case _ => false
    }

  private def stitchable(e: Expression): Boolean = e match {
    case WindowExpression(ae: AggregateExpression, spec: WindowSpecDefinition) =>
      ae.isDistinct && wholeFrame(spec)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case w @ Window(wexprs, partSpec, _, child, _)
        if w.resolved && partSpec.forall(_.deterministic) &&
          deterministicTree(child) &&
          wexprs.exists(_.exists(stitchable)) =>
      rewrite(w)
  }

  private def rewrite(w: Window): LogicalPlan = {
    val Window(wexprs, partSpec, orderSpec, child, hint) = w
    val stitched =
      scala.collection.mutable.LinkedHashMap.empty[Expression, Alias]
    val newWexprs = wexprs.map { ne =>
      ne.transformUp {
        case we @ WindowExpression(ae: AggregateExpression, _)
            if stitchable(we) =>
          stitched.getOrElseUpdate(we.canonicalized,
            Alias(ae, s"__wqd${stitched.size}")()).toAttribute
      }.asInstanceOf[NamedExpression]
    }
    val keyAliases = partSpec.zipWithIndex.map { case (k, i) =>
      Alias(k, s"__wqdk$i")()
    }
    val aggSide = Aggregate(partSpec, keyAliases ++ stitched.values.toSeq, child)
    val joined =
      if (partSpec.isEmpty) Join(child, aggSide, Cross, None, broadcastRight)
      else Join(child, aggSide, LeftOuter,
        Some(partSpec.zip(keyAliases)
          .map { case (k, a) => EqualNullSafe(k, a.toAttribute): Expression }
          .reduce(And)),
        QuantileFallbackRule.stitchJoinHint)
    val child2 =
      Project(child.output ++ stitched.values.map(_.toAttribute), joined)
    val core: LogicalPlan =
      if (newWexprs.exists(_.exists(_.isInstanceOf[WindowExpression])))
        Window(newWexprs, partSpec, orderSpec, child2, hint)
      else Project(child2.output.filterNot(a =>
        stitched.values.exists(_.exprId == a.exprId)) ++ newWexprs, child2)
    // parents resolve against the original Window output, unchanged
    Project(w.output, core)
  }
}
