package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DecimalType

/** Breaks the low-cardinality-partition-key ceiling on RANGE-mode window
  * aggregates by evaluating them over the (partition keys, order values)
  * GROUP table instead of the row stream.
  *
  * A RANGE-mode frame is PEER-GRANULAR by definition — its boundaries
  * move in whole peer groups — so any algebraic aggregate over it is a
  * function of per-(pk, ord) group aggregates alone:
  *
  *   1. pre-aggregate sum/min/max/count per (pk, ord) — a map-side-
  *      combining hash aggregate with pk×|ord| keys, fully parallel;
  *   2. run the ORIGINAL window (same frame, same order) over that group
  *      table — |groups| rows through the sort instead of |rows|;
  *   3. join the finished values back 1:1 on the null-safe group key.
  *
  * Round 17 (guide §2.4): a STACK of such Window nodes over one child —
  * the frame-EXCLUDE plan rule ([[WindowExcludeRule]]) emits one for
  * TIES/GROUP (the dense_rank helper, the ASC frames, the DESC frames) —
  * consolidates into ONE group table
  * + the stacked group-level windows + ONE join-back, instead of one
  * aggregate + join per node. Pre-aggregates are deduplicated across
  * nodes (the ASC and DESC halves aggregate the same columns), and an
  * ORDER BY key that is a lower node's dense_rank output maps to the
  * group-level rank (exact: the rank is a function of the group key).
  * Measured at sf10 (q103: dense_rank + ASC + DESC over 15M orders):
  * three stitches → one, 12.5 s → see OPTIMIZATION_r17.md.
  *
  * Why it matters at scale: Spark's WindowExec clusters by the partition
  * key, so a 5-value user key caps the sorted pass at 5-way parallelism
  * no matter the cluster (the q109 shape: 15 M rows through 5 tasks,
  * SCALE.md). The group table's sort is histogram-sized and the two
  * corpus-sized operations — the pre-aggregate and the join — parallelize
  * on the full (pk, ord) key space. Measured at sf10: the q109 EXCLUDE
  * windows drop 20.2 s → 2.5 s (hand prototype, identical rows).
  *
  * Equivalence is EXACT (not approximate): frame membership in RANGE
  * mode depends only on order VALUES, which the group table preserves;
  * sum-of-group-sums / min-of-group-mins / sum-of-group-counts are the
  * row aggregates. (Double sums reassociate — the same ulp class as
  * Spark's own partial aggregation.)
  *
  * Scope (bails otherwise; the original Window stays):
  *  - every window expression is an unfiltered, non-DISTINCT Sum / Min /
  *    Max / Count over a RANGE frame with foldable bounds;
  *  - the node has a non-empty ORDER BY (a RANGE frame guarantees one)
  *    and deterministic keys/inputs;
  *  - the child is not already an Aggregate (the ExactQuantileRule
  *    histogram shape: grouping again by the same keys cannot shrink);
  *  - the subtree carries no engineered physical layout
  *    (spark_partition_id / RepartitionByExpression — the prefix-offset
  *    patterns own their partitioning).
  *
  * Disable with `spark.graft.rangeWindowRewrite=false`. */
object RangeWindowGroupRule extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.rangeWindowRewrite", "true") != "false"

  /** The group-join trades the sorted pass for an aggregate + a window +
    * a join — fixed stage overhead that only pays for itself on large
    * inputs (measured at sf0.1: q108's 0.27 s became 2.7 s through three
    * extra shuffles; at sf10 the same trade took q109 from 20.2 s to
    * 10.4 s). Fire only when the child's estimated size clears this
    * floor (logical sizeInBytes — parquet file bytes propagated through
    * projections). */
  private def minBytes: Long =
    SQLConf.get.getConfString(
      "spark.graft.rangeWindowRewrite.minBytes", (64L << 20).toString).toLong

  /** Eligible aggregate → (pre-aggregate builder, outer builder). */
  private def eligibleAgg(af: AggregateFunction): Boolean = af match {
    case _: Sum | _: Min | _: Max => af.deterministic
    case c: Count => c.children.size <= 1 && af.deterministic
    case _ => false
  }

  private def foldableBound(e: Expression): Boolean = e match {
    case _: SpecialFrameBoundary => true
    case other => other.foldable
  }

  private sealed trait Kind
  private case class AggKind(ae: AggregateExpression, input: Expression)
      extends Kind
  private case object DenseRankKind extends Kind

  private case class Win(alias: Alias, we: WindowExpression, kind: Kind,
      wholePartition: Boolean)

  /** RANGE frames are peer-granular; a ROWS UNB..UNB frame is the whole
    * partition, granular at any level — both evaluate exactly over the
    * group table. dense_rank is peer-granular too (all peers share the
    * value, and with one group-table row per peer group it is ITS OWN
    * group-table evaluation) — it is the helper the EXCLUDE decomposition
    * emits, so covering it removes the last corpus-sized sorted pass of
    * that family. rank/percent_rank/cume_dist need row multiplicities
    * and row_number is row-granular — all stay on the row stream. */
  private def asWin(ne: NamedExpression): Option[Win] = ne match {
    case a @ Alias(we @ WindowExpression(
        ae @ AggregateExpression(af, Complete, false, None, _),
        WindowSpecDefinition(_, _, frame)), _)
        if eligibleAgg(af) && af.children.forall(_.deterministic) =>
      val whole = frame match {
        case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) =>
          true
        case _ => false
      }
      val rangeOk = frame match {
        case SpecifiedWindowFrame(RangeFrame, lo, hi) =>
          foldableBound(lo) && foldableBound(hi)
        case _ => false
      }
      if (!whole && !rangeOk) None
      else {
        // count(*) pre-aggregates as count(1); other shapes have one input
        val input = af.children.headOption.getOrElse(Literal(1))
        Some(Win(a, we, AggKind(ae, input), whole))
      }
    case a @ Alias(we @ WindowExpression(dr: DenseRank, _), _)
        if dr.children.forall(_.deterministic) =>
      Some(Win(a, we, DenseRankKind, wholePartition = false))
    case _ => None
  }

  private def engineered(plan: LogicalPlan): Boolean = plan.exists {
    case _: RepartitionByExpression => true
    case p => p.expressions.exists(_.exists(_.isInstanceOf[SparkPartitionID]))
  }

  /** A `__`-prefixed PARTITION key is one of the engine's own banding
    * helpers (Scale.bandedRangeFrame's `__g`, bandedRunningPositional's
    * `__b`, …) — those shapes already engineered their parallelism, and
    * their band×ord group table is corpus-sized by construction (measured:
    * q47 at sf10 regressed 4.7 → 8.5 s before this bail). The EXCLUDE
    * decomposition's `__graft_dr1` helper appears in ORDER position, not
    * PARTITION — the rewrite stays live for that family. */
  private def bandedHelper(partSpec: Seq[Expression]): Boolean =
    partSpec.exists(_.exists {
      case a: Attribute => a.name.startsWith("__")
      case _ => false
    })

  /** One Window node of a consolidatable stack (bottom-first order in
    * the collected list). */
  private case class StackNode(w: Window, wins: Seq[Win],
      partSpec: Seq[Expression], orderSpec: Seq[SortOrder])

  /** Unrolls a stack of consecutive eligible Window nodes (separated only
    * by pass-through Projects) down to the shared base child. Returned
    * list is BOTTOM-first. A Window that fails per-node eligibility stops
    * the unroll and becomes part of the base. */
  @scala.annotation.tailrec
  private def unroll(plan: LogicalPlan, acc: List[StackNode])
      : (List[StackNode], LogicalPlan) = plan match {
    case w @ Window(winExprs, ps, os, child, _)
        if winExprs.nonEmpty &&
          // never re-anchor this rule's own group-level output windows
          // (transformDown recurses into the emitted subtree)
          !winExprs.exists(_.name.startsWith("__rww")) &&
          winExprs.forall(ne => asWin(ne).isDefined) &&
          winExprs.flatMap(asWin).forall(win =>
            win.wholePartition || os.nonEmpty) &&
          ps.forall(_.deterministic) &&
          os.forall(_.child.deterministic) =>
      unroll(child, StackNode(w, winExprs.flatMap(asWin), ps, os) :: acc)
    case Project(list, child)
        if acc.nonEmpty && list.forall(_.isInstanceOf[Attribute]) =>
      unroll(child, acc)
    case other => (acc, other)
  }

  /** Whole-stack eligibility. Beyond the single-node guards: every node
    * shares one partition key list, every aggregate input is a base-child
    * expression, and every ORDER BY key is either a base-child expression
    * or the dense_rank output of a LOWER node in the same stack (the
    * EXCLUDE decomposition's `__graft_dr1` helper — its rank is a
    * function of the group key, so the group table computes it once and
    * the upper frames order by the group-level rank). */
  private def stackEligible(nodes: List[StackNode], base: LogicalPlan)
      : Boolean = {
    if (nodes.isEmpty) return false
    val part0 = nodes.head.partSpec
    val samePart = nodes.forall(n => n.partSpec.length == part0.length &&
      n.partSpec.zip(part0).forall { case (a, b) => a.semanticEquals(b) })
    var drIds = Set.empty[ExprId]
    val ordersOk = nodes.forall { n =>
      val ok = n.orderSpec.forall { so =>
        so.child.references.subsetOf(base.outputSet) || (so.child match {
          case a: Attribute => drIds.contains(a.exprId)
          case _ => false
        })
      } && n.wins.forall {
        case Win(_, _, AggKind(_, input), _) =>
          input.references.subsetOf(base.outputSet)
        case Win(a, w2, DenseRankKind, _) =>
          w2.windowFunction.references.subsetOf(base.outputSet)
      }
      drIds ++= n.wins.collect {
        case Win(a, _, DenseRankKind, _) => a.exprId
      }
      ok
    }
    samePart && ordersOk &&
      !base.isInstanceOf[Aggregate] &&
      base.stats.sizeInBytes >= minBytes &&
      !bandedHelper(part0) &&
      !engineered(base)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    // top-down: the TOPMOST window of a stack anchors the consolidation
    // (bottom-up would rewrite the innermost node first and break the
    // stack into per-node stitches — the r16 shape this consolidation
    // exists to remove). When a cross-node check fails, the largest
    // eligible TOP-anchored suffix consolidates and the dropped bottom
    // nodes are rewritten on their own later visit — never worse than
    // the previous per-node rewrite.
    plan.transformDown {
      case w: Window =>
        val (nodes, _) = unroll(w, Nil)
        val pick = nodes.indices.iterator.map { k =>
          val cand = nodes.drop(k)
          (cand, cand.head.w.child)
        }.find { case (cand, b) =>
          stackEligible(cand, b) && {
            // a fully-global whole-partition window has an EMPTY group
            // key (sum(x) OVER ()) — the join-back has no condition;
            // leave the one-partition window alone
            groupKeys(cand, b).nonEmpty
          }
        }
        pick.map { case (cand, b) => rewriteStack(cand, b) }.getOrElse(w)
    }
  }

  /** The group key: partition keys + the base-child ORDER BY expressions
    * of every stack node, semantically deduplicated (PARTITION BY a
    * ORDER BY a is legal). A node whose frames all cover the whole
    * partition contributes no order keys (order values are irrelevant
    * there — for a single-node stack this is the maximal shrink the
    * peer-group aggregates of the EXCLUDE decomposition land on);
    * dense_rank-attribute orders contribute nothing because their source
    * node's own keys already did. */
  private def groupKeys(nodes: List[StackNode], base: LogicalPlan)
      : Seq[Expression] = {
    val rawKeys = nodes.head.partSpec ++ nodes.flatMap { n =>
      if (n.wins.forall(_.wholePartition)) Nil
      else n.orderSpec.map(_.child)
        .filter(_.references.subsetOf(base.outputSet))
    }
    rawKeys.foldLeft(Seq.empty[Expression]) { (acc, e) =>
      if (acc.exists(_.semanticEquals(e))) acc else acc :+ e
    }
  }

  /** Emits ONE group table + the whole stack of group-level windows +
    * ONE join-back for a consolidated stack (nodes bottom-first). For a
    * single-node stack this is exactly the previous per-node rewrite:
    *
    *   1. pre-aggregate sum/min/max/count per group key — map-side-
    *      combining, fully parallel, shared by every stack node
    *      (semantically deduplicated across nodes);
    *   2. run the ORIGINAL windows (same frames, same orders, stacked in
    *      the same sequence) over that group table — |groups| rows
    *      through the sorts instead of |rows| × |nodes|;
    *   3. join the finished values back 1:1 on the null-safe group key —
    *      once, not once per node. */
  private def rewriteStack(nodes: List[StackNode], base: LogicalPlan)
      : LogicalPlan = {
    val partSpec = nodes.head.partSpec
    val keys = groupKeys(nodes, base)
    def keyAttrFor(keyAttrs: Seq[Attribute])(e: Expression): Attribute =
      keyAttrs(keys.indexWhere(_.semanticEquals(e)))

    // ---- agg side: keys + window inputs under fresh names (the subtree
    // is shared with the join's left side — fresh aliases keep the two
    // branches' OUTPUTS disjoint, the ExactQuantileRule pattern).
    // Inputs and pre-aggregates are deduplicated semantically: the ASC
    // and DESC halves of an EXCLUDE decomposition aggregate the same
    // columns.
    val keyAliases = keys.zipWithIndex.map { case (e, i) =>
      Alias(e, s"__rwk$i")()
    }
    val allWins: Seq[Win] = nodes.flatMap(_.wins)
    val inAliasList = scala.collection.mutable.ArrayBuffer.empty[Alias]
    val inIdx = scala.collection.mutable.LinkedHashMap.empty[Expression, Int]
    def inAttrOf(input: Expression): Attribute = {
      val i = inIdx.getOrElseUpdate(input.canonicalized, {
        inAliasList += Alias(input, s"__rwi${inAliasList.size}")()
        inAliasList.size - 1
      })
      inAliasList(i).toAttribute
    }
    allWins.foreach {
      case Win(_, _, AggKind(_, input), _) => inAttrOf(input)
      case _ => ()
    }
    val keyed = Project(keyAliases ++ inAliasList, base)
    val keyAttrs = keyAliases.map(_.toAttribute)

    def cAgg(af: AggregateFunction): AggregateExpression =
      AggregateExpression(af, Complete, isDistinct = false)

    // ---- per-group pre-aggregates (algebraic decomposition), shared
    // across every stack node that needs the same (fn, input) pair
    val preAliasList = scala.collection.mutable.ArrayBuffer.empty[Alias]
    val preIdx =
      scala.collection.mutable.LinkedHashMap.empty[(String, Expression), Int]
    def preAttrOf(af: AggregateFunction, input: Expression): Attribute = {
      val kind = af.getClass.getSimpleName
      val i = preIdx.getOrElseUpdate((kind, input.canonicalized), {
        val inAttr = inAttrOf(input)
        val pre = af match {
          case _: Sum => cAgg(Sum(inAttr))
          case _: Min => cAgg(Min(inAttr))
          case _: Max => cAgg(Max(inAttr))
          case _: Count => cAgg(Count(Seq(inAttr)))
        }
        preAliasList += Alias(pre, s"__rwg${preAliasList.size}")()
        preAliasList.size - 1
      })
      preAliasList(i).toAttribute
    }
    allWins.foreach {
      case Win(_, _, AggKind(ae, input), _) =>
        preAttrOf(ae.aggregateFunction, input)
      case _ => ()
    }
    val agg = Aggregate(keyAttrs,
      (keyAttrs ++ preAliasList).map(_.asInstanceOf[NamedExpression]),
      keyed, None)

    // ---- the original windows, frames and orders intact, stacked in
    // their original sequence over the group table (sum-of-sums /
    // min-of-mins / sum-of-counts; dense_rank ranks its own group key —
    // one group-table row per peer group makes it exact). ORDER BY keys
    // that were a lower node's dense_rank output map to the group-level
    // rank attribute.
    val outerPart = partSpec.map(keyAttrFor(keyAttrs))
    val restoredByOrig =
      scala.collection.mutable.LinkedHashMap.empty[ExprId, (Win, Attribute)]
    var cur: LogicalPlan = agg
    var wIdx = 0
    nodes.foreach { n =>
      val nodeWhole = n.wins.forall(_.wholePartition)
      val outerOrder =
        if (nodeWhole) Nil
        else n.orderSpec.map { so =>
          val mapped = so.child match {
            case a: Attribute if restoredByOrig.contains(a.exprId) =>
              restoredByOrig(a.exprId)._2
            case e => keyAttrFor(keyAttrs)(e)
          }
          so.copy(child = mapped)
        }
      val outAliases = n.wins.map { win =>
        val alias = win.kind match {
          case AggKind(ae, input) =>
            val preAttr = preAttrOf(ae.aggregateFunction, input)
            val outer = ae.aggregateFunction match {
              case _: Sum => cAgg(Sum(preAttr))
              case _: Min => cAgg(Min(preAttr))
              case _: Max => cAgg(Max(preAttr))
              case _: Count => cAgg(Sum(preAttr)) // = sum of group counts
            }
            val spec = WindowSpecDefinition(outerPart, outerOrder,
              win.we.windowSpec.frameSpecification)
            Alias(WindowExpression(outer, spec), s"__rww$wIdx")()
          case DenseRankKind =>
            // frame is the RankLike-internal ROWS UNB..CUR, kept as-is
            val spec = WindowSpecDefinition(outerPart, outerOrder,
              win.we.windowSpec.frameSpecification)
            Alias(WindowExpression(DenseRank(outerOrder.map(_.child)), spec),
              s"__rww$wIdx")()
        }
        wIdx += 1
        restoredByOrig(win.alias.exprId) = (win, alias.toAttribute)
        alias
      }
      cur = Window(outAliases, outerPart, outerOrder, cur, None)
    }
    val right = Project(
      keyAttrs ++ restoredByOrig.values.map(_._2).toSeq, cur)

    // ---- 1:1 join back on the null-safe group key, then restore the
    // original output attributes (names AND exprIds) with a type-
    // preserving cast where the decomposition widened (decimal sums)
    val cond = keys.zip(keyAttrs)
      .map { case (e, a) => EqualNullSafe(e, a): Expression }.reduce(And)
    val joined = Join(base, right, Inner, Some(cond), JoinHint.NONE)
    def restore(orig: Win, out: Attribute): Alias = {
      val raw: Expression = out
      val zeroed = orig.kind match {
        // count over an EMPTY frame is 0; the sum-of-group-counts
        // decomposition yields NULL there — restore count's contract
        case AggKind(ae, _) if ae.aggregateFunction.isInstanceOf[Count] =>
          Coalesce(Seq(raw, Literal(0L)))
        case _ => raw
      }
      val typed =
        if (zeroed.dataType == orig.alias.dataType) zeroed
        else Cast(zeroed, orig.alias.dataType)
      Alias(typed, orig.alias.name)(
        exprId = orig.alias.exprId, qualifier = orig.alias.qualifier)
    }
    // the consolidated node's output must be the TOP node's output,
    // attribute for attribute: base columns pass through the join's left
    // side, every stack node's window alias is restored by exprId
    val topOutput = nodes.last.w.output
    val outList = topOutput.map { attr =>
      restoredByOrig.get(attr.exprId) match {
        case Some((orig, out)) => restore(orig, out)
        case None => attr
      }
    }
    Project(outList.map(_.asInstanceOf[NamedExpression]), joined)
  }
}
