package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{Cross, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, NumericType}

/** Rewrites exact-percentile aggregates — grouped AND global — into the
  * histogram + spillable-window shape, removing the data-sized aggregation
  * buffer.
  *
  * Spark's exact `percentile` (= the engine's `quantile_cont` / `median`
  * mapping) is an ObjectHashAggregate whose per-group state is a
  * value→count MAP held in executor memory with no spill path: a
  * high-cardinality measure makes the buffer data-sized, which at 100 TB is
  * an OOM class, not a slowdown class. The same interpolated quantile is
  * computable with O(1) aggregation state from the distinct-value
  * histogram:
  *
  *   1. pre-aggregate counts by (group, value) — map-side combined, sized
  *      by |distinct (group, value)| pairs, spilling hash aggregation;
  *   2. running + total counts over the value order — per-group window for
  *      grouped aggregates (external, disk-spilling sort); for GLOBAL
  *      aggregates a per-group window would be a SinglePartition sort of
  *      the whole histogram, so the running count is built with the
  *      range-partition + prefix-offset pattern instead (the
  *      [[graft.operators.PositionalJoin.globalIndex]] shape): range-
  *      repartition the histogram by value, running-sum WITHIN each
  *      physical partition (window keyed by `spark_partition_id()`), then
  *      add per-partition prefix offsets computed from an O(partitions)
  *      summary frame — the only SinglePartition window runs over one row
  *      per shuffle partition, never over data;
  *   3. the two straddling order statistics per quantile fall out of
  *      constant-state conditional `min`s, then interpolate with Spark's
  *      own 0-based rank arithmetic (pos = q·(n−1)). Array percentages
  *      (`percentile(x, array(q1,…))`) reuse the same per-quantile triples
  *      and rebuild the array in the final projection (NULL — not an array
  *      of NULLs — when the group has no non-NULL measure, matching the
  *      builtin).
  *
  * Non-percentile aggregates in the same SELECT keep their original
  * single-pass Aggregate and are stitched back with a null-safe join on
  * the group keys (null groups compare equal in GROUP BY, so the join must
  * too); groups whose measure is entirely NULL are absent from the
  * quantile side and surface as NULL through the outer join — exactly
  * `percentile`'s answer. In the global case both sides are one-row
  * relations and the stitch is a broadcast nested-loop over single rows.
  * The trade is one extra scan of the child per distinct measure column:
  * linear work instead of a memory cliff.
  *
  * The global form evaluates the `tagged` histogram subtree from two
  * consumers (the windowed rows and the per-partition totals); their
  * partition ids agree because the single range exchange below both is
  * deduplicated by exchange reuse — ExactQuantileRuleSpec pins exactly one
  * executed range exchange (+ a ReusedExchange). Since range partitioning
  * samples with a per-RDD seed, the rule BAILS on global aggregates when
  * `spark.sql.exchange.reuse` is disabled rather than risk two
  * independently-sampled boundary sets.
  *
  * DISTINCT percentiles rewrite with UNIT histogram counts (the quantile
  * of the distinct value set is the histogram with every bar = 1), and
  * FILTER clauses rewrite by filtering the branch's child before the
  * histogram — each distinct (measure, FILTER, DISTINCT) triple gets its
  * own branch. Both forms therefore shed the map buffer too (round 8).
  *
  * Scope (bails out otherwise): literal scalar or literal-array
  * percentage, unit frequency, numeric measure, no `reverse`, no
  * grouping-sets Expand, fully deterministic child / measure / filter /
  * grouping (the rewrite scans the child more than once — mirroring
  * Spark's own multi-scan rewrites — so `rand()`-derived inputs must keep
  * the single-pass builtin). Disable with
  * `spark.graft.exactQuantileRewrite=false`. */
object ExactQuantileRule extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.exactQuantileRewrite", "true") != "false"

  private case class Pct(ae: AggregateExpression, value: Expression,
      qs: Seq[Double], isArray: Boolean, filter: Option[Expression],
      distinct: Boolean, discrete: Boolean = false,
      decimalCont: Boolean = false, entropy: Boolean = false,
      tsCont: Boolean = false) {
    /** Keep the value's NATIVE type through the histogram? (discrete
      * selection, DECIMAL truncated interpolation, timestamp
      * interpolation and entropy all need it; plain continuous
      * interpolation casts to DOUBLE.) */
    def native: Boolean = discrete || decimalCont || entropy || tsCont
    /** Branches are shared per (measure, FILTER, DISTINCT, mode): each
      * such tuple has its own histogram (the filter changes which rows
      * count; DISTINCT changes the counts to 1). */
    def branchKey: (Expression, Option[Expression], Boolean, Boolean, Boolean, Boolean, Boolean) =
      (value.canonicalized, filter.map(_.canonicalized), distinct, discrete,
        decimalCont, entropy, tsCont)
  }

  private def isTsLike(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.DateType |
          org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }

  /** The Percentile calls this rule handles; None = not rewritable.
    * DISTINCT rewrites with unit histogram counts (quantile over the
    * distinct value set); FILTER rewrites by filtering the branch's child
    * before the histogram — both remove the same map buffer. */
  private def asPct(ae: AggregateExpression): Option[Pct] = {
    val filterOk = ae.filter.forall(_.deterministic)
    ae.aggregateFunction match {
      case Percentile(value, Literal(q: Double, DoubleType), Literal(1L, _), _, _, false)
          if filterOk && q >= 0.0 && q <= 1.0 &&
            value.dataType.isInstanceOf[NumericType] && value.deterministic =>
        Some(Pct(ae, value, Seq(q), isArray = false, ae.filter, ae.isDistinct))
      // array percentage: constant-folded to a Literal(ArrayData) by the time
      // the user-provided optimizer batch runs
      case Percentile(value, Literal(arr: ArrayData, ArrayType(DoubleType, _)),
          Literal(1L, _), _, _, false)
          if filterOk &&
            arr.numElements() > 0 &&
            (0 until arr.numElements()).forall(i => !arr.isNullAt(i)) &&
            arr.toDoubleArray().forall(q => q >= 0.0 && q <= 1.0) &&
            value.dataType.isInstanceOf[NumericType] && value.deterministic =>
        Some(Pct(ae, value, arr.toDoubleArray().toSeq, isArray = true,
          ae.filter, ae.isDistinct))
      // The DuckDB-parity markers (QuantileAggs.scala). Discrete keeps the
      // NATIVE value type through the histogram — the selection statistic
      // is the same conditional lower-straddle min, at rank ceil(q·n).
      case GraftQuantileDisc(value, pctLit)
          if filterOk && value.deterministic &&
            RowOrdering.isOrderable(value.dataType) =>
        QuantileMarker.percentages(QuantileMarker.foldedPercentage(pctLit))
          .map { case (qs, isArray) =>
            Pct(ae, value, qs, isArray, ae.filter, ae.isDistinct, discrete = true)
          }
      // entropy rides the same (group, value) histogram with NO window at
      // all: two plain aggregations over the counts (QuantileAggs.scala)
      case GraftEntropy(value)
          if filterOk && value.deterministic &&
            RowOrdering.isOrderable(value.dataType) =>
        Some(Pct(ae, value, Seq(0.5), isArray = false, ae.filter,
          ae.isDistinct, entropy = true))
      case GraftMedian(value) if filterOk && value.deterministic =>
        value.dataType match {
          // DuckDB: discrete-lower, type-preserving (DECIMAL, VARCHAR)
          case _: DecimalType | _: org.apache.spark.sql.types.StringType =>
            Some(Pct(ae, value, Seq(0.5), isArray = false, ae.filter,
              ae.isDistinct, discrete = true))
          case dt if isTsLike(dt) => // epoch-microsecond interpolation
            Some(Pct(ae, value, Seq(0.5), isArray = false, ae.filter,
              ae.isDistinct, tsCont = true))
          case _: NumericType => // interpolated, like Spark's percentile
            Some(Pct(ae, value, Seq(0.5), isArray = false, ae.filter,
              ae.isDistinct))
          case _ => None
        }
      // cont over DECIMAL keeps the native DECIMAL through the histogram
      // and applies the truncated-unscaled interpolation in the final
      // projection (round-13: the collect_list fallback carried it first,
      // but per-group array state is the exact memory cliff this rule
      // exists to remove); DATE/TIMESTAMP interpolate in microsecond
      // space (round 14); plain numerics interpolate in DOUBLE
      case GraftQuantileCont(value, pctLit)
          if filterOk && value.deterministic &&
            (value.dataType.isInstanceOf[NumericType] ||
              isTsLike(value.dataType)) =>
        QuantileMarker.percentages(QuantileMarker.foldedPercentage(pctLit))
          .map { case (qs, isArray) =>
            Pct(ae, value, qs, isArray, ae.filter, ae.isDistinct,
              decimalCont = value.dataType.isInstanceOf[DecimalType],
              tsCont = isTsLike(value.dataType))
          }
      case _ => None
    }
  }

  /** The rewrite evaluates the child from several branches; any
    * nondeterministic expression (rand(), uuid(), …) would produce
    * inconsistent rows across them. */
  private def deterministicTree(plan: LogicalPlan): Boolean =
    !plan.exists(_.expressions.exists(e => !e.deterministic))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case agg @ Aggregate(groupingExprs, aggExprs, child, None)
          if !child.isInstanceOf[Expand] &&
            // global correctness rides on range-exchange reuse (Scaladoc)
            (groupingExprs.nonEmpty || SQLConf.get.exchangeReuseEnabled) && {
            val aes = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
            aes.exists(ae => asPct(ae).isDefined) &&
            // every percentile must be rewritable or we leave the whole
            // aggregate alone (half-rewritten percentiles would still
            // carry the map buffer AND pay the extra scan)
            aes.forall(ae =>
              asPct(ae).isDefined || !ae.aggregateFunction.isInstanceOf[PercentileBase])
          } && groupingExprs.forall(_.deterministic) && deterministicTree(child) =>
        rewrite(agg, groupingExprs, aggExprs, child)
    }
  }

  private val broadcastRight = JoinHint(None, Some(HintInfo(Some(BROADCAST))))

  private def rewrite(agg: Aggregate, groupingExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan): LogicalPlan = {
    val global = groupingExprs.isEmpty
    val allAes = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    val pcts = allAes.flatMap(asPct(_)).foldLeft(Seq.empty[Pct]) { (acc, p) =>
      if (acc.exists(_.ae.canonicalized == p.ae.canonicalized)) acc else acc :+ p
    }
    val residual = allAes.filter(asPct(_).isEmpty)
      .foldLeft(Seq.empty[AggregateExpression]) { (acc, ae) =>
        if (acc.exists(_.canonicalized == ae.canonicalized)) acc else acc :+ ae
      }

    // -------- residual side: the original aggregate minus the percentiles,
    // plus the group keys under fresh names (the join + final projection
    // read ONLY fresh attributes, so the two child branches can't collide).
    // A global SELECT of only percentiles would make the output list empty
    // — anchor it with a constant so the one stitched row still exists.
    val gkAliases = groupingExprs.zipWithIndex.map { case (g, i) =>
      Alias(g, s"__gk$i")()
    }
    val residAliases = residual.zipWithIndex.map { case (ae, k) =>
      Alias(ae, s"__agg$k")()
    }
    val anchor: Seq[Alias] =
      if (global && residAliases.isEmpty) Seq(Alias(Literal(1), "__one")()) else Nil
    val left: LogicalPlan =
      if (anchor.nonEmpty)
        // a global SELECT of only percentiles needs just a one-row anchor;
        // Aggregate(Nil, [1], child) returns one constant row regardless
        // of the child but costs a full corpus scan (q126 plan audit, r15)
        Project(anchor, org.apache.spark.sql.catalyst.plans.logical.OneRowRelation())
      else Aggregate(groupingExprs, anchor ++ gkAliases ++ residAliases, child, None)
    val gkAttrs = gkAliases.map(_.toAttribute)
    val residAttrs = residAliases.map(_.toAttribute)

    // -------- quantile side(s): one histogram plan per (measure, FILTER,
    // DISTINCT) triple
    val byValue = pcts.groupBy(_.branchKey).values.toSeq
      .sortBy(g => (g.head.value.sql, g.head.filter.map(_.sql).getOrElse(""),
        g.head.distinct))
    var joined: LogicalPlan = left
    val pctAttr = scala.collection.mutable.Map.empty[Expression, Attribute]
    byValue.zipWithIndex.foreach { case (group, j) =>
      val (right, qkAttrs, aeAttrOf) =
        if (global) globalBranch(child, group, j)
        else groupedBranch(child, groupingExprs, group, j)
      pctAttr ++= aeAttrOf
      joined =
        if (global)
          // both sides are single rows; broadcast nested-loop over one row
          Join(joined, right, Cross, None, broadcastRight)
        else {
          // GROUP BY treats NULL keys as equal; the join must too
          val cond = gkAttrs.zip(qkAttrs)
            .map { case (l, r) => EqualNullSafe(l, r): Expression }
            .reduce(And)
          Join(joined, right, LeftOuter, Some(cond), JoinHint.NONE)
        }
    }

    // -------- final projection: the original output expressions with every
    // aggregate call and grouping expression replaced by the stitched
    // attributes, keeping the original names AND exprIds so parent
    // operators resolve unchanged
    val residAttrOf = residual.zip(residAttrs).map {
      case (ae, a) => ae.canonicalized -> a
    }.toMap
    // duckdb's entropy of an all-NULL group is 0.0 — such groups are
    // ABSENT from the histogram branch and surface NULL through the
    // LeftOuter stitch, so the replacement coalesces them back to 0.0
    val entropyAes = pcts.filter(_.entropy).map(_.ae.canonicalized).toSet
    val finalProjs = aggExprs.map { ne =>
      val noAggs = ne match {
        case a: Alias => a.child
        case other => other
      }
      val replacedAggs = noAggs.transformUp {
        case ae: AggregateExpression if pctAttr.contains(ae.canonicalized) =>
          if (entropyAes(ae.canonicalized))
            Coalesce(Seq(pctAttr(ae.canonicalized), Literal(0.0)))
          else pctAttr(ae.canonicalized)
        case ae: AggregateExpression => residAttrOf(ae.canonicalized)
      }
      val replaced = replacedAggs.transformDown {
        case e if groupingExprs.exists(_.semanticEquals(e)) &&
            !e.isInstanceOf[Literal] =>
          gkAttrs(groupingExprs.indexWhere(_.semanticEquals(e)))
      }
      Alias(replaced, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier)
    }
    Project(finalProjs, joined)
  }

  private def countOne: AggregateExpression =
    AggregateExpression(Count(Seq(Literal(1))), Complete, isDistinct = false)

  private def sumOf(e: Expression): AggregateExpression =
    AggregateExpression(Sum(e), Complete, isDistinct = false)

  /** Grouped branch: (group keys, value) histogram, per-group running-count
    * window (external spillable sort), conditional-min order statistics. */
  private def groupedBranch(child: LogicalPlan, groupingExprs: Seq[Expression],
      group: Seq[Pct], j: Int): (LogicalPlan, Seq[Attribute], Map[Expression, Attribute]) = {
    val p0 = group.head
    val value = p0.value
    val qkAliases = groupingExprs.zipWithIndex.map { case (g, i) =>
      Alias(g, s"__qk${j}_$i")()
    }
    // discrete selection and DECIMAL truncated interpolation keep the
    // NATIVE type; timestamp interpolation normalizes DATE/NTZ to
    // TimestampType; plain continuous interpolation arithmetic needs DOUBLE
    val vAlias =
      if (p0.tsCont) Alias(QuantileFallbackRule.toTs(value), s"__v$j")()
      else if (p0.native) Alias(value, s"__v$j")()
      else Alias(Cast(value, DoubleType), s"__v$j")()
    // FILTER clause applies before the histogram, on the raw child rows
    val base = p0.filter.map(f => Filter(f, child)).getOrElse(child)
    val keyed = Project(qkAliases :+ vAlias, base)
    val qkAttrs = qkAliases.map(_.toAttribute)
    val vAttr = vAlias.toAttribute

    // 1. distinct-value histogram (spilling hash agg, map-side combined);
    // DISTINCT percentile = every distinct value counts once
    val cAlias =
      if (p0.distinct) Alias(Literal(1L), "__c")() else Alias(countOne, "__c")()
    val hist = Aggregate(qkAttrs :+ vAttr,
      (qkAttrs :+ vAttr :+ cAlias).map(_.asInstanceOf[NamedExpression]),
      Filter(IsNotNull(vAttr), keyed), None)
    val cAttr = cAlias.toAttribute
    if (p0.entropy) return finishEntropy(hist, qkAttrs, cAttr, group, j)

    // 2. running and total counts over the per-group window (external,
    // spillable sort — the memory story of the whole rewrite)
    val order = Seq(SortOrder(vAttr, Ascending))
    val cumAlias = Alias(WindowExpression(sumOf(cAttr),
      WindowSpecDefinition(qkAttrs, order,
        SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow))),
      "__cum")()
    val nAlias = Alias(WindowExpression(sumOf(cAttr),
      WindowSpecDefinition(qkAttrs, order,
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing))),
      "__n")()
    val win = Window(Seq(cumAlias, nAlias), qkAttrs, order, hist)

    finish(win, qkAttrs, vAttr, cumAlias.toAttribute, nAlias.toAttribute, group, j)
  }

  /** Global branch: value histogram, range-repartition + per-physical-
    * partition running counts + O(partitions) prefix offsets — no
    * data-sized SinglePartition anywhere (Scaladoc step 2). */
  private def globalBranch(child: LogicalPlan, group: Seq[Pct], j: Int)
      : (LogicalPlan, Seq[Attribute], Map[Expression, Attribute]) = {
    val p0 = group.head
    val vAlias =
      if (p0.tsCont) Alias(QuantileFallbackRule.toTs(p0.value), s"__v$j")()
      else if (p0.native) Alias(p0.value, s"__v$j")()
      else Alias(Cast(p0.value, DoubleType), s"__v$j")()
    val base = p0.filter.map(f => Filter(f, child)).getOrElse(child)
    val keyed = Project(Seq(vAlias), base)
    val vAttr = vAlias.toAttribute

    // 1. global distinct-value histogram (unit counts for DISTINCT)
    val cAlias =
      if (p0.distinct) Alias(Literal(1L), "__c")() else Alias(countOne, "__c")()
    val hist = Aggregate(Seq(vAttr),
      Seq(vAttr, cAlias).map(_.asInstanceOf[NamedExpression]),
      Filter(IsNotNull(vAttr), keyed), None)
    val cAttr = cAlias.toAttribute
    if (p0.entropy) return finishEntropy(hist, Nil, cAttr, group, j)

    // 2a. range-partition by value; partition i holds values strictly below
    // partition i+1, so (partition id, within-partition running sum) plus a
    // per-partition prefix offset IS the global running count
    val ranged = RepartitionByExpression(Seq(SortOrder(vAttr, Ascending)), hist, None)
    val pidAlias = Alias(SparkPartitionID(), s"__pid$j")()
    val tagged = Project(Seq(vAttr, cAttr, pidAlias), ranged)
    val pidAttr = pidAlias.toAttribute

    // 2b. running sum WITHIN each range partition — window partitions are
    // physical-partition-sized, never table-sized
    val order = Seq(SortOrder(vAttr, Ascending))
    val lcumAlias = Alias(WindowExpression(sumOf(cAttr),
      WindowSpecDefinition(Seq(pidAttr), order,
        SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow))),
      s"__lcum$j")()
    val localWin = Window(Seq(lcumAlias), Seq(pidAttr), order, tagged)

    // 2c. per-partition totals: O(shuffle partitions) rows; the ONLY
    // un-partitioned window runs here, over that tiny frame (the same
    // boundary-carry shape as PositionalJoin.globalIndex)
    val pid2Alias = Alias(pidAttr, s"__pid2_$j")()
    val ptotAlias = Alias(sumOf(cAttr), s"__ptot$j")()
    val ptots = Aggregate(Seq(pidAttr),
      Seq(pid2Alias, ptotAlias).map(_.asInstanceOf[NamedExpression]), tagged, None)
    val pid2Attr = pid2Alias.toAttribute
    val ptotAttr = ptotAlias.toAttribute
    val tinyOrder = Seq(SortOrder(pid2Attr, Ascending))
    val offAlias = Alias(Coalesce(Seq(
      WindowExpression(sumOf(ptotAttr),
        WindowSpecDefinition(Nil, tinyOrder,
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding, Literal(-1)))),
      Literal(0L))), s"__off$j")()
    val nAlias = Alias(WindowExpression(sumOf(ptotAttr),
      WindowSpecDefinition(Nil, tinyOrder,
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing))),
      s"__n$j")()
    val tinyWin = Window(Seq(offAlias, nAlias), Nil, tinyOrder, ptots)
    val offsets = Project(
      Seq(pid2Attr, offAlias.toAttribute, nAlias.toAttribute), tinyWin)

    // 2d. broadcast the offsets back onto the windowed histogram rows
    val bJoin = Join(localWin, offsets, LeftOuter,
      Some(EqualTo(pidAttr, pid2Attr)), broadcastRight)
    val cumAlias = Alias(Add(lcumAlias.toAttribute, offAlias.toAttribute),
      s"__cum$j")()
    val cummed = Project(Seq(vAttr, cumAlias, nAlias.toAttribute), bJoin)

    finish(cummed, Nil, vAttr, cumAlias.toAttribute, nAlias.toAttribute, group, j)
  }

  /** Steps 3+: per-quantile 0-based rank pos = q·(n−1), the straddling
    * order statistics via constant-state conditional mins, interpolation,
    * and the per-AggregateExpression output aliases (array percentages
    * rebuilt as arrays; NULL when the group had no non-NULL measure). */
  private def finish(rows: LogicalPlan, qkAttrs: Seq[Attribute],
      vAttr: Attribute, cumAttr: Attribute, nAttr: Attribute,
      group: Seq[Pct], j: Int)
      : (LogicalPlan, Seq[Attribute], Map[Expression, Attribute]) = {
    if (group.head.discrete)
      return finishDiscrete(rows, qkAttrs, vAttr, cumAttr, nAttr, group, j)
    // pos materialized before the final aggregate (Spark's own Percentile
    // rank arithmetic); one triple per (measure expression, quantile)
    val posAliases: Seq[Seq[Alias]] = group.zipWithIndex.map { case (p, m) =>
      p.qs.zipWithIndex.map { case (q, i) =>
        Alias(Multiply(Literal(q),
          Subtract(Cast(nAttr, DoubleType), Literal(1.0))), s"__pos${j}_${m}_$i")()
      }
    }
    val posed = Project(
      (qkAttrs :+ vAttr :+ cumAttr) ++ posAliases.flatten, rows)

    // vAttr is DOUBLE on the plain-cont path and native DECIMAL for the
    // truncated-interpolation mode — the null literal must follow it
    def condMin(rank: Expression, name: String): Alias =
      Alias(AggregateExpression(
        Min(If(GreaterThanOrEqual(cumAttr, rank), vAttr,
          Literal(null, vAttr.dataType))), Complete, isDistinct = false), name)()

    val quantAggs: Seq[Alias] = group.zipWithIndex.flatMap { case (p, m) =>
      p.qs.indices.flatMap { i =>
        val pos = posAliases(m)(i).toAttribute
        Seq(
          // cum is a 1-based running count; the straddling order statistics
          // sit at ranks floor(pos)+1 and ceil(pos)+1
          condMin(Add(Floor(pos), Literal(1L)), s"__lo${j}_${m}_$i"),
          condMin(Add(Ceil(pos), Literal(1L)), s"__hi${j}_${m}_$i"),
          Alias(AggregateExpression(Min(pos), Complete, isDistinct = false),
            s"__posmin${j}_${m}_$i")()) // pos is group-constant; min carries it
      }
    }
    val qAgg = Aggregate(qkAttrs,
      (qkAttrs ++ quantAggs).map(_.asInstanceOf[NamedExpression]), posed, None)
    val quantAttrs = quantAggs.map(_.toAttribute)

    var off = 0
    val aeAliases = group.zipWithIndex.map { case (p, m) =>
      val interps: Seq[Expression] = p.qs.indices.map { i =>
        val lo = quantAttrs(off + 3 * i); val hi = quantAttrs(off + 3 * i + 1)
        val pos = quantAttrs(off + 3 * i + 2)
        val frac = Subtract(pos, Cast(Floor(pos), DoubleType))
        p.value.dataType match {
          case d: org.apache.spark.sql.types.DecimalType if p.decimalCont =>
            // DuckDB's DECIMAL quantile_cont: truncated interpolation over
            // the unscaled values, keeping the DECIMAL type (lo/hi are
            // native here — the branch skipped the DOUBLE cast)
            QuantileFallbackRule.truncDecimalInterp(lo, hi, frac, d)
          case _ if p.tsCont =>
            // DATE/TIMESTAMP: epoch-microsecond interpolation (lo/hi are
            // TimestampType — the branch normalized them)
            QuantileFallbackRule.tsInterp(lo, hi, frac, p.ae.dataType match {
              case ArrayType(e, _) => e
              case other => other
            })
          case _ => Add(lo, Multiply(frac, Subtract(hi, lo)))
        }
      }
      // posmin of the first quantile is NULL exactly when the group had no
      // non-NULL measure (the branch aggregated zero histogram rows)
      val guard = quantAttrs(off + 2)
      off += 3 * p.qs.size
      val out: Expression =
        if (p.isArray && (p.decimalCont || p.tsCont))
          // the marker declares ArrayType(d, containsNull = true)
          If(IsNull(guard), Literal(null, p.ae.dataType), CreateArray(interps))
        else if (p.isArray)
          // the builtin returns NULL — not an array of NULLs — for all-NULL
          // groups; inside a populated group every element is provably
          // non-null (rank floor(pos)+1 <= n always has a straddler), which
          // KnownNotNull records so CreateArray keeps containsNull=false,
          // matching Percentile's declared type
          If(IsNull(guard), Literal(null, p.ae.dataType),
            CreateArray(interps.map(KnownNotNull)))
        else interps.head
      Alias(out, s"__pct${j}_$m")()
    }
    val right = Project(qkAttrs ++ aeAliases, qAgg)
    val aeAttrOf = group.zip(aeAliases).map { case (p, a) =>
      p.ae.canonicalized -> a.toAttribute
    }.toMap
    (right, qkAttrs, aeAttrOf)
  }

  /** Entropy finisher: straight off the (group, value) histogram — two
    * map-side-combining aggregations (Σ c·log₂c and Σ c), no window, no
    * sort. H = log₂(n) − (Σ c·log₂ c)/n; an all-NULL group never reaches
    * the branch and surfaces NULL through the stitch join (grouped) or
    * NULL sums (global). */
  private def finishEntropy(hist: LogicalPlan, qkAttrs: Seq[Attribute],
      cAttr: Attribute, group: Seq[Pct], j: Int)
      : (LogicalPlan, Seq[Attribute], Map[Expression, Attribute]) = {
    val cD = Cast(cAttr, DoubleType)
    val sclcAlias = Alias(AggregateExpression(
      Sum(Multiply(cD, Log2(cD))), Complete, isDistinct = false), s"__sclc$j")()
    val nAlias = Alias(AggregateExpression(
      Sum(cAttr), Complete, isDistinct = false), s"__en$j")()
    val qAgg = Aggregate(qkAttrs,
      (qkAttrs :+ sclcAlias :+ nAlias).map(_.asInstanceOf[NamedExpression]),
      hist, None)
    val nD = Cast(nAlias.toAttribute, DoubleType)
    // duckdb: entropy of an empty/all-NULL group is 0.0 (the grouped
    // stitch additionally coalesces absent groups to 0.0 in rewrite())
    val h: Expression = Coalesce(Seq(Subtract(Log2(nD),
      Divide(sclcAlias.toAttribute, nD, EvalMode.TRY)), Literal(0.0)))
    val aeAliases = group.zipWithIndex.map { case (_, m) =>
      Alias(h, s"__pct${j}_$m")()
    }
    val right = Project(qkAttrs ++ aeAliases, qAgg)
    val aeAttrOf = group.zip(aeAliases).map { case (p, a) =>
      p.ae.canonicalized -> a.toAttribute
    }.toMap
    (right, qkAttrs, aeAttrOf)
  }

  /** The DISCRETE variant of steps 3+ (QuantileAggs markers): no
    * interpolation — the statistic is the single lower-straddle
    * conditional min at 1-based rank max(1, ceil(q·n)), evaluated on the
    * NATIVE value type (the histogram kept it native; Min orders any
    * orderable type). Two aggregates per quantile (selection + the
    * rank-min presence guard) instead of the continuous three. */
  private def finishDiscrete(rows: LogicalPlan, qkAttrs: Seq[Attribute],
      vAttr: Attribute, cumAttr: Attribute, nAttr: Attribute,
      group: Seq[Pct], j: Int)
      : (LogicalPlan, Seq[Attribute], Map[Expression, Attribute]) = {
    val rankAliases: Seq[Seq[Alias]] = group.zipWithIndex.map { case (p, m) =>
      p.qs.zipWithIndex.map { case (q, i) =>
        Alias(Greatest(Seq(Literal(1L),
          Ceil(Multiply(Literal(q), Cast(nAttr, DoubleType))))),
          s"__rank${j}_${m}_$i")()
      }
    }
    val ranked = Project(
      (qkAttrs :+ vAttr :+ cumAttr) ++ rankAliases.flatten, rows)

    def condMin(rank: Expression, name: String): Alias =
      Alias(AggregateExpression(
        Min(If(GreaterThanOrEqual(cumAttr, rank), vAttr,
          Literal(null, vAttr.dataType))), Complete, isDistinct = false), name)()

    val quantAggs: Seq[Alias] = group.zipWithIndex.flatMap { case (p, m) =>
      p.qs.indices.flatMap { i =>
        val rank = rankAliases(m)(i).toAttribute
        Seq(
          condMin(rank, s"__sel${j}_${m}_$i"),
          // rank is group-constant and non-null iff the branch aggregated
          // any histogram row — the all-NULL-measure guard
          Alias(AggregateExpression(Min(rank), Complete, isDistinct = false),
            s"__present${j}_${m}_$i")())
      }
    }
    val qAgg = Aggregate(qkAttrs,
      (qkAttrs ++ quantAggs).map(_.asInstanceOf[NamedExpression]), ranked, None)
    val quantAttrs = quantAggs.map(_.toAttribute)

    var off = 0
    val aeAliases = group.zipWithIndex.map { case (p, m) =>
      val sels: Seq[Expression] = p.qs.indices.map(i => quantAttrs(off + 2 * i))
      val guard = quantAttrs(off + 1)
      off += 2 * p.qs.size
      val out: Expression =
        if (p.isArray)
          // markers declare ArrayType(dt, containsNull = true), so the
          // plain CreateArray matches (inside a populated group rank <= n
          // always selects, but the declared type stays permissive)
          If(IsNull(guard), Literal(null, p.ae.dataType), CreateArray(sels))
        else sels.head
      Alias(out, s"__pct${j}_$m")()
    }
    val right = Project(qkAttrs ++ aeAliases, qAgg)
    val aeAttrOf = group.zip(aeAliases).map { case (p, a) =>
      p.ae.canonicalized -> a.toAttribute
    }.toMap
    (right, qkAttrs, aeAttrOf)
  }
}
