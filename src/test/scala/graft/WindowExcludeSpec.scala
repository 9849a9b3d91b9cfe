package graft

import graft.functions.{WindowExclusion, WindowExcludeUnsupported}
import graft.session.{Engine, EngineConfig}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Descending, DenseRank, NullsFirst,
  RowFrame, RowNumber, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding,
  WindowExpression}
import org.scalatest.funsuite.AnyFunSuite

/** Frame EXCLUDE on the engine's statement path: the dialect text leaves a
  * key in the window spec and WindowExcludeRule plans it on the resolved
  * Window nodes. CURRENT ROW splits into the [a,-1] ⊕ [+1,b] halves, TIES/
  * GROUP ride peer-group pieces; every result is checked against a
  * reference query, and shapes the rule does not plan fail with its typed
  * error. */
class WindowExcludeSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  private lazy val conn = new Engine(EngineConfig(existingSession = Some(spark))).connect()
  private def q(sql: String): DataFrame = conn.queryDF(sql)

  private def qe(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution
  /** Every window expression of the analyzed plan. */
  private def windows(df: DataFrame): Seq[WindowExpression] =
    qe(df).analyzed.flatMap(_.expressions.flatMap(_.collect { case w: WindowExpression => w }))
  private def frames(df: DataFrame): Seq[SpecifiedWindowFrame] =
    windows(df).map(_.windowSpec.frameSpecification).collect { case f: SpecifiedWindowFrame => f }
  /** Every exclusion was planned: no key is left in the analyzed plan. */
  private def assertPlanned(df: DataFrame): Unit =
    assert(!qe(df).analyzed.exists(_.expressions.exists(_.exists(_.isInstanceOf[WindowExclusion]))),
      qe(df).analyzed)
  /** A frame Spark recomputes per row: an UNBOUNDED FOLLOWING end after a
    * bounded start. */
  private def quadratic(df: DataFrame): Seq[SpecifiedWindowFrame] =
    frames(df).filter(f => f.upper == UnboundedFollowing && f.lower != UnboundedPreceding)
  private def reversed(df: DataFrame): Boolean = windows(df).exists(_.windowSpec.orderSpec
    .exists(o => o.direction == Descending && o.nullOrdering == NullsFirst))
  private def helpers(df: DataFrame): Seq[String] =
    qe(df).analyzed.output.map(_.name) ++ windows(df).flatMap(_.windowFunction.collect {
      case _: DenseRank => "dense_rank"
      case _: RowNumber => "row_number"
    })
  private def loud(sql: String): WindowExcludeUnsupported =
    intercept[WindowExcludeUnsupported](q(sql).collect())
  private def sameRows(got: DataFrame, ref: DataFrame): Unit =
    assert(got.collect().map(_.toSeq.toList).sortBy(_.toString).toList ===
      ref.collect().map(_.toSeq.toList).sortBy(_.toString).toList)

  /** A small table with ties, NULLs and two partitions. */
  private val t =
    """(VALUES (1, 1, 10, 1), (1, 1, 20, 2), (1, 2, NULL, 3), (1, 4, 30, 4),
      |        (2, 1, 5, 5), (2, 3, 7, 6), (2, 3, 9, 7)) AS t(p, y, x, z)""".stripMargin

  test("split halves equal a hand-computed exclusion") {
    Tables.registerAll(spark, sfDir)
    val sql =
      """SELECT o_orderkey,
        |  sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS s,
        |  min(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS m
        |FROM orders""".stripMargin
    val got = q(sql)
    assertPlanned(got)
    // reference: full-frame minus current row, computed per aggregate
    val ref = spark.sql(
      """SELECT o_orderkey,
        |  CASE WHEN count(*) OVER w > 1
        |       THEN (sum(o_totalprice) OVER w) - o_totalprice END AS s,
        |  CASE WHEN count(*) OVER w > 1 THEN
        |    least(coalesce(min(o_totalprice) OVER
        |            (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING), o_totalprice + 1e18),
        |          coalesce(min(o_totalprice) OVER
        |            (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING), o_totalprice + 1e18))
        |  END AS m
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)""".stripMargin)
    // the sum column is compared at the driver gate's 6-dp tolerance (the
    // split-halves double sum and the subtract-reference differ in ulps)
    import org.apache.spark.sql.functions.{col, round}
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("o_orderkey"), round(col("s"), 4).as("s"), col("m"))
    assert(norm(got).exceptAll(norm(ref)).count() == 0 &&
      norm(ref).exceptAll(norm(got)).count() == 0)
  }

  test("both halves plan into a single Window operator") {
    Tables.registerAll(spark, sfDir)
    val df = q(
      """SELECT sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS s
        |FROM orders""".stripMargin)
    val plan = qe(df).executedPlan.toString
    assert(plan.split("\\bWindow\\b").length - 1 == 1,
      s"expected exactly one Window operator:\n$plan")
  }

  test("RANGE [CUR, UNB FOLLOWING] EXCLUDE CURRENT ROW subtracts self from the FRAME, not the partition") {
    Tables.registerAll(spark, sfDir)
    // the total−prefix identity is peer-group-only; this frame shape must
    // come out as total − prefix + peers − self (three incremental
    // windows, one sort) — the raw identity silently gave partition−self
    def sql(order: String) =
      s"""SELECT o_orderkey,
         |  sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY $order
         |    RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS s,
         |  count(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY $order
         |    RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS c,
         |  avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY $order
         |    RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS a
         |FROM orders""".stripMargin
    def ref(order: String) = spark.sql(
      s"""SELECT o_orderkey,
         |  CASE WHEN count(o_totalprice) OVER w > 1
         |       THEN (sum(o_totalprice) OVER w) - o_totalprice END AS s,
         |  (count(o_totalprice) OVER w) - 1 AS c,
         |  CASE WHEN count(o_totalprice) OVER w > 1
         |       THEN CAST((sum(o_totalprice) OVER w) - o_totalprice AS DOUBLE)
         |            / ((count(o_totalprice) OVER w) - 1) END AS a
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY $order
         |             RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)""".stripMargin)
    // single-key (date ties give non-trivial peer groups) and multi-key
    for (order <- Seq("o_orderdate", "o_orderdate, o_orderpriority")) {
      val got = q(sql(order))
      assertPlanned(got)
      // incremental spelling: the O(n²) [CUR, UNB] frame is never emitted
      assert(quadratic(got).isEmpty, quadratic(got))
      // ulp-tolerant join compare: the identity's DOUBLE accumulation
      // order differs from the reference's frame−self by last-digit ulps
      val diff = got.as("g")
        .join(ref(order).as("r"), "o_orderkey")
        .selectExpr("g.c AS gc", "r.c AS rc",
          "CAST(g.s AS DOUBLE) AS gs", "CAST(r.s AS DOUBLE) AS rs",
          "CAST(g.a AS DOUBLE) AS ga", "CAST(r.a AS DOUBLE) AS ra")
        .where("""NOT (gc <=> rc)
          OR (NOT (gs <=> rs) AND (gs IS NULL OR rs IS NULL OR abs(gs - rs) > 1e-4))
          OR (NOT (ga <=> ra) AND (ga IS NULL OR ra IS NULL OR abs(ga - ra) > 1e-4))""")
      assert(diff.count() == 0, order)
    }
  }

  test("UNBOUNDED FOLLOWING halves are emitted on the reversed ordering (no O(n²) frames)") {
    // a ROWS frame whose upper bound is UNBOUNDED FOLLOWING is recomputed
    // from scratch per row by Spark (UnboundedFollowingWindowFunctionFrame
    // — a q134 sf10 sweep sat in it for half an hour); the rule must
    // spell those pieces on the sequence-reversed ordering instead
    val df = q(
      s"""SELECT
         |  sum(x) OVER (PARTITION BY p ORDER BY y, z ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS s,
         |  last_value(x IGNORE NULLS) OVER (PARTITION BY p ORDER BY y, z ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS ln,
         |  first_value(x) OVER (PARTITION BY p ORDER BY y ROWS BETWEEN 2 PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS f
         |FROM $t""".stripMargin)
    assertPlanned(df)
    assert(!frames(df).exists(f => f.frameType == RowFrame && f.upper == UnboundedFollowing),
      frames(df))
    assert(reversed(df), windows(df)) // the mirrored ordering
    assert(df.collect().length === 7)
  }

  test("flipped UNBOUNDED FOLLOWING pieces match a native reference") {
    Tables.registerAll(spark, sfDir)
    val got = q(
      """SELECT o_orderkey,
        |  sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS s,
        |  last_value(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS lv
        |FROM orders""".stripMargin)
    assertPlanned(got)
    // reference pays the O(n²) frame — fine at fixture size. The excluded
    // remainder's last equals the frame's last whenever the frame has
    // rows beyond the current one.
    val ref = spark.sql(
      """SELECT o_orderkey,
        |  CASE WHEN count(*) OVER w > 1
        |       THEN (sum(o_totalprice) OVER w) - o_totalprice END AS s,
        |  CASE WHEN count(*) OVER w > 1
        |       THEN last_value(o_orderpriority) OVER w END AS lv
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)""".stripMargin)
    val diff = got.as("g").join(ref.as("r"), "o_orderkey")
      .selectExpr("CAST(g.s AS DOUBLE) AS gs", "CAST(r.s AS DOUBLE) AS rs",
        "g.lv AS gl", "r.lv AS rl")
      .where("""NOT (gl <=> rl)
        OR (NOT (gs <=> rs) AND (gs IS NULL OR rs IS NULL OR abs(gs - rs) > 1e-4))""")
    assert(diff.count() == 0)
  }

  test("split pieces never mix orderings (advisor r16): finite-lo halves ride the flip together") {
    // [k PRE, UNB FOL]: BOTH halves must live on the reversed sort —
    // a forward before-half plus a flipped after-half can double-count
    // or drop a row tied on all ORDER BY keys
    val df = q(
      s"""SELECT sum(x) OVER (PARTITION BY p ORDER BY y
         |  ROWS BETWEEN 2 PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS s
         |FROM $t""".stripMargin)
    assertPlanned(df)
    assert(reversed(df), windows(df))
    def bounds(f: SpecifiedWindowFrame) = (f.lower.sql, f.upper.sql)
    assert(!frames(df).map(bounds).contains(("-2", "-1")), frames(df)) // no forward half
    assert(frames(df).map(bounds).contains(("1", "2")), frames(df)) // flipped before-half
    assert(windows(df).forall(_.windowSpec.orderSpec.forall(_.direction == Descending)),
      s"forward ordering must not appear in any piece: ${windows(df)}")
    assert(df.collect().length === 7)
  }

  test("[UNB, UNB] EXCLUDE CURRENT ROW: sum/count/avg spell total − self, order-independent") {
    val df = q(
      s"""SELECT sum(x) OVER (PARTITION BY p ORDER BY y
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS s
         |FROM $t""".stripMargin)
    assertPlanned(df)
    assert(frames(df).exists(f => f.lower == UnboundedPreceding && f.upper == UnboundedFollowing))
    assert(!reversed(df) && windows(df).forall(_.windowSpec.orderSpec
      .forall(_.direction != Descending))) // no reversed sort needed
    assert(!frames(df).exists(f => f.upper.sql == "-1")) // no half-splitting at all
    sameRows(df, spark.sql(
      s"SELECT sum(x) OVER (PARTITION BY p) - coalesce(x, 0) AS s FROM $t"))
  }

  test("tied ORDER BY keys: hiUnb splits keep the remainder-count multiset invariant") {
    Tables.registerAll(spark, sfDir)
    // Per row, [2 PRE, UNB FOL] EXCLUDE CURRENT ROW over tied keys is
    // tie-arrangement-defined (the frame start depends on the row's slot
    // within its tie run) — no per-row oracle exists in ANY engine. But
    // the per-partition MULTISET of counts is {min(2,p) + N−1−p : p} for
    // every valid arrangement; the pre-fix mixed-ordering split could
    // double-count (count too high) or drop (too low) a tied row, which
    // breaks the multiset. o_custkey % 3 gives deep tie runs.
    val got = q(
      """SELECT o_orderstatus AS st,
        |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_custkey % 3
        |    ROWS BETWEEN 2 PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS c
        |FROM orders""".stripMargin)
    assertPlanned(got)
    val exp = spark.sql(
      """SELECT o_orderstatus AS st,
        |  least(2, row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_custkey % 3) - 1)
        |    + count(*) OVER (PARTITION BY o_orderstatus)
        |    - row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_custkey % 3) AS c
        |FROM orders""".stripMargin)
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)
  }

  test("tied ORDER BY keys: [UNB, UNB] EXCLUDE CURRENT ROW is exact per row (total − self)") {
    Tables.registerAll(spark, sfDir)
    // whole-partition frame: the remainder is total − self for every tie
    // arrangement, so per-row exactness IS checkable (integer sums)
    val got = q(
      """SELECT o_orderkey,
        |  sum(o_custkey % 10 + 1) OVER (PARTITION BY o_orderstatus ORDER BY o_custkey % 10
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS su,
        |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_custkey % 10
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS cu
        |FROM orders""".stripMargin)
    assertPlanned(got)
    val ref = spark.sql(
      """SELECT o_orderkey,
        |  CASE WHEN count(*) OVER wu > 1
        |       THEN (sum(o_custkey % 10 + 1) OVER wu) - (o_custkey % 10 + 1) END AS su,
        |  (count(*) OVER wu) - 1 AS cu
        |FROM orders
        |WINDOW wu AS (PARTITION BY o_orderstatus
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
  }

  test("EXCLUDE NO OTHERS is stripped, TIES/GROUP and RANGE pass through") {
    // NO OTHERS is the default frame: the same rows as no clause at all
    val noOthers = q(
      s"SELECT z, sum(x) OVER (ORDER BY y ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE NO OTHERS) AS s FROM $t")
    assert(frames(noOthers).map(_.sql) ===
      Seq("ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING"), frames(noOthers))
    // k-offset TIES with min fails loudly (no subtraction form exists);
    // the sum spelling answers (k-offset path)
    val ties =
      s"SELECT z, min(x) OVER (ORDER BY y, z ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) AS m FROM $t"
    assert(loud(ties).getMessage.contains("k-offset"))
    assertPlanned(q(ties.replace("min(", "sum(")))
    // RANGE-mode EXCLUDE CURRENT ROW rides the subtract path (frame − the
    // current row's own contribution); min/max fail loudly (a peer-value
    // row cannot be cut out of a value range)
    val range =
      s"SELECT z, sum(x) OVER (ORDER BY y RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s FROM $t"
    val rr = q(range)
    assertPlanned(rr)
    assert(frames(rr).map(_.sql).contains("RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING"), frames(rr))
    sameRows(rr, spark.sql(
      s"""SELECT z, CASE WHEN count(x) OVER w - (CASE WHEN x IS NULL THEN 0 ELSE 1 END) > 0
         |  THEN sum(x) OVER w - coalesce(x, 0) END AS s
         |FROM $t WINDOW w AS (ORDER BY y RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)""".stripMargin))
    loud(range.replace("sum(", "min("))
  }

  test("named WINDOW with EXCLUDE is inlined; without EXCLUDE it is kept") {
    val named = q(
      s"""SELECT z, sum(x) OVER w AS s, count(*) OVER w AS c FROM $t
         |WINDOW w AS (ORDER BY y, z ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)""".stripMargin)
    assertPlanned(named)
    sameRows(named, q(
      s"""SELECT z,
         |  sum(x) OVER (ORDER BY y, z ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s,
         |  count(*) OVER (ORDER BY y, z ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS c
         |FROM $t""".stripMargin))
    val plain = q(
      s"""SELECT z, sum(x) OVER w AS s FROM $t
         |WINDOW w AS (ORDER BY y ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)""".stripMargin)
    assert(frames(plain).map(_.sql) === Seq("ROWS BETWEEN 1 PRECEDING AND CURRENT ROW"))
  }

  test("EXCLUDE inside a string literal is untouched") {
    val lit = s"SELECT 'ROWS EXCLUDE CURRENT ROW' AS s, sum(x) OVER (ORDER BY y) FROM $t"
    assert(graft.dialect.WindowExclude.rewrite(lit) == lit)
    assert(q(lit).collect().map(_.getString(0)).toSet === Set("ROWS EXCLUDE CURRENT ROW"))
  }

  // ------------------------------- EXCLUDE TIES / EXCLUDE GROUP (round 10)

  test("EXCLUDE TIES/GROUP match a self-join reference on duplicate order keys") {
    Tables.registerAll(spark, sfDir)
    val sql =
      """SELECT o_orderkey,
        |  CAST(sum(o_totalprice) OVER wt AS DOUBLE) AS ties_sum,
        |  CAST(count(*) OVER wt AS BIGINT) AS ties_cnt,
        |  CAST(avg(o_totalprice) OVER wt AS DOUBLE) AS ties_avg,
        |  CAST(min(o_totalprice) OVER wt AS DOUBLE) AS ties_min,
        |  CAST(sum(o_totalprice) OVER wg AS DOUBLE) AS grp_sum,
        |  CAST(max(o_totalprice) OVER wg AS DOUBLE) AS grp_max,
        |  CAST(count(*) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |    EXCLUDE GROUP) AS BIGINT) AS full_grp_cnt,
        |  CAST(sum(o_totalprice) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderdate
        |    RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
        |    EXCLUDE TIES) AS DOUBLE) AS suffix_ties_sum
        |FROM orders
        |WINDOW wt AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
        |              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        |              EXCLUDE TIES),
        |       wg AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
        |              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        |              EXCLUDE GROUP)""".stripMargin
    val got = q(sql)
    assertPlanned(got)
    assert(helpers(got).contains("dense_rank"), windows(got))
    // reference: one self-join on the partition key, per-row conditional
    // aggregates over the peer relation (below / not-equal / above)
    val ref = spark.sql(
      """SELECT a.o_orderkey,
        |  CAST(coalesce(sum(CASE WHEN b.o_orderdate < a.o_orderdate
        |         THEN b.o_totalprice END), 0) + a.o_totalprice AS DOUBLE) AS ties_sum,
        |  count(CASE WHEN b.o_orderdate < a.o_orderdate THEN 1 END) + 1 AS ties_cnt,
        |  CAST((coalesce(sum(CASE WHEN b.o_orderdate < a.o_orderdate
        |          THEN b.o_totalprice END), 0) + a.o_totalprice) AS DOUBLE)
        |    / CAST(count(CASE WHEN b.o_orderdate < a.o_orderdate THEN 1 END) + 1
        |        AS DOUBLE) AS ties_avg,
        |  CAST(CASE WHEN min(CASE WHEN b.o_orderdate < a.o_orderdate
        |              THEN b.o_totalprice END) IS NULL THEN a.o_totalprice
        |       ELSE least(min(CASE WHEN b.o_orderdate < a.o_orderdate
        |              THEN b.o_totalprice END), a.o_totalprice) END AS DOUBLE) AS ties_min,
        |  CAST(sum(CASE WHEN b.o_orderdate < a.o_orderdate
        |         THEN b.o_totalprice END) AS DOUBLE) AS grp_sum,
        |  CAST(max(CASE WHEN b.o_orderdate < a.o_orderdate
        |         THEN b.o_totalprice END) AS DOUBLE) AS grp_max,
        |  count(CASE WHEN b.o_orderdate <> a.o_orderdate THEN 1 END) AS full_grp_cnt,
        |  CAST(coalesce(sum(CASE WHEN b.o_orderdate > a.o_orderdate
        |         THEN b.o_totalprice END), 0) + a.o_totalprice AS DOUBLE) AS suffix_ties_sum
        |FROM orders a JOIN orders b ON a.o_orderpriority = b.o_orderpriority
        |GROUP BY a.o_orderkey, a.o_orderdate, a.o_totalprice""".stripMargin)
    // per-column comparison with a float tolerance (ties_avg differs in
    // ulps between the split form and the self-join form, so a rounded
    // exceptAll can flip on .0005 boundaries); NULLs must agree exactly
    import org.apache.spark.sql.functions.{abs, col}
    val cols = Seq("ties_sum", "ties_cnt", "ties_avg", "ties_min",
      "grp_sum", "grp_max", "full_grp_cnt", "suffix_ties_sum")
    val g = got.select(col("o_orderkey") +: cols.map(c => col(c).as("g_" + c)): _*)
    val r = ref.select(col("o_orderkey") +: cols.map(c => col(c).as("r_" + c)): _*)
    val joined = g.join(r, "o_orderkey")
    assert(joined.count() === got.count() && got.count() > 0)
    val bad = joined.filter(cols.map(c =>
      !(col("g_" + c) <=> col("r_" + c)) &&
        !(col("g_" + c).isNotNull && col("r_" + c).isNotNull &&
          abs(col("g_" + c).cast("double") - col("r_" + c).cast("double")) < 1e-3)
    ).reduce(_ || _))
    assert(bad.count() === 0, bad.collect().take(5).mkString("\n"))
    // sanity: at least one row must have real peers, or TIES ≡ CURRENT ROW
    // and the test proves nothing
    assert(got.filter(col("full_grp_cnt") > 0).count() > 0)
  }

  test("TIES/GROUP ownership: CAST wrapping and scalar-subquery siblings resolve to the right SELECT") {
    Tables.registerAll(spark, sfDir)
    val got = q(
      """SELECT o_orderkey,
        |  (SELECT max(n_nationkey) FROM nation) AS nmax,
        |  CAST(min(o_totalprice) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderdate EXCLUDE TIES) AS DOUBLE) AS s
        |FROM orders WHERE o_orderkey <= 200""".stripMargin)
    assertPlanned(got)
    assert(got.columns.toSeq === Seq("o_orderkey", "nmax", "s"))
    // the scalar subquery keeps its own plan: no helper rides into it
    val subqueries = qe(got).analyzed.flatMap(_.expressions.flatMap(_.collect {
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery => s.plan }))
    assert(subqueries.nonEmpty && subqueries.forall(!_.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Window])))
    // TIES keeps the current row: s is never NULL and never above the row
    val rows = got.collect()
    assert(rows.nonEmpty && rows.forall(r => !r.isNullAt(2)))
    sameRows(got.selectExpr("o_orderkey"), spark.sql(
      "SELECT o_orderkey FROM orders WHERE o_orderkey <= 200"))
  }

  test("wrap keeps the FROM alias: table-qualified outer refs resolve (round-10 cliff removed)") {
    Tables.registerAll(spark, sfDir)
    val got = q(
      """SELECT o.o_orderkey, o.o_totalprice,
        |  CAST(min(o.o_totalprice) OVER (PARTITION BY o.o_orderpriority
        |    ORDER BY o.o_orderdate EXCLUDE GROUP) AS DOUBLE) AS s
        |FROM orders o WHERE o.o_orderkey <= 100""".stripMargin)
    assertPlanned(got)
    assert(got.columns.toSeq === Seq("o_orderkey", "o_totalprice", "s"))
    assert(got.collect().nonEmpty)
  }

  test("bare SELECT * never leaks helper columns (star-EXCEPT hygiene)") {
    Tables.registerAll(spark, sfDir)
    val base = spark.sql("SELECT * FROM nation").columns.toSeq
    val got = q(
      """SELECT *, CAST(min(n_nationkey) OVER (ORDER BY n_regionkey EXCLUDE GROUP)
        | AS BIGINT) AS c
        |FROM nation""".stripMargin)
    assert(got.columns.toSeq === base :+ "c",
      s"helper columns leaked: ${got.columns.mkString(",")}")
    // qualified star over the FROM alias: same hygiene
    val qgot = q(
      """SELECT n.*, CAST(min(n_nationkey) OVER (ORDER BY n_regionkey EXCLUDE GROUP)
        | AS BIGINT) AS c
        |FROM nation n""".stripMargin)
    assert(qgot.columns.toSeq === base :+ "c",
      s"helper columns leaked through n.*: ${qgot.columns.mkString(",")}")
    sameRows(qgot, got)
    // a star qualified by one side of a join
    val joined = q(
      """SELECT a.*, min(a.n_nationkey) OVER (ORDER BY a.n_regionkey EXCLUDE GROUP) AS c
        |FROM nation a JOIN region b ON a.n_regionkey = b.r_regionkey""".stripMargin)
    assert(joined.columns.toSeq === base :+ "c")
    // a user-written star-EXCEPT and DuckDB's star sugar (REPLACE/EXCLUDE
    // lists) keep the columns they give without a window
    for (star <- Seq("* EXCEPT (n_name)", "* REPLACE (upper(n_name) AS n_name)",
        "* EXCLUDE (n_regionkey)")) {
      val got = q(s"SELECT $star, min(n_nationkey) OVER (ORDER BY n_regionkey EXCLUDE GROUP) AS c FROM nation")
      assert(got.columns.toSeq === q(s"SELECT $star FROM nation").columns.toSeq :+ "c", star)
    }
  }

  // A '--' or '/* */' comment between SELECT (or a comma) and '*' changes
  // nothing: the helper columns never reach the output.
  test("comments before a star projection never leak helper columns") {
    Tables.registerAll(spark, sfDir)
    val base = spark.sql("SELECT * FROM nation").columns.toSeq
    val variants = Seq(
      "SELECT /* cols */ *, CAST(min(n_nationkey) OVER (ORDER BY n_regionkey EXCLUDE GROUP) AS BIGINT) AS c FROM nation",
      "SELECT -- all columns\n *, CAST(min(n_nationkey) OVER (ORDER BY n_regionkey EXCLUDE GROUP) AS BIGINT) AS c FROM nation",
      "SELECT /* nested /* comment */ still one */ *, CAST(min(n_nationkey) OVER (ORDER BY n_regionkey EXCLUDE GROUP) AS BIGINT) AS c FROM nation",
      // comment between a comma and the star
      "SELECT n_name, /* rest */ n.*, CAST(min(n_nationkey) OVER (ORDER BY n_regionkey EXCLUDE GROUP) AS BIGINT) AS c FROM nation n",
      // comment between SELECT and DISTINCT with a following star
      "SELECT /* c */ DISTINCT *, CAST(min(n_nationkey) OVER (ORDER BY n_regionkey EXCLUDE GROUP) AS BIGINT) AS c FROM nation",
      // a comment inside a qualified star path
      "SELECT n./* ? */*, CAST(min(n_nationkey) OVER (ORDER BY n_regionkey EXCLUDE GROUP) AS BIGINT) AS c FROM nation n")
    for (sql <- variants) {
      val got = q(sql)
      assert(got.columns.count(_.startsWith("__graft")) === 0,
        s"helper columns leaked for:\n$sql\n→ ${got.columns.mkString(",")}")
      assert(got.columns.last === "c", sql)
      // star expands to exactly the base columns (plus the extra explicit
      // n_name in the comma variant) — nothing dropped, nothing added
      val extra = if (sql.startsWith("SELECT n_name,")) 1 else 0
      assert(got.columns.size === base.size + 1 + extra, sql)
      assert(got.collect().length === 25, sql)
    }
  }

  test("k-offset ROWS frames with EXCLUDE TIES/GROUP match a window-free reference") {
    Tables.registerAll(spark, sfDir)
    // Tie-order determinism: with real peer groups (l_linenumber ties are
    // huge), per-ROW results depend on which peer got which row_number —
    // but the MULTISET of (flag, linenumber, result) rows does not, as
    // long as the aggregated value is a function of the ORDER BY key:
    // every rn-range cuts only inside peer groups, where the value is
    // constant. Both the rule and the self-join reference therefore
    // produce identical multisets under any tie order.
    val got = q(
      """SELECT l_returnflag, l_linenumber,
        |  CAST(sum(l_linenumber) OVER w AS BIGINT) AS g_sum,
        |  CAST(count(*) OVER w AS BIGINT) AS g_cnt,
        |  CAST(count(l_linenumber) OVER (PARTITION BY l_returnflag
        |    ORDER BY l_linenumber
        |    ROWS BETWEEN 4 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) AS BIGINT) AS t_cnt,
        |  CAST(avg(l_linenumber) OVER (PARTITION BY l_returnflag
        |    ORDER BY l_linenumber
        |    ROWS BETWEEN 2 PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP)
        |    AS DOUBLE) AS mixed_avg
        |FROM lineitem WHERE l_orderkey <= 1000
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_linenumber
        |             ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING EXCLUDE GROUP)""".stripMargin)
    assertPlanned(got)
    assert(helpers(got).contains("row_number"), windows(got))
    // reference: materialize rn/peer bounds, then aggregate the physical
    // frame minus the peer group via an explicit range self-join
    val ref = spark.sql(
      """WITH b AS (
        |  SELECT l_returnflag, l_linenumber,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_linenumber) AS rn,
        |    min(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_linenumber))
        |      OVER (PARTITION BY l_returnflag, l_linenumber) AS ps,
        |    max(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_linenumber))
        |      OVER (PARTITION BY l_returnflag, l_linenumber) AS pe
        |  FROM lineitem WHERE l_orderkey <= 1000)
        |SELECT a.l_returnflag, a.l_linenumber,
        |  sum(CASE WHEN x.rn BETWEEN a.rn - 3 AND a.rn + 2
        |           AND (x.rn < a.ps OR x.rn > a.pe) THEN x.l_linenumber END) AS g_sum,
        |  count(CASE WHEN x.rn BETWEEN a.rn - 3 AND a.rn + 2
        |           AND (x.rn < a.ps OR x.rn > a.pe) THEN 1 END) AS g_cnt,
        |  count(CASE WHEN x.rn BETWEEN a.rn - 4 AND a.rn + 1
        |           AND (x.rn < a.ps OR x.rn > a.pe OR x.rn = a.rn) THEN 1 END) AS t_cnt,
        |  CAST(sum(CASE WHEN x.rn >= a.rn - 2
        |           AND (x.rn < a.ps OR x.rn > a.pe) THEN x.l_linenumber END) AS DOUBLE)
        |    / nullif(count(CASE WHEN x.rn >= a.rn - 2
        |           AND (x.rn < a.ps OR x.rn > a.pe) THEN 1 END), 0) AS mixed_avg
        |FROM b a JOIN b x ON a.l_returnflag = x.l_returnflag
        |GROUP BY a.l_returnflag, a.l_linenumber, a.rn, a.ps, a.pe""".stripMargin)
    assert(got.count() > 0 && got.count() === ref.count())
    assert(got.exceptAll(ref).count() === 0 && ref.exceptAll(got).count() === 0)
    // frames must both cut peer groups (boundary rows: nonempty pieces)
    // and fall entirely inside one (interior rows: empty pieces, g_cnt=0)
    import org.apache.spark.sql.functions.col
    assert(got.filter(col("g_cnt") === 0).count() > 0)
    assert(got.filter(col("g_cnt") > 0).count() > 0)
  }

  test("TIES/GROUP frame-grid spellings: GROUPS mode, short form, DESC + multi-column order keys") {
    Tables.registerAll(spark, sfDir)
    // GROUPS mode and the no-BETWEEN short form both map onto the same
    // supported grid; the window base uses a DESC key plus a second
    // order column, so peer groups are (status, priority) pairs
    val got = q(
      """SELECT o_orderkey,
        |  CAST(count(*) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderstatus DESC, o_orderdate
        |    GROUPS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |    EXCLUDE GROUP) AS BIGINT) AS non_peers,
        |  CAST(count(*) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderstatus DESC, o_orderdate
        |    ROWS UNBOUNDED PRECEDING EXCLUDE TIES) AS BIGINT) AS short_ties_cnt
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin)
    assertPlanned(got)
    // one rank over the shared (status DESC, date) base serves both calls
    val ranks = windows(got).filter(_.windowFunction.isInstanceOf[DenseRank])
    assert(ranks.size === 1 && ranks.head.windowSpec.orderSpec.map(o =>
      (o.child.references.head.name, o.direction)) === Seq(("o_orderstatus", Descending),
        ("o_orderdate", org.apache.spark.sql.catalyst.expressions.Ascending)), ranks)
    val ref = spark.sql(
      """SELECT a.o_orderkey,
        |  count(CASE WHEN b.o_orderstatus <> a.o_orderstatus
        |             OR b.o_orderdate <> a.o_orderdate THEN 1 END) AS non_peers,
        |  count(CASE WHEN b.o_orderstatus > a.o_orderstatus
        |             OR (b.o_orderstatus = a.o_orderstatus
        |                 AND b.o_orderdate < a.o_orderdate) THEN 1 END) + 1
        |    AS short_ties_cnt
        |FROM (SELECT * FROM orders WHERE o_orderkey <= 2000) a
        |JOIN (SELECT * FROM orders WHERE o_orderkey <= 2000) b
        |  ON a.o_orderpriority = b.o_orderpriority
        |GROUP BY a.o_orderkey""".stripMargin)
    assert(got.count() > 0)
    assert(got.exceptAll(ref).count() === 0 && ref.exceptAll(got).count() === 0)
  }

  test("TIES/GROUP out-of-scope shapes pass through: k-offset min/max (ROWS and RANGE), GROUP BY block with min, missing ORDER BY") {
    // ROWS-offset pieces are prefix-aggregate differences and RANGE
    // offsets ride the subtract path — min/max can do neither: loud
    loud(s"SELECT min(x) OVER (ORDER BY y ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE GROUP) FROM $t")
    loud(s"SELECT min(x) OVER (ORDER BY y RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE GROUP) FROM $t")
    // no ORDER BY, no peers: loud (Spark refuses the unordered RANGE frame
    // itself; the default frame reaches the rule)
    intercept[org.apache.spark.sql.AnalysisException](q(
      s"SELECT sum(x) OVER (PARTITION BY p RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) FROM $t")
      .collect())
    assert(loud(s"SELECT sum(x) OVER (PARTITION BY p EXCLUDE TIES) FROM $t")
      .getMessage.contains("ORDER BY"))
    // grouped blocks answer whatever the select item looks like: the rule
    // sees the grouped rows. g is unique per grouped row, so TIES excludes
    // nothing and the reference is the plain window.
    val g = "(VALUES (1, 5), (1, 3), (2, 8), (3, 1), (3, 4)) AS t(g, x)"
    def check(sql: String, ref: String) = {
      val got = q(sql)
      assertPlanned(got)
      sameRows(got, spark.sql(ref))
    }
    check(s"SELECT g, min(min(x)) OVER (ORDER BY g EXCLUDE TIES) + g FROM $g GROUP BY g",
      s"SELECT g, min(min(x)) OVER (ORDER BY g) + g FROM $g GROUP BY g")
    // ORDER BY an aggregate the select list does not project, over a
    // windowed grouped select, is Spark's own limit, EXCLUDE or not: loud
    for (excl <- Seq(" EXCLUDE TIES", ""))
      intercept[org.apache.spark.sql.AnalysisException](q(
        s"SELECT g, min(min(x)) OVER (ORDER BY g$excl) AS m FROM $g GROUP BY g ORDER BY count(*)")
        .collect())
    check(s"SELECT g + 1, min(min(x)) OVER (ORDER BY g EXCLUDE TIES) AS m FROM $g GROUP BY g",
      s"SELECT g + 1, min(min(x)) OVER (ORDER BY g) AS m FROM $g GROUP BY g")
    // EXCLUDE GROUP over the same grouped rows: min over the other groups
    check(s"SELECT g, min(min(x)) OVER (ORDER BY g RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) + g FROM $g GROUP BY g",
      s"""SELECT a.g, min(b.m) + a.g FROM (SELECT g, min(x) AS m FROM $g GROUP BY g) a
         |JOIN (SELECT g, min(x) AS m FROM $g GROUP BY g) b ON a.g <> b.g GROUP BY a.g""".stripMargin)
  }

  test("set-op branches wrap independently; operator and trailing ORDER BY survive (round 11)") {
    Tables.registerAll(spark, sfDir)
    def branch(status: String, fn: String, frame: String) =
      s"""SELECT o_orderkey AS k,
         |  $fn(o_totalprice) OVER (PARTITION BY o_orderpriority
         |    ORDER BY o_orderdate $frame) AS m
         |FROM orders WHERE o_orderstatus = '$status'""".stripMargin
    val f1 = "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES"
    val f2 = "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP"
    // min/max take the rank pieces in BOTH branches; the trailing ORDER BY
    // belongs to the union
    val got = q(branch("F", "min", f1) + "\nUNION ALL\n" + branch("O", "max", f2) + "\nORDER BY k")
    assertPlanned(got)
    assert(got.columns.toSeq === Seq("k", "m")) // no helper-column leak
    val ks = got.collect().map(_.getLong(0)).toSeq
    assert(ks === ks.sorted)
    // each branch equals its standalone statement
    val ref = q(branch("F", "min", f1)).unionAll(q(branch("O", "max", f2)))
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
    // INTERSECT/EXCEPT branches plan too; an EXCLUDE-free branch is plain
    val b1 = "SELECT min(n_nationkey) OVER (ORDER BY n_regionkey EXCLUDE TIES) AS v FROM nation"
    val b2 = "SELECT min(n_nationkey) OVER (ORDER BY n_regionkey EXCLUDE GROUP) AS v FROM nation"
    val b3 = "SELECT n_nationkey AS v FROM nation WHERE n_nationkey > 3"
    sameRows(q(s"$b1 INTERSECT $b2 EXCEPT $b3"), q(b1).intersect(q(b2)).except(q(b3)))
    // a GROUP BY branch inside a set-op, with the later branch plain
    val g = "(VALUES (1, 5), (1, 3), (2, 8), (3, 1)) AS t(g, x)"
    sameRows(q(s"SELECT g, min(min(x)) OVER (ORDER BY g EXCLUDE TIES) FROM $g GROUP BY g UNION ALL SELECT 1, 2"),
      spark.sql(s"SELECT g, min(min(x)) OVER (ORDER BY g) FROM $g GROUP BY g UNION ALL SELECT 1, 2"))
    sameRows(q(s"SELECT g, min(min(x)) OVER (ORDER BY g EXCLUDE TIES) + g FROM $g GROUP BY g UNION ALL SELECT 1, 2"),
      spark.sql(s"SELECT g, min(min(x)) OVER (ORDER BY g) + g FROM $g GROUP BY g UNION ALL SELECT 1, 2"))
  }

  test("subtract path: RANGE-mode TIES/GROUP sum/count/avg are wrap-free and match a self-join reference") {
    Tables.registerAll(spark, sfDir)
    // default frame, explicit RANGE offsets, and the [k PRECEDING,
    // UNBOUNDED FOLLOWING] flip — all against an explicit value-range
    // self-join; o_orderdate peers are wide so TIES/GROUP bite. The
    // o_custkey argument is integer-valued, so subtraction is exact.
    val got = q(
      """SELECT o_orderkey,
        |  CAST(sum(o_custkey) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderdate EXCLUDE GROUP) AS BIGINT) AS dflt_grp,
        |  CAST(count(*) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 2 DAYS PRECEDING AND INTERVAL 1 DAYS FOLLOWING
        |    EXCLUDE TIES) AS BIGINT) AS band_ties_cnt,
        |  CAST(avg(o_custkey) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 2 DAYS PRECEDING AND UNBOUNDED FOLLOWING
        |    EXCLUDE GROUP) AS DOUBLE) AS flip_avg
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin)
    assertPlanned(got)
    // wrap-free: no helper ranks
    assert(!helpers(got).exists(h => h.startsWith("__graft") || h == "dense_rank"), helpers(got))
    // no O(n^2) UNBOUNDED FOLLOWING upper bound survives (the flip case
    // runs on the DESC NULLS FIRST ordering as [UNB PRECEDING, k FOLLOWING])
    assert(quadratic(got).isEmpty, quadratic(got))
    assert(reversed(got), windows(got))
    val ref = spark.sql(
      """SELECT a.o_orderkey,
        |  CAST(sum(CASE WHEN b.o_orderdate < a.o_orderdate
        |         THEN b.o_custkey END) AS BIGINT) AS dflt_grp,
        |  CAST(count(CASE WHEN b.o_orderdate BETWEEN a.o_orderdate - INTERVAL 2 DAYS
        |           AND a.o_orderdate + INTERVAL 1 DAYS
        |           AND (b.o_orderdate <> a.o_orderdate OR b.rid = a.rid)
        |         THEN 1 END) AS BIGINT) AS band_ties_cnt,
        |  CAST(avg(CASE WHEN b.o_orderdate >= a.o_orderdate - INTERVAL 2 DAYS
        |           AND b.o_orderdate <> a.o_orderdate
        |         THEN b.o_custkey END) AS DOUBLE) AS flip_avg
        |FROM (SELECT *, o_orderkey AS rid FROM orders WHERE o_orderkey <= 2000) a
        |JOIN (SELECT *, o_orderkey AS rid FROM orders WHERE o_orderkey <= 2000) b
        |  ON a.o_orderpriority = b.o_orderpriority
        |GROUP BY a.o_orderkey""".stripMargin)
    assert(got.count() > 0 && got.count() === ref.count())
    // flip_avg is a sum/count division vs the reference's native avg —
    // ulp noise, so compare with a float tolerance (NULLs exact)
    import org.apache.spark.sql.functions.{abs, col}
    val cols = Seq("dflt_grp", "band_ties_cnt", "flip_avg")
    val joined = got.select(col("o_orderkey") +: cols.map(c => col(c).as("g_" + c)): _*)
      .join(ref.select(col("o_orderkey") +: cols.map(c => col(c).as("r_" + c)): _*),
        "o_orderkey")
    assert(joined.count() === got.count())
    val bad = joined.filter(cols.map(c =>
      !(col("g_" + c) <=> col("r_" + c)) &&
        !(col("g_" + c).isNotNull && col("r_" + c).isNotNull &&
          abs(col("g_" + c).cast("double") - col("r_" + c).cast("double")) < 1e-6)
    ).reduce(_ || _))
    assert(bad.count() === 0, bad.collect().take(5).mkString("\n"))
    // GROUP BY blocks are in scope
    val g = q(
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(sum(count(*)) OVER (ORDER BY o_orderpriority EXCLUDE GROUP)
        |    AS BIGINT) AS other_cnt
        |FROM orders GROUP BY o_orderpriority, o_orderstatus""".stripMargin)
    assertPlanned(g)
    val gref = spark.sql(
      """WITH c AS (SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |           FROM orders GROUP BY o_orderpriority, o_orderstatus)
        |SELECT a.o_orderpriority, a.o_orderstatus,
        |  CAST(sum(CASE WHEN b.o_orderpriority < a.o_orderpriority
        |         THEN b.n END) AS BIGINT) AS other_cnt
        |FROM c a CROSS JOIN c b
        |GROUP BY a.o_orderpriority, a.o_orderstatus""".stripMargin)
    assert(g.count() > 0)
    assert(g.exceptAll(gref).count() === 0 && gref.exceptAll(g).count() === 0)
  }

  // GROUP BY/HAVING blocks: the windows range over the grouped rows, which
  // is what the rule sees beneath the Window nodes.
  test("grouped blocks: EXCLUDE TIES/GROUP over grouped aggregates matches a hand-computed reference") {
    Tables.registerAll(spark, sfDir)
    // 5 groups, one row each post-group; ORDER BY the group key makes
    // every row its own peer group → full frame EXCLUDE GROUP = min over
    // all OTHER rows (the default frame would stop at the current group)
    val got = q(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(min(count(*)) OVER (ORDER BY o_orderpriority
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |    EXCLUDE GROUP) AS BIGINT) AS m
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    assertPlanned(got)
    val rows = got.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length > 1)
    val counts = rows.map(_._2)
    rows.foreach { case (_, n, m) =>
      // min over the multiset of counts minus ONE instance of this row's n
      val buf = counts.toBuffer
      buf.remove(buf.indexOf(n))
      assert(m === buf.min, s"n=$n m=$m counts=${counts.mkString(",")}")
    }
    // PARTITION BY + HAVING + alias tail + TIES (keeps the current row)
    val df2 = q(
      """SELECT o_orderpriority, o_orderstatus, sum(o_totalprice) AS s,
        |  sum(sum(o_totalprice)) OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_orderpriority EXCLUDE TIES) AS w
        |FROM orders GROUP BY o_orderpriority, o_orderstatus
        |HAVING count(*) > 1 ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
    val rows2 = df2.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(rows2.nonEmpty)
    // reference: default RANGE frame [start, current group] minus peers
    // plus self — with a unique order key per partition row, w = prefix
    // sum up to and including this row
    rows2.groupBy(_._2).foreach { case (_, part) =>
      val sorted = part.sortBy(_._1)
      var acc = 0.0
      sorted.foreach { case (_, _, s, w) =>
        acc += s
        assert(math.abs(w - acc) < 1e-6 * math.max(1.0, math.abs(acc)),
          s"w=$w expected=$acc")
      }
    }
    // output schema: exactly the declared columns, no helper leak
    assert(df2.columns.toSeq === Seq("o_orderpriority", "o_orderstatus", "s", "w"))
  }

  // Comments with commas or parentheses inside a grouped select list are
  // the parser's business: every variant answers like the plain statement.
  test("comments with commas/parens inside a grouped EXCLUDE select list") {
    Tables.registerAll(spark, sfDir)
    val plain =
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(min(count(*)) OVER (ORDER BY o_orderpriority
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |    EXCLUDE GROUP) AS BIGINT) AS m
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    val expect = q(plain).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(expect.nonEmpty)
    val variants = Seq(
      // block comment with a comma and an unbalanced paren between items
      """SELECT o_orderpriority, /* a, b ( */ count(*) AS n,
        |  CAST(min(count(*)) OVER (ORDER BY o_orderpriority
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |    EXCLUDE GROUP) AS BIGINT) AS m
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      // line comment with ',' and ')' at the end of an item
      """SELECT o_orderpriority, count(*) AS n, -- t, ) x
        |  CAST(min(count(*)) OVER (ORDER BY o_orderpriority
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |    EXCLUDE GROUP) AS BIGINT) AS m
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      // a bogus 'AS zz' inside a comment must not clobber the real alias
      """SELECT o_orderpriority, count(*) AS n /* AS zz */,
        |  CAST(min(count(*)) OVER (ORDER BY o_orderpriority
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |    EXCLUDE GROUP) AS BIGINT) AS m
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    for (sql <- variants) {
      val got = q(sql)
      assertPlanned(got)
      assert(got.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq === expect,
        sql)
      assert(got.columns.toSeq === Seq("o_orderpriority", "n", "m"), sql)
    }
  }

  test("GROUPS k-offset frames with EXCLUDE TIES/GROUP: all five aggregates match a peer-group reference") {
    Tables.registerAll(spark, sfDir)
    // GROUPS offsets are whole peer groups — dense_rank units — so the
    // pieces are integer-RANGE sliding frames and min/max work too
    val got = q(
      """SELECT o_orderkey,
        |  CAST(sum(o_custkey) OVER w AS BIGINT) AS s,
        |  CAST(count(*) OVER w AS BIGINT) AS c,
        |  CAST(min(o_custkey) OVER w AS BIGINT) AS mn,
        |  CAST(max(o_custkey) OVER w AS BIGINT) AS mx,
        |  CAST(avg(o_custkey) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderdate
        |    GROUPS BETWEEN 1 PRECEDING AND 2 FOLLOWING EXCLUDE TIES)
        |    AS DOUBLE) AS av
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
        |             GROUPS BETWEEN 2 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP)""".stripMargin)
    assertPlanned(got)
    assert(frames(got).map(f => (f.lower.sql, f.upper.sql)).contains(("-2", "-1")), frames(got))
    val ref = spark.sql(
      """WITH b AS (
        |  SELECT o_orderkey, o_custkey, o_orderpriority, o_orderdate,
        |    dense_rank() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_orderdate) AS dr
        |  FROM orders WHERE o_orderkey <= 2000)
        |SELECT a.o_orderkey,
        |  CAST(sum(CASE WHEN x.dr BETWEEN a.dr - 2 AND a.dr + 1
        |         AND x.dr <> a.dr THEN x.o_custkey END) AS BIGINT) AS s,
        |  CAST(count(CASE WHEN x.dr BETWEEN a.dr - 2 AND a.dr + 1
        |         AND x.dr <> a.dr THEN 1 END) AS BIGINT) AS c,
        |  CAST(min(CASE WHEN x.dr BETWEEN a.dr - 2 AND a.dr + 1
        |         AND x.dr <> a.dr THEN x.o_custkey END) AS BIGINT) AS mn,
        |  CAST(max(CASE WHEN x.dr BETWEEN a.dr - 2 AND a.dr + 1
        |         AND x.dr <> a.dr THEN x.o_custkey END) AS BIGINT) AS mx,
        |  CAST((sum(CASE WHEN x.dr BETWEEN a.dr - 1 AND a.dr + 2
        |         AND x.dr <> a.dr THEN x.o_custkey END)
        |      + max(a.o_custkey)) AS DOUBLE)
        |    / (count(CASE WHEN x.dr BETWEEN a.dr - 1 AND a.dr + 2
        |         AND x.dr <> a.dr THEN 1 END) + 1) AS av
        |FROM b a JOIN b x ON a.o_orderpriority = x.o_orderpriority
        |GROUP BY a.o_orderkey, a.dr, a.o_custkey""".stripMargin)
    assert(got.count() > 0 && got.count() === ref.count())
    assert(got.exceptAll(ref).count() === 0 && ref.exceptAll(got).count() === 0)
  }

  test("frame EXCLUDE and window FILTER survive stored view text: temp and persisted views read back the bare statement's rows") {
    // Spark re-reads a stored view's text without the engine's parse hook;
    // the exclusion key and the window FILTER are part of that text (a
    // persisted view may not read temporary views, so the rows are inline)
    val body =
      """SELECT id,
        |  CAST(sum(v) OVER (PARTITION BY k ORDER BY d
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS BIGINT) AS ties_sum,
        |  CAST(min(v) OVER w AS BIGINT) AS grp_min,
        |  CAST(sum(v) FILTER (WHERE v > 4) OVER (PARTITION BY k ORDER BY id) AS BIGINT) AS f_sum,
        |  count(v) FILTER (WHERE d > 1) OVER w AS f_grp_cnt
        |FROM (VALUES (1, 'a', 1, 10), (2, 'a', 1, 20), (3, 'a', 2, 5), (4, 'a', 3, 7),
        |             (5, 'b', 1, 3), (6, 'b', 1, 4), (7, 'b', 2, NULL)) AS t(id, k, d, v)
        |WINDOW w AS (PARTITION BY k ORDER BY d
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP)""".stripMargin
    val bare = q(body)
    // hand-checked: TIES keeps the row and drops its other peers; GROUP
    // takes the minimum over the other peer groups; the FILTER sums run
    // over v > 4 and count the other peer groups' rows with d > 1
    assert(bare.collect().map(r => (r.getInt(0), r.getLong(1), r.get(2), r.get(3), r.getLong(4)))
      .sortBy(_._1).toSeq ===
      Seq((1, 10L, 5L, 10L, 2L), (2, 20L, 5L, 30L, 2L), (3, 35L, 7L, 35L, 1L), (4, 42L, 5L, 42L, 1L),
        (5, 3L, null, null, 0L), (6, 4L, null, null, 0L), (7, 7L, 3L, null, 0L)))
    conn.queryDF(s"CREATE OR REPLACE TEMP VIEW excl_tv AS $body").collect()
    conn.queryDF(s"CREATE OR REPLACE VIEW excl_pv AS $body").collect()
    try {
      for (view <- Seq("excl_tv", "excl_pv")) {
        val got = q(s"SELECT * FROM $view")
        assertPlanned(got)
        assert(got.exceptAll(bare).count() === 0 && bare.exceptAll(got).count() === 0, view)
      }
      // the persisted view's stored text carries the key, and plain Spark
      // reads it back in a session with the engine's extensions
      val plain = spark.sql("SELECT * FROM main.excl_pv")
      assert(plain.exceptAll(bare).count() === 0 && bare.exceptAll(plain).count() === 0)
    } finally {
      conn.queryDF("DROP VIEW IF EXISTS excl_pv").collect()
      conn.queryDF("DROP VIEW IF EXISTS excl_tv").collect()
    }
  }

  test("avg under EXCLUDE is DOUBLE, as DuckDB's avg, for DECIMAL arguments too") {
    // each spelled CAST(sum AS DOUBLE) / count over the remaining rows; the
    // `+ 1` above the window is typed from the DOUBLE result
    val df = q(
      """SELECT id,
        |  avg(v) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |    EXCLUDE CURRENT ROW) AS a_cur,
        |  avg(v) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS a_ties,
        |  avg(v) OVER (ORDER BY d RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |    EXCLUDE GROUP) + 1 AS a_grp1
        |FROM (VALUES (1, 1, 1.50), (2, 1, 2.25), (3, 2, 4.00), (4, 3, NULL)) AS t(id, d, v)""".stripMargin)
    assert(df.schema.fields.drop(1).map(_.dataType).toSeq ===
      Seq.fill(3)(org.apache.spark.sql.types.DoubleType))
    assertPlanned(df)
    assert(df.collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq === Seq((1, 3.125, 1.5, 5.0), (2, 2.75, 2.25, 5.0),
        (3, 1.875, 7.75 / 3, 2.875), (4, 7.75 / 3, 7.75 / 3, 7.75 / 3 + 1)))
  }
}
