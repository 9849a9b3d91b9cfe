package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H-shaped relational query suite, adapted to the driver's synthetic
  * schema (see TESTDATA.md — no partsupp, no comment/address columns, dates
  * are timestamps).
  *
  * Coverage targets SURVEY.md §2.2–§2.6: projection/filter/predicates, all
  * join shapes the reference corpus exercises (inner/outer/semi/anti,
  * correlated + uncorrelated subqueries, derived tables), aggregation
  * (multi-key, HAVING, distinct, global), sort/limit/top-k.
  *
  * Every row but q21 is a text row ([[graft.Q.text]]): its DuckDB text runs
  * on the engine's statement path, where Catalyst pushes the filters into
  * the parquet scan, aggregates map-side, broadcasts small sides and fuses
  * top-k to TakeOrderedAndProject (PlanSpec asserts these on the plans).
  */
object RelationalQueries {

  // TPC-H Q1: pricing summary — filter + multi-key aggregate over expressions + sort.
  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      | sum(l_quantity) AS sum_qty,
      | sum(l_extendedprice) AS sum_base_price,
      | sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
      | sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
      | avg(l_quantity) AS avg_qty,
      | avg(l_extendedprice) AS avg_price,
      | avg(l_discount) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // Projection + BETWEEN + IN-list + arithmetic expression (SURVEY §2.2).
  private val q02Sql =
    """SELECT l_orderkey, l_linenumber,
      | l_extendedprice * (1 - l_discount) AS disc_price, l_returnflag
      |FROM lineitem
      |WHERE l_quantity BETWEEN 10 AND 20
      |  AND l_returnflag IN ('A', 'N') AND l_discount >= 0.02
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // TPC-H Q3: 3-way join + group + top-k (TakeOrderedAndProject).
  private val q03Sql =
    """SELECT l_orderkey, o_orderdate, sum(l_extendedprice * (1 - l_discount)) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // TPC-H Q4: EXISTS correlated subquery → left-semi join with a non-equi term.
  private val q04Sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // TPC-H Q5: 6-table join with the c_nationkey = s_nationkey co-location constraint.
  private val q05Sql =
    """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_regionkey = 0
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // TPC-H Q6: global aggregate, pure scan + filter (full parquet pushdown).
  private val q06Sql =
    """SELECT sum(l_extendedprice * l_discount) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin

  // TPC-H Q7: nation self-role join, disjunctive pair filter, year(), 6-way join.
  private val q07Sql =
    """SELECT supp_nation, cust_nation, l_year, sum(volume) AS revenue
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |        year(l_shipdate) AS l_year,
      |        l_extendedprice * (1 - l_discount) AS volume
      |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |        AND c_nationkey = n2.n_nationkey
      |        AND ((n1.n_nationkey < 13 AND n2.n_nationkey >= 13)
      |          OR (n2.n_nationkey < 13 AND n1.n_nationkey >= 13))
      |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // TPC-H Q8: market share — conditional aggregation (CASE inside sum) over the total.
  private val q08Sql =
    """SELECT o_year,
      | sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) / sum(volume) AS mkt_share
      |FROM (SELECT year(o_orderdate) AS o_year,
      |        l_extendedprice * (1 - l_discount) AS volume,
      |        n2.n_name AS supp_nation
      |      FROM part, lineitem, orders, customer, supplier, nation n1, nation n2
      |      WHERE p_partkey = l_partkey AND l_orderkey = o_orderkey
      |        AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
      |        AND n1.n_regionkey = 0 AND l_suppkey = s_suppkey
      |        AND s_nationkey = n2.n_nationkey AND p_type = 'PROMO'
      |        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') all_nations
      |GROUP BY o_year ORDER BY o_year""".stripMargin

  // TPC-H Q9: LIKE filter + 5-way join + group by (nation, year), retailprice-based profit.
  private val q09Sql =
    """SELECT nation, o_year, sum(amount) AS sum_profit
      |FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |        l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.01 AS amount
      |      FROM part, lineitem, supplier, nation, orders
      |      WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey
      |        AND s_nationkey = n_nationkey AND l_orderkey = o_orderkey
      |        AND p_name LIKE '%widget%') profit
      |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin

  // TPC-H Q10: returned-items ranking — join + group + top-20.
  private val q10Sql =
    """SELECT c_custkey, c_name, c_acctbal, n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // TPC-H Q11 (adapted, no partsupp): HAVING against an uncorrelated scalar subquery.
  private val q11Sql =
    """SELECT l_partkey, sum(l_extendedprice * l_quantity) AS value
      |FROM lineitem, supplier, nation
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_nationkey < 13
      |GROUP BY l_partkey
      |HAVING sum(l_extendedprice * l_quantity) >
      |  (SELECT sum(l_extendedprice * l_quantity) * 0.001
      |   FROM lineitem, supplier, nation
      |   WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_nationkey < 13)
      |ORDER BY value DESC, l_partkey""".stripMargin

  // TPC-H Q12 (adapted): join + conditional integer aggregation.
  private val q12Sql =
    """SELECT l_linestatus,
      | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      | CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // TPC-H Q13: left outer join with a compound ON (equality AND non-equi) + two-level aggregation.
  private val q13Sql =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  // TPC-H Q14: promo revenue share — CASE-gated numerator over the total.
  private val q14Sql =
    """SELECT sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
      |   * 100.0 / sum(l_extendedprice * (1 - l_discount)) AS promo_revenue
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin

  // TPC-H Q15: CTE revenue view + scalar max subquery + join (GROUP BY on a select-list alias).
  private val q15Sql =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no, sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY supplier_no)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  // TPC-H Q16: NOT IN subquery (null-aware anti join) + count(DISTINCT).
  private val q16Sql =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part, lineitem
      |WHERE p_partkey = l_partkey AND p_brand <> 'Brand#1'
      |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // TPC-H Q17: correlated scalar subquery (per-part average), decorrelated to aggregate + join.
  private val q17Sql =
    """SELECT sum(l_extendedprice) / 7.0 AS avg_yearly
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
      |  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin

  // TPC-H Q18: IN over a GROUP BY ... HAVING subquery + 3-way join + top-100.
  private val q18Sql =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum(l_quantity) AS total_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // TPC-H Q19: disjunction of conjunctive blocks (OR-of-ANDs) over a join.
  private val q19Sql =
    """SELECT sum(l_extendedprice * (1 - l_discount)) AS revenue
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND (
      |   (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
      | OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      | OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))""".stripMargin

  // TPC-H Q20: doubly nested IN subqueries (semi-join chain).
  private val q20Sql =
    """SELECT s_name, s_acctbal
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY l_suppkey HAVING sum(l_quantity) > 100)
      |ORDER BY s_name""".stripMargin

  // Keeps its builder: a single-pass plan the text misses (text 1.19 s vs 1.03 s, sf0.1).
  /** TPC-H Q21: EXISTS + NOT EXISTS against the same table. The oracle keeps
    * the correlated-subquery form; the Spark plan uses the equivalent
    * aggregate formulation — per order, count distinct suppliers and
    * distinct LATE suppliers, qualify when ≥2 suppliers and exactly one is
    * late — which replaces the semi+anti double self-join (3 lineitem scans
    * + two shuffles on a correlated non-equi key) with one grouped pass
    * re-joined to the late items. Same result set; ~2× less lineitem I/O,
    * and the heavy shuffle key is the plain order key. */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val T = Tables.load(s, dir, _: String)
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
    val liOrders = T("lineitem")
      .join(T("orders").filter(col("o_orderstatus") === "F"),
        col("o_orderkey") === col("l_orderkey"))
    // two-level aggregate instead of two countDistinct: a multi-distinct
    // aggregate plans through an Expand that doubles the joined stream
    // before the shuffle — the (orderkey, suppkey) pre-aggregate collapses
    // map-side and the second level runs on supplier-per-order cardinality
    // (sf10: 10.0 s → 6.6 s, identical rows).
    // Round 17 (guide §2.4/§3.1): ONE pass. The old shape re-derived the
    // l1 candidates by a SECOND lineitem⋈orders scan left-semi-joined to
    // the qualifying orders. But the (orderkey, suppkey) partials can
    // carry everything the final count needs: late_rows (this supplier's
    // late lines = its l1 candidates). An order qualifies iff n_supp ≥ 2
    // and EXACTLY ONE supplier is late, so the qualifying order's late
    // supplier and its l1 row count are order-level aggregates
    // (max/sum over the late partials — unique by the n_late_supp = 1
    // filter). Removes one full lineitem+orders scan and the left-semi
    // SortMergeJoin; supplier attaches by broadcast on the one-row-per-
    // order stream.
    val perOrder = liOrders
      .groupBy(col("l_orderkey").as("po_okey"), col("l_suppkey").as("ps_skey"))
      .agg(sum(when(late, 1L).otherwise(0L)).as("late_rows"))
      .groupBy(col("po_okey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("late_rows") > 0, 1L).otherwise(0L)).as("n_late_supp"),
        max(when(col("late_rows") > 0, col("ps_skey"))).as("late_skey"),
        sum(when(col("late_rows") > 0, col("late_rows"))).as("l1_rows"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
    perOrder
      .join(T("supplier"), col("s_suppkey") === col("late_skey"))
      .groupBy(col("s_name"))
      .agg(sum(col("l1_rows")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  private val q21Sql =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin

  // TPC-H Q22: substring + uncorrelated scalar avg subquery + NOT EXISTS.
  private val q22Sql =
    """SELECT cntrycode, count(*) AS numcust, sum(c_acctbal) AS totacctbal
      |FROM (SELECT substring(c_name, 16, 2) AS cntrycode, c_acctbal, c_custkey
      |      FROM customer
      |      WHERE substring(c_name, 16, 2) IN ('00', '01', '02', '03', '10', '11')
      |        AND c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)) custsale
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin

  val all: Seq[Q] = Seq(
    Q.text("q01_agg_pricing_summary", q01Sql),
    Q.text("q02_filter_project_in_between", q02Sql),
    Q.text("q03_join_topk", q03Sql),
    Q.text("q04_exists_semijoin", q04Sql),
    Q.text("q05_join_6table", q05Sql),
    Q.text("q06_global_agg", q06Sql),
    Q.text("q07_selfrole_join_year", q07Sql),
    Q.text("q08_case_share", q08Sql),
    Q.text("q09_like_join_profit", q09Sql),
    Q.text("q10_returned_top20", q10Sql),
    Q.text("q11_having_scalar_subquery", q11Sql),
    Q.text("q12_conditional_counts", q12Sql),
    Q.text("q13_outerjoin_histogram", q13Sql),
    Q.text("q14_promo_share", q14Sql),
    Q.text("q15_cte_max_subquery", q15Sql),
    Q.text("q16_notin_countdistinct", q16Sql),
    Q.text("q17_correlated_avg_subquery", q17Sql),
    Q.text("q18_in_groupby_subquery", q18Sql),
    Q.text("q19_or_of_ands", q19Sql),
    Q.text("q20_nested_in", q20Sql),
    Q("q21_exists_notexists", q21, q21Sql),
    Q.text("q22_substring_antijoin", q22Sql))
}
