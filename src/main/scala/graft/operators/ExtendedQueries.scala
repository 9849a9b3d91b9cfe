package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operators the reference corpus never exercises but DuckDB core supports
  * (SURVEY §2.3/§2.4 "not present" notes) — implemented and oracle-checked
  * anyway so "include them for free via Spark SQL" is a verified claim, not
  * an assumption: FILTER'd aggregates, CUBE, FULL/RIGHT OUTER joins,
  * LATERAL correlated subqueries, JSON extraction, approximate distinct.
  * Every row but q44 is a text row ([[graft.Q.text]]). */
object ExtendedQueries {

  // Aggregate FILTER (WHERE ...) clauses.
  private val q38Sql =
    """SELECT o_orderpriority, count(*) AS n_all,
      | sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F') AS sum_finished,
      | count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00') AS n_recent
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // CUBE over two dimensions with grouping discriminators.
  private val q39Sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      | CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
      | CAST(grouping(l_linestatus) AS INTEGER) AS g_ls
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin

  // FULL OUTER join: nations with customers vs nations with suppliers.
  private val q40Sql =
    """SELECT coalesce(c.k, s.k) AS nationkey,
      | coalesce(c.n_cust, 0) AS n_cust, coalesce(s.n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) c
      |FULL OUTER JOIN
      |     (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) s
      |ON c.k = s.k
      |ORDER BY nationkey""".stripMargin

  // RIGHT OUTER join (region side preserved even without nations < 5).
  private val q41Sql =
    """SELECT r_name, count(n_nationkey) AS n_nations
      |FROM (SELECT * FROM nation WHERE n_nationkey < 5) n
      |RIGHT OUTER JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // LATERAL correlated subquery: top order per customer (a lateral top-k).
  private val q42Sql =
    """SELECT c_custkey, c_name, t.o_orderkey AS top_order, t.o_totalprice AS top_price
      |FROM customer, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
      |ORDER BY c_custkey""".stripMargin

  // JSON extraction from the events props column.
  private val q43Sql =
    """SELECT event_type, count(*) AS n,
      | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      | CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
      | CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // Keeps its builder: the oracle text is a stand-in (exact count, constant TRUE) for the HLL sketch.
  /** HyperLogLog approximate distinct. Sketch implementations legitimately
    * differ between engines, so the raw estimate cannot hash-match; instead
    * the oracled output is (exact count, estimate-within-±2%-of-exact) —
    * deterministic on both sides (Spark's HLL is deterministic for fixed
    * input; the oracle's boolean is the literal TRUE the estimate must
    * reproduce). rsd=0.01 keeps the estimate well inside the 2% band at
    * every test SF (measured 0.7% at sf0.1) while the sketch stays a
    * constant-size agg buffer.
    *
    * Shape note: the pairs are deduplicated BEFORE one plain aggregate
    * computes both count and sketch — HLL is duplicate-insensitive, so the
    * estimate is identical, and mixing countDistinct with a low-rsd sketch
    * in one agg would route through Expand, which re-merges the 2^14-
    * register HLL buffer per expanded row (measured 14.7 s vs 1.2 s for
    * this form at sf0.1). */
  private def q44(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= lit(0.02) * col("exact_parts")).as("within_2pct"))
      .orderBy(col("l_returnflag"))

  private val q44Sql =
    """SELECT l_returnflag,
      | CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      | TRUE AS within_2pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // Exact DECIMAL aggregation, compared as decimal strings (both engines format them alike).
  private val q45Sql =
    """SELECT l_returnflag,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS VARCHAR) AS sum_price,
      | CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS VARCHAR) AS sum_qty,
      | CAST(max(CAST(l_extendedprice AS DECIMAL(15,2))) AS VARCHAR) AS max_price,
      | CAST(min(CAST(l_extendedprice AS DECIMAL(15,2))) AS VARCHAR) AS min_price,
      | count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // KMV distinct estimate over a shared affine hash: approximate, yet bit-exact to the oracle.
  private val q55Sql =
    """SELECT l_returnflag,
      | CAST(floor(63.0::DOUBLE * 2147483647.0::DOUBLE / CAST(h AS DOUBLE)) AS BIGINT) AS kmv_est
      |FROM (
      |  SELECT l_returnflag, h,
      |         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
      |  FROM (SELECT DISTINCT l_returnflag,
      |               (l_partkey * 1103515245 + 12345) % 2147483647 AS h
      |        FROM lineitem) d) t
      |WHERE rn = 64
      |ORDER BY l_returnflag""".stripMargin

  val all: Seq[Q] = Seq(
    Q.text("q45_decimal_exact_agg", q45Sql),
    Q.text("q55_kmv_distinct", q55Sql),
    Q.text("q38_filter_aggregates", q38Sql),
    Q.text("q39_cube_grouping", q39Sql),
    Q.text("q40_full_outer_join", q40Sql),
    Q.text("q41_right_outer_join", q41Sql),
    Q.text("q42_lateral_topk", q42Sql),
    Q.text("q43_json_extract", q43Sql),
    Q("q44_approx_distinct", q44, q44Sql))
}
