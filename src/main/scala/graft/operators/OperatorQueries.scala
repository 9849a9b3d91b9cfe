package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operator-focused coverage beyond the TPC-H shapes: set operations, window
  * functions, GROUPING SETS/ROLLUP, scalar string/math/date functions, NULL
  * handling, DISTINCT, cross join, casts, time-bucketed event aggregation.
  *
  * These map to SURVEY.md §2.5 (windows), §2.7 (set ops), §2.8 (scalar
  * functions) — surfaces the reference engine (DuckDB core) provides and the
  * Spark engine must match 1:1 against the DuckDB oracle. Every row but q26
  * is a text row ([[graft.Q.text]]).
  */
object OperatorQueries {

  // UNION ALL of two projections + re-aggregation.
  private val q23Sql =
    """SELECT nationkey, count(*) AS n
      |FROM (SELECT c_nationkey AS nationkey FROM customer
      |      UNION ALL SELECT s_nationkey FROM supplier) u
      |GROUP BY nationkey ORDER BY nationkey""".stripMargin

  // INTERSECT and EXCEPT, tagged and unioned into one result.
  private val q24Sql =
    """SELECT * FROM (
      |  SELECT 'ordered' AS tag, count(*) AS n
      |  FROM (SELECT p_partkey FROM part INTERSECT SELECT l_partkey FROM lineitem) a
      |  UNION ALL
      |  SELECT 'never_ordered' AS tag, count(*) AS n
      |  FROM (SELECT p_partkey FROM part EXCEPT SELECT l_partkey FROM lineitem) b) u
      |ORDER BY tag""".stripMargin

  // Ranking window functions per partition, with a unique tie-break in the ordering.
  private val q25Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk
      |      FROM orders
      |      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)) t
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // Keeps its builder: the text's OVER (w ROWS BETWEEN …) refinement is a parse error.
  /** Running/frame window aggregates + lag/lead over the events stream.
    * Ordering key is the unique event_id (event timestamps are ns-precision
    * in the source; ns ties would order differently across engines). */
  private def q26(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .withColumn("running_cents", sum(col("cents")).over(wRun))
      .withColumn("seq", row_number().over(w))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("seq"), col("cents"),
        col("running_cents"), col("prev_type"), col("next_type"))
      .orderBy(col("user_id"), col("seq"))
  }

  private val q26Sql =
    """SELECT user_id, event_id, seq, cents, running_cents, prev_type, next_type
      |FROM (SELECT user_id, event_id,
      |        row_number() OVER w AS seq,
      |        CAST(floor(value * 100) AS BIGINT) AS cents,
      |        CAST(sum(CAST(floor(value * 100) AS BIGINT))
      |          OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
      |        lag(event_type, 1) OVER w AS prev_type,
      |        lead(event_type, 1) OVER w AS next_type
      |      FROM events
      |      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)) t
      |ORDER BY user_id, seq""".stripMargin

  // ROLLUP over region → nation with grouping() discriminators.
  private val q27Sql =
    """SELECT r_name, n_name, count(*) AS n_cust, sum(c_acctbal) AS total_bal,
      | CAST(grouping(r_name) AS INTEGER) AS g_region,
      | CAST(grouping(n_name) AS INTEGER) AS g_nation
      |FROM customer, nation, region
      |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY g_region, g_nation, r_name, n_name""".stripMargin

  // String scalar functions: upper/lower/substring/trim/replace/length/concat/lpad/reverse.
  private val q28Sql =
    """SELECT n_nationkey, upper(n_name) AS up, lower(n_name) AS lo,
      | substring(n_name, 1, 6) AS sub, CAST(length(n_name) AS BIGINT) AS len,
      | n_name || '_' || CAST(n_nationkey AS VARCHAR) AS cat,
      | regexp_replace(n_name, '_', '-', 'g') AS repl,
      | lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded,
      | reverse(n_name) AS rev, trim('  x  ') AS trimmed
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // Time-bucketed aggregation over the events (hours as strings, precision-proof).
  private val q29Sql =
    """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
      | count(*) AS n, sum(value) AS total_value
      |FROM events GROUP BY hour, event_type ORDER BY hour, event_type""".stripMargin

  // SELECT DISTINCT + multi-column ORDER BY with mixed directions.
  private val q30Sql =
    """SELECT DISTINCT l_returnflag, l_linestatus
      |FROM lineitem ORDER BY l_returnflag ASC, l_linestatus DESC""".stripMargin

  // Math scalar functions, only IEEE-exact ones, so both engines agree bit for bit.
  private val q31Sql =
    """SELECT l_orderkey, l_linenumber,
      | abs(l_discount - 0.05) AS abs_d,
      | CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
      | CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
      | sqrt(l_quantity) AS sqrt_q,
      | l_orderkey % 7 AS mod7,
      | greatest(l_tax, l_discount) AS hi,
      | least(l_tax, l_discount) AS lo
      |FROM lineitem WHERE l_orderkey % 100 = 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // Date part extraction + date truncation.
  private val q32Sql =
    """SELECT o_orderkey,
      | CAST(year(o_orderdate) AS INTEGER) AS y,
      | CAST(month(o_orderdate) AS INTEGER) AS m,
      | CAST(day(o_orderdate) AS INTEGER) AS d,
      | CAST(quarter(o_orderdate) AS INTEGER) AS q,
      | CAST(o_orderdate AS DATE) AS odate
      |FROM orders WHERE year(o_orderdate) = 1997 ORDER BY o_orderkey""".stripMargin

  // NULL semantics: NULLIF/COALESCE/CASE-null, count(col) vs count(*).
  private val q33Sql =
    """SELECT o_orderpriority, count(*) AS n_all,
      | count(nullif(o_orderstatus, 'O')) AS n_nonnull,
      | CAST(sum(CASE WHEN nullif(o_orderstatus, 'O') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      | count(coalesce(nullif(o_orderstatus, 'O'), 'X')) AS n_coalesced
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // Cross join (small × small).
  private val q34Sql =
    """SELECT r1.r_name AS a, r2.r_name AS b
      |FROM region r1 CROSS JOIN region r2 ORDER BY a, b""".stripMargin

  // Cast matrix: only casts both engines agree on (no double→int, which Spark truncates).
  private val q35Sql =
    """SELECT l_orderkey, l_linenumber,
      | CAST(l_linenumber AS BIGINT) AS ln_big,
      | CAST(l_orderkey AS INTEGER) AS ok_int,
      | CAST(l_orderkey % 100 AS TINYINT) AS ok_tiny,
      | CAST(l_orderkey % 30000 AS SMALLINT) AS ok_small,
      | CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
      | CAST(l_shipdate AS DATE) AS ship_date,
      | CAST(l_orderkey AS VARCHAR) AS ok_str,
      | CAST(l_linenumber AS DOUBLE) AS ln_dbl
      |FROM lineitem WHERE l_orderkey % 200 = 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  val all: Seq[Q] = Seq(
    Q.text("q23_union_all", q23Sql),
    Q.text("q24_intersect_except", q24Sql),
    Q.text("q25_window_rank", q25Sql),
    Q("q26_window_running_lag", q26, q26Sql),
    Q.text("q27_rollup_grouping", q27Sql),
    Q.text("q28_string_functions", q28Sql),
    Q.text("q29_events_hourly", q29Sql),
    Q.text("q30_distinct_orderby", q30Sql),
    Q.text("q31_math_functions", q31Sql),
    Q.text("q32_date_parts", q32Sql),
    Q.text("q33_null_semantics", q33Sql),
    Q.text("q34_cross_join", q34Sql),
    Q.text("q35_cast_matrix", q35Sql))
}
