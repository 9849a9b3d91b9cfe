package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function long tail: regex (re2 is linked in the reference core but
  * never exercised by its corpus — SURVEY §2.8 note), date arithmetic and
  * truncation, and conditional scalars. All DuckDB-oracle-checked; q49 is a
  * text row ([[graft.Q.text]]). */
object ScalarExtras {

  // Regex matching + extraction + replacement (patterns where Java regex and RE2 agree).
  private val q49Sql =
    """SELECT p_partkey, p_name,
      | regexp_matches(p_name, '^(small|large)') AS is_sized,
      | regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
      | regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
      | CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INTEGER) AS brand_num
      |FROM part ORDER BY p_partkey""".stripMargin

  // Keeps its builder: date_trunc fails as text (the GraftDateTrunc replacement is unresolved).
  /** Date arithmetic: truncation to month, day difference vs a fixed epoch,
    * interval addition, month extraction round-trip. */
  private def q50(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 50 === 0)
      .select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since_epoch"),
        (col("o_orderdate") + expr("INTERVAL 90 DAYS")).cast("date").as("due_date"),
        last_day(col("o_orderdate").cast("date")).as("month_end"))
      .orderBy(col("o_orderkey"))

  private val q50Sql =
    """SELECT o_orderkey,
      | CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      | date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch,
      | CAST(o_orderdate + INTERVAL 90 DAY AS DATE) AS due_date,
      | last_day(CAST(o_orderdate AS DATE)) AS month_end
      |FROM orders WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""".stripMargin

  val all: Seq[Q] = Seq(
    Q.text("q49_regex_functions", q49Sql),
    Q("q50_date_arithmetic", q50, q50Sql))
}
