package graft.operators

import graft.Q

/** Scalar-function long tail: regex (re2 is linked in the reference core but
  * never exercised by its corpus — SURVEY §2.8 note), date arithmetic and
  * truncation, and conditional scalars. All DuckDB-oracle-checked text rows
  * ([[graft.Q.text]]). */
object ScalarExtras {

  // Regex matching + extraction + replacement (patterns where Java regex and RE2 agree).
  private val q49Sql =
    """SELECT p_partkey, p_name,
      | regexp_matches(p_name, '^(small|large)') AS is_sized,
      | regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
      | regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
      | CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INTEGER) AS brand_num
      |FROM part ORDER BY p_partkey""".stripMargin

  // Date arithmetic: truncation to month, day difference vs a fixed epoch,
  // interval addition, month-end.
  private val q50Sql =
    """SELECT o_orderkey,
      | CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      | date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch,
      | CAST(o_orderdate + INTERVAL 90 DAY AS DATE) AS due_date,
      | last_day(CAST(o_orderdate AS DATE)) AS month_end
      |FROM orders WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""".stripMargin

  val all: Seq[Q] = Seq(
    Q.text("q49_regex_functions", q49Sql),
    Q.text("q50_date_arithmetic", q50Sql))
}
