package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function long tail beyond the rank/running-sum basics (SURVEY §2.5
  * is entirely beyond the reference corpus, so every form Spark ships gets
  * an oracle query): ntile/percent_rank/cume_dist, first/last value, RANGE
  * frames, ordered string aggregation, ordered-set percentile. Every row
  * but q46, q47 and q68 is a text row ([[graft.Q.text]]). */
object WindowExtras {

  // Keeps its builder: the text's OVER (w ROWS BETWEEN …) refinement is a parse error.
  /** Distribution + value-positional window functions. */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(s, dir, "orders")
      .withColumn("nt", ntile(4).over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("fv", first(col("o_orderkey")).over(w))
      .withColumn("lv", last(col("o_orderkey")).over(wFull))
      .select(col("o_custkey"), col("o_orderkey"), col("nt"), col("pr"),
        col("cd"), col("fv"), col("lv"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q46Sql =
    """SELECT o_custkey, o_orderkey,
      | ntile(4) OVER w AS nt,
      | percent_rank() OVER w AS pr,
      | cume_dist() OVER w AS cd,
      | first_value(o_orderkey) OVER w AS fv,
      | last_value(o_orderkey)
      |   OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // Keeps its builder: a scale-out shape (Scale.bandedRangeFrame); the text is one global window.
  /** RANGE (value-based) window frame — distinct from ROWS frames. The
    * frame is GLOBAL (no partition key), which Spark would plan as a
    * single-task WindowExec; [[graft.scale.Scale.bandedRangeFrame]] computes
    * the identical result with the window partitioned by key bucket
    * (context rows duplicated across the bucket boundary), so the plan has
    * no SinglePartition stage at any scale (asserted in ScaleSpec). */
  private def q47(s: SparkSession, dir: String): DataFrame =
    graft.scale.Scale.bandedRangeFrame(
      Tables.load(s, dir, "orders"), "o_orderkey", width = 5,
      w => Seq(
        count(lit(1)).over(w).as("n_in_range"),
        sum(floor(col("o_totalprice")).cast("long")).over(w).as("sum_in_range")))
      .select(col("o_orderkey"), col("n_in_range"), col("sum_in_range"))
      .orderBy(col("o_orderkey"))

  private val q47Sql =
    """SELECT o_orderkey,
      | count(*) OVER w AS n_in_range,
      | CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) OVER w AS BIGINT) AS sum_in_range
      |FROM orders
      |WINDOW w AS (ORDER BY o_orderkey RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  // Ordered string aggregation + ordered-set percentile (exact at p50 over integers).
  private val q48Sql =
    """SELECT n_regionkey,
      | string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
      | percentile_cont(0.5) WITHIN GROUP (ORDER BY n_nationkey) AS median_key,
      | count(*) AS n
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // Explicit GROUPING SETS (beyond the ROLLUP/CUBE shorthands of q27/q39).
  private val q51Sql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      | CAST(grouping(o_orderstatus) AS INTEGER) AS g_st,
      | CAST(grouping(o_orderpriority) AS INTEGER) AS g_pr
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY g_st, g_pr, o_orderstatus, o_orderpriority""".stripMargin

  // Multiset set operations: INTERSECT ALL / EXCEPT ALL / UNION-distinct.
  private val q52Sql =
    """SELECT * FROM (
      |  SELECT 'intersect_all' AS tag, count(*) AS n FROM
      |    (SELECT l_suppkey AS k FROM lineitem INTERSECT ALL SELECT s_suppkey FROM supplier) a
      |  UNION ALL
      |  SELECT 'except_all' AS tag, count(*) AS n FROM
      |    (SELECT s_suppkey AS k FROM supplier EXCEPT ALL SELECT l_suppkey FROM lineitem) b
      |  UNION ALL
      |  SELECT 'union_distinct' AS tag, count(*) AS n FROM
      |    (SELECT l_suppkey AS k FROM lineitem UNION SELECT s_suppkey FROM supplier) c) u
      |ORDER BY tag""".stripMargin

  // Keeps its builder: a scale-out shape (Scale.bandedRunningPositional) the text does not reach.
  /** nth_value + IGNORE NULLS positional window forms (the last §2.5
    * spellings without an oracle row) over a synthesized null-bearing
    * column; the (ts, event_id) ordering is unique so the default RANGE
    * frame behaves identically in both engines.
    *
    * Scale shape: `event_type` has 5 values, so a window partitioned on it
    * alone is 5 single-task sorts of 20% of the table each at any scale —
    * the running state is instead computed per (event_type, event-day) via
    * [[graft.scale.Scale.bandedRunningPositional]], with boundary state
    * carried across day buckets through a summary table bounded by the day
    * count, never the row count (ScaleSpec pins equality with the
    * single-window form and asserts no full-table window keys on
    * event_type alone). */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("v",
        when(pmod(col("event_id"), lit(5)) === 0, lit(null).cast("double"))
          .otherwise(col("value")))
    // event-day bucket: monotone in ts, key space grows with the time span.
    // The TIMESTAMP cast is NTZ-proof: µs-precision parquet surfaces as
    // TIMESTAMP_NTZ (which unix_micros rejects), the ns testdata as
    // TIMESTAMP — meaning-preserving under the session's pinned UTC.
    val day = expr(
      "(unix_micros(CAST(ts AS TIMESTAMP)) - " +
        "pmod(unix_micros(CAST(ts AS TIMESTAMP)), 86400000000L)) div 86400000000L")
    graft.scale.Scale.bandedRunningPositional(e, "event_type", day,
        Seq(col("ts"), col("event_id")), valCol = "v", nthCol = "event_id",
        n = 3, firstName = "first_nn", lastName = "last_nn", nthName = "nth3")
      .select(col("event_id"), col("event_type"), col("nth3"),
        col("first_nn"), col("last_nn"))
      .orderBy(col("event_id"))
  }

  private val q68Sql =
    """WITH e AS (
      |  SELECT event_id, event_type, ts,
      |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      |  FROM events)
      |SELECT event_id, event_type,
      |  nth_value(event_id, 3) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nth3,
      |  first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS first_nn,
      |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS last_nn
      |FROM e ORDER BY event_id""".stripMargin

  // Array-percentage exact quantiles: one ExactQuantileRule histogram pass for all three.
  private val q101Sql =
    """SELECT o_orderpriority,
      | (quantile_cont(o_totalprice, [0.25, 0.5, 0.75]))[1] AS q25,
      | (quantile_cont(o_totalprice, [0.25, 0.5, 0.75]))[2] AS q50,
      | (quantile_cont(o_totalprice, [0.25, 0.5, 0.75]))[3] AS q75,
      | avg(o_totalprice) AS avg_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // Global exact quantiles, scalar + array + residual aggregates in one SELECT.
  private val q102Sql =
    """SELECT CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS med_price,
      | (quantile_cont(l_extendedprice, [0.1, 0.9]))[1] AS d10,
      | (quantile_cont(l_extendedprice, [0.1, 0.9]))[2] AS d90,
      | CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS q25_qty,
      | CAST(count(*) AS BIGINT) AS n
      |FROM lineitem""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q46_window_distribution", q46, q46Sql),
    Q("q68_window_nth_ignore_nulls", q68, q68Sql),
    Q("q47_range_frame", q47, q47Sql),
    Q.text("q48_ordered_agg_percentile", q48Sql),
    Q.text("q51_grouping_sets", q51Sql),
    Q.text("q52_multiset_ops", q52Sql),
    Q.text("q101_quantile_array", q101Sql),
    Q.text("q102_quantile_global", q102Sql))
}
