package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks natively (the custom-operator ladder
  * from the build spec — both resolved at rung (a), composing built-ins, so
  * they stay inside Catalyst/codegen with no custom physical node needed):
  *
  *  - **AS-OF join**: each left row matched to the latest right row with
  *    time ≤ left time, per key. Implemented as union + last-non-null
  *    running window — ONE shuffle on (key), state is a single carried
  *    value; never the naive range join that explodes quadratically.
  *    q53 is a text row: its ASOF JOIN text plans through the engine's
  *    `dialect.AsofJoinSql` rewrite, and DuckDB's native ASOF JOIN is the
  *    exact oracle.
  *  - **Range (interval) join**: pairs within a time tolerance. Implemented
  *    by time-bucket banding: left rows explode to 3 adjacent buckets, the
  *    join is a plain equi-join on (key, bucket) + exact residual filter —
  *    each qualifying pair matches exactly once, candidates stay O(density)
  *    instead of O(n²) per key.
  */
object TemporalJoins {

  /** General as-of join: for each `left` row, the most recent `right` row
    * (rightTime ≤ leftTime) with the same key. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, rightPayload: String): DataFrame = {
    val lTagged = left.select(col(key), col(leftTime).as("__t"), lit(1).as("__side"),
      lit(null).cast(right.schema(rightPayload).dataType).as("__payload"),
      lit(null).cast(right.schema(rightTime).dataType).as("__rt"))
    val rTagged = right.select(col(key), col(rightTime).as("__t"), lit(0).as("__side"),
      col(rightPayload).as("__payload"), col(rightTime).as("__rt"))
    // ties: right rows (side 0) sort before left rows at equal time ⇒ ≥ is inclusive
    val w = Window.partitionBy(col(key)).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lTagged.unionByName(rTagged)
      .withColumn("__match", last(col("__payload"), ignoreNulls = true).over(w))
      .withColumn("__match_t", last(col("__rt"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__payload", "__rt")
  }

  // Each purchase matched to the same user's most recent prior click (ASOF JOIN).
  private val q53Sql =
    """SELECT user_id, count(*) AS n_matched,
      | CAST(sum(gap_s) AS BIGINT) AS total_gap_s,
      | CAST(min(gap_s) AS BIGINT) AS min_gap_s
      |FROM (
      |  SELECT p.user_id, CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS gap_s
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON p.user_id = c.user_id AND p.ts >= c.ts) t
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // Keeps its builder: a banded equi-join the text misses (text 1.80 s vs 0.54 s, sf0.1).
  /** q54: event pairs of the same user within a 300 s window, via banded
    * equi-join (explode left to 3 adjacent buckets → each pair matches
    * exactly once). */
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val tol = 300L
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("sec"))
      .withColumn("bucket", floor(col("sec") / tol))
    val a = ev.select(col("user_id"), col("event_id").as("a_id"), col("sec").as("a_sec"),
      explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)).as("bucket"))
    val b = ev.select(col("user_id"), col("event_id").as("b_id"), col("sec").as("b_sec"),
      col("bucket"))
    a.join(b, Seq("user_id", "bucket"))
      .filter(col("a_id") < col("b_id") && abs(col("a_sec") - col("b_sec")) <= tol)
      .select(col("user_id"), col("a_id"), col("b_id"),
        abs(col("a_sec") - col("b_sec")).as("gap_s"))
      .orderBy(col("user_id"), col("a_id"), col("b_id"))
  }

  private val q54Sql =
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
      | CAST(abs(floor(epoch(a.ts)) - floor(epoch(b.ts))) AS BIGINT) AS gap_s
      |FROM events a, events b
      |WHERE a.user_id = b.user_id AND a.event_id < b.event_id
      |  AND abs(floor(epoch(a.ts)) - floor(epoch(b.ts))) <= 300
      |ORDER BY a.user_id, a_id, b_id""".stripMargin

  // Time-series resample with gap-fill + forward-fill: per user, an hourly
  // grid from first to last active hour, missing hours filled with zero
  // counts and the last seen hourly value carried forward.
  private val q56Sql =
    """WITH hourly AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
      |         count(*) AS n_events, sum(value) AS sum_value
      |  FROM events WHERE user_id < 30 GROUP BY 1, 2),
      |grid AS (
      |  SELECT user_id, unnest(range(mn, mx + 1)) AS hr
      |  FROM (SELECT user_id, min(hr) AS mn, max(hr) AS mx
      |        FROM hourly GROUP BY user_id) s),
      |j AS (
      |  SELECT g.user_id, g.hr,
      |         CAST(coalesce(h.n_events, 0) AS BIGINT) AS n_events,
      |         h.sum_value
      |  FROM grid g LEFT JOIN hourly h USING (user_id, hr))
      |SELECT user_id, hr, n_events,
      |  last_value(sum_value IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
      |  CAST(n_events = 0 AS INTEGER) AS is_gap
      |FROM j ORDER BY user_id, hr""".stripMargin

  val all: Seq[Q] = Seq(
    Q.text("q53_asof_join", q53Sql),
    Q("q54_range_join_banded", q54, q54Sql),
    Q.text("q56_resample_gapfill", q56Sql))
}
