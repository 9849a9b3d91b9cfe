package graft.operators

import graft.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's micro-benchmark workloads (BASELINE.md / packages/
  * benchmarks/src/suite_system_*.ts) re-expressed over deterministic
  * generated data, at the suite's maximum sizes: sort-int (1e6), top-k
  * (1e6), grouped sum (1e6), LIKE filter (1e5), join-2 (1e5×1e6), join-3
  * (1e4×1e5×1e6). Generation is pure integer arithmetic (LCG-style,
  * ANSI-overflow-safe) so the DuckDB oracle reproduces every value exactly
  * — the micro suite is correctness-checked, not just timed. Every row but
  * micro_sort_int is a text row ([[graft.Q.text]]).
  *
  * micro_sort keeps every 10,000th row of the total order via a global
  * row_number window — materializing 1e6 sorted rows is the reference's
  * benchmark shape, while the sampled output keeps the verify dump small
  * without letting Catalyst eliminate the sort.
  */
object MicroQueries {

  /** Scale multiplier for the generated sizes (and key spaces, so join
    * fan-out keeps its shape). Default 1 = the reference suite's maximum
    * sizes. Set SPARK_GRAFT_MICRO_SCALE=10 for the sf10-style measurement
    * that shows the per-job scheduling floor amortizing — the oracle SQL
    * is built from the same constant, so the correctness gate follows the
    * knob automatically. */
  private val Scale: Long =
    sys.env.getOrElse("SPARK_GRAFT_MICRO_SCALE", "1").toLong.max(1L)

  /** Deterministic (v0, v1) integer table of n rows. */
  private def series(s: SparkSession, n: Long): DataFrame =
    s.range(n).select(
      col("id"),
      (col("id") * 48271L % 65536L).as("v0"),
      (col("id") * 16807L % 32768L).as("v1"))

  private def seriesSql(n: Long): String =
    s"(SELECT i AS id, (i * 48271) % 65536 AS v0, (i * 16807) % 32768 AS v1 FROM range(0, $n) t(i))"

  // suite sizes, scaled: 1e6 / 1e5 / 1e4 at Scale=1 (the reference maxima)
  private val N1e6 = 1000000L * Scale
  private val N1e5 = 100000L * Scale
  private val N1e4 = 10000L * Scale

  // Keeps its builder: a two-phase rank; the text plans a global row_number() over one partition.
  // sort-int: packages/benchmarks/src/suite_system_sort_int.ts:49-54
  // Two-phase distributed rank (a global row_number() window would funnel
  // all 1e6 rows through ONE task — the round-1 scale-killer):
  //   1. range-partition on the sort key (RangePartitioner boundaries are
  //      deterministically sampled, ascending partition id = ascending key
  //      range), tag rows with their partition id;
  //   2. per-partition local rank (window partitioned by pid — parallel);
  //   3. global rank = local rank + sum of lower partitions' counts,
  //      computed by a broadcast join against the 32-row count table (a
  //      tiny triangular self-join, so no single-partition window exists
  //      anywhere in the plan).
  // The (v0, v1, id) key is unique, so the result is identical to the
  // global-window form at any partition count.
  private def sort(s: SparkSession, dir: String): DataFrame = {
    val parts = 32
    val keyed = series(s, N1e6)
      .repartitionByRange(parts, col("v0"), col("v1"), col("id"))
      .withColumn("pid", spark_partition_id())
    val counts = keyed.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
    val ca = counts.select(col("pid").as("pid_a"))
    val cb = counts.select(col("pid").as("pid_b"), col("cnt").as("cnt_b"))
    val offsets = ca.join(cb, col("pid_b") < col("pid_a"), "left_outer")
      .groupBy(col("pid_a"))
      .agg(coalesce(sum(col("cnt_b")), lit(0L)).as("offset"))
    val w = Window.partitionBy(col("pid")).orderBy(col("v0"), col("v1"), col("id"))
    keyed
      .withColumn("lr", row_number().over(w).cast("long"))
      .join(broadcast(offsets), col("pid") === col("pid_a"))
      .withColumn("rn", col("lr") + col("offset"))
      .filter(col("rn") % 10000 === 0)
      .select(col("rn"), col("v0"), col("v1"))
  }

  private val sortSql =
    s"""SELECT rn, v0, v1
       |FROM (SELECT v0, v1, row_number() OVER (ORDER BY v0, v1, id) AS rn
       |      FROM ${seriesSql(N1e6)} g) t
       |WHERE rn % 10000 = 0""".stripMargin

  // top-k: duckdb_sync_benchmarks.ts:286
  private val topkSql =
    s"""SELECT v0, v1, id FROM ${seriesSql(N1e6)} g
       |ORDER BY v0, v1, id LIMIT 100""".stripMargin

  // grouped sum: duckdb_sync_benchmarks.ts:343 (10 groups)
  private val groupSumSql =
    s"""SELECT v0 % 10 AS g, CAST(sum(v1) AS BIGINT) AS sum_v1, count(*) AS n
       |FROM ${seriesSql(N1e6)} g GROUP BY 1 ORDER BY g""".stripMargin

  // LIKE filter: duckdb_sync_benchmarks.ts:459 (pattern '_#%')
  private val likeSql =
    s"""SELECT count(*) AS n_match, min(s) AS first_s
       |FROM (SELECT 'x' || (CASE WHEN id % 7 = 0 THEN '#' ELSE 'y' END)
       |             || CAST(v0 AS STRING) AS s
       |      FROM ${seriesSql(N1e5)} g) t
       |WHERE s LIKE '_#%'""".stripMargin

  // join-2: duckdb_sync_benchmarks.ts:525-530 (A 1e5 ⋈ B 1e6, filter a.v0 < n)
  private val join2Sql =
    s"""SELECT count(*) AS n, CAST(sum(bv1) AS BIGINT) AS sum_bv1
       |FROM (SELECT id AS ak, v0 AS av0 FROM ${seriesSql(N1e5)} g) a
       |JOIN (SELECT id % $N1e5 AS bk, v1 AS bv1 FROM ${seriesSql(N1e6)} g) b
       |  ON ak = bk WHERE av0 < 1000""".stripMargin

  // join-3: duckdb_sync_benchmarks.ts:615-621 (1e4 ⋈ 1e5 ⋈ 1e6 chain)
  private val join3Sql =
    s"""SELECT count(*) AS n, CAST(sum(cv1) AS BIGINT) AS sum_cv1
       |FROM (SELECT id AS ak, v0 AS av0 FROM ${seriesSql(N1e4)} g) a
       |JOIN (SELECT id % $N1e4 AS bk, id AS bid FROM ${seriesSql(N1e5)} g) b
       |  ON ak = bk
       |JOIN (SELECT id % $N1e5 AS ck, v1 AS cv1 FROM ${seriesSql(N1e6)} g) c
       |  ON bid = ck
       |WHERE av0 < 500""".stripMargin

  val all: Seq[Q] = Seq(
    Q("micro_sort_int", sort, sortSql),
    Q.text("micro_topk", topkSql),
    Q.text("micro_group_sum", groupSumSql),
    Q.text("micro_like_filter", likeSql),
    Q.text("micro_join2", join2Sql),
    Q.text("micro_join3", join3Sql))
}
