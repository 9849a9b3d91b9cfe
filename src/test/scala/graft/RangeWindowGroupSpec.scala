package graft

import graft.functions.RangeWindowGroupRule
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => LWindow}
import org.scalatest.funsuite.AnyFunSuite

/** RangeWindowGroupRule (round 14, r13 verdict task 4): RANGE-mode window
  * aggregates evaluate over the (pk, ord) group table — breaking the
  * low-cardinality-partition-key sort ceiling (q109's 5-way: 20.2 s →
  * 10.4 s at sf10, identical rows). The rewrite is EXACT (RANGE frames
  * are peer-granular); these tests pin semantics against the rule-
  * disabled run, the count-over-empty-frame contract, and the bails. */
class RangeWindowGroupSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def withRule[T](on: Boolean)(f: => T): T = {
    spark.conf.set("spark.graft.rangeWindowRewrite", on.toString)
    // the size floor keeps the rewrite off small inputs in production;
    // lift it so the tiny VALUES fixtures exercise the rewrite itself
    spark.conf.set("spark.graft.rangeWindowRewrite.minBytes", "0")
    try f finally {
      spark.conf.unset("spark.graft.rangeWindowRewrite")
      spark.conf.unset("spark.graft.rangeWindowRewrite.minBytes")
    }
  }

  private val base =
    """(VALUES (1, 'a', 10.0D, DATE '2024-01-01'),
      |        (2, 'a', 20.0D, DATE '2024-01-01'),
      |        (3, 'a', 30.0D, DATE '2024-01-02'),
      |        (4, 'b', 5.0D,  DATE '2024-01-01'),
      |        (5, 'b', NULL,  DATE '2024-01-03'),
      |        (6, 'b', 7.0D,  DATE '2024-01-03')) t(id, k, v, d)""".stripMargin

  private val sql =
    s"""SELECT id,
       |  sum(v)   OVER (PARTITION BY k ORDER BY d
       |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
       |  min(v)   OVER (PARTITION BY k ORDER BY d
       |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m,
       |  count(v) OVER (PARTITION BY k ORDER BY d
       |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
       |  count(v) OVER (PARTITION BY k ORDER BY d
       |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cprev,
       |  max(v)   OVER (PARTITION BY k
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS mx,
       |  dense_rank() OVER (PARTITION BY k ORDER BY d) AS dr
       |FROM $base ORDER BY id""".stripMargin

  test("group-table evaluation matches the row-stream window exactly " +
      "(peers, NULL measures, empty-frame count = 0)") {
    val off = withRule(on = false)(spark.sql(sql).collect()).map(_.toString)
    val on = withRule(on = true)(spark.sql(sql).collect()).map(_.toString)
    assert(on.toSeq === off.toSeq)
    // the found-and-fixed defect: count over an EMPTY preceding frame is
    // 0, never NULL (sum-of-group-counts alone yields NULL there)
    val rows = withRule(on = true)(spark.sql(sql).collect())
    assert(rows.map(r => (r.getInt(0), r.getLong(4))).toSeq ===
      Seq((1, 0L), (2, 0L), (3, 2L), (4, 0L), (5, 1L), (6, 1L)))
    // dense_rank through the group table stays dense
    assert(rows.map(_.getInt(6)).toSeq === Seq(1, 1, 2, 1, 2, 2))
  }

  test("eligible plans carry the group-table shape; disabled plans keep " +
      "the row-stream window") {
    def shape(on: Boolean): (Int, Int, Int) = withRule(on) {
      val p = spark.sql(sql).queryExecution.optimizedPlan
      (p.collect { case w: LWindow => w }.size,
        p.collect { case a: Aggregate => a }.size,
        p.collect { case j: Join => j }.size)
    }
    val (wOn, aOn, jOn) = shape(on = true)
    val (wOff, aOff, jOff) = shape(on = false)
    assert(aOn > 0 && jOn > 0, s"expected group-table shape, got w=$wOn a=$aOn j=$jOn")
    assert(aOff === 0 && jOff === 0, s"rule leaked into disabled run: a=$aOff j=$jOff")
    // every surviving enabled-plan window runs over an Aggregate (the
    // group table) — the corpus-sized sorted pass is gone
    withRule(on = true) {
      val p = spark.sql(sql).queryExecution.optimizedPlan
      p.collect { case w: LWindow => w }.foreach { w =>
        assert(w.child.isInstanceOf[Aggregate] ||
          w.windowExpressions.exists(_.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.WindowExpression])),
          w.child.nodeName)
      }
    }
  }

  test("a window STACK consolidates into ONE group table and ONE " +
      "join-back (round 17: the EXCLUDE decomposition shape)") {
    // frame EXCLUDE GROUP on the engine's path plans the decomposition
    // stack: a dense_rank helper, then ASC frames, then DESC frames ordered
    // by the helper — three Window nodes over one child. Consolidation must
    // produce exactly one Aggregate and one Join (previously one of each
    // PER node), with every group-level window running over the Aggregate/
    // Window chain, and the rows of the hand-written stack.
    val conn = new graft.session.Engine(graft.session.EngineConfig(
      existingSession = Some(spark))).connect()
    val excluded =
      s"""SELECT id,
         |  sum(v) OVER (PARTITION BY k ORDER BY d
         |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS pre_sum,
         |  count(*) OVER (PARTITION BY k ORDER BY d
         |    RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS suf_cnt,
         |  min(v) OVER (PARTITION BY k ORDER BY d
         |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS pre_min
         |FROM $base
         |ORDER BY id""".stripMargin
    val stacked =
      s"""SELECT id,
         |  sum(v) OVER (PARTITION BY k ORDER BY dr ASC
         |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre_sum,
         |  count(*) OVER (PARTITION BY k ORDER BY dr DESC
         |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS suf_cnt,
         |  min(v) OVER (PARTITION BY k ORDER BY dr ASC
         |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre_min
         |FROM (SELECT *, dense_rank() OVER (PARTITION BY k ORDER BY d) AS dr
         |      FROM $base) t
         |ORDER BY id""".stripMargin
    val off = withRule(on = false)(conn.queryDF(excluded).collect()).map(_.toString)
    val on = withRule(on = true)(conn.queryDF(excluded).collect()).map(_.toString)
    assert(on.toSeq === off.toSeq)
    assert(on.toSeq === spark.sql(stacked).collect().map(_.toString).toSeq)
    withRule(on = true) {
      val p = conn.queryDF(excluded)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.optimizedPlan
      assert(p.collect { case a: Aggregate => a }.size === 1,
        s"expected ONE shared group table:\n$p")
      assert(p.collect { case j: Join => j }.size === 1,
        s"expected ONE join-back:\n$p")
      p.collect { case w: LWindow => w }.foreach { w =>
        assert(w.child.isInstanceOf[Aggregate] || w.child.isInstanceOf[LWindow],
          s"row-stream window survived consolidation: child=${w.child.nodeName}")
      }
    }
  }

  test("bails: row_number stays on the row stream; ROWS offset frames " +
      "and global whole-partition windows are untouched") {
    def winCount(q: String): Int = withRule(on = true) {
      val p = spark.sql(q).queryExecution.optimizedPlan
      p.collect { case w: LWindow if !w.child.isInstanceOf[Aggregate] => w }.size
    }
    // row-granular: row_number / ROWS k PRECEDING — both keep the window
    assert(winCount(s"SELECT id, row_number() OVER (PARTITION BY k ORDER BY d, id) AS rn FROM $base") === 1)
    assert(winCount(s"SELECT id, sum(v) OVER (PARTITION BY k ORDER BY d, id ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM $base") === 1)
    // fully-global whole-partition window: empty group key → untouched
    assert(winCount(s"SELECT id, sum(v) OVER () AS s FROM $base") === 1)
    // rule-disabled semantics agree for a mixed eligible+ineligible query
    val mixed =
      s"""SELECT id,
         |  sum(v) OVER (PARTITION BY k ORDER BY d
         |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
         |  row_number() OVER (PARTITION BY k ORDER BY d, id) AS rn
         |FROM $base ORDER BY id""".stripMargin
    val off = withRule(on = false)(spark.sql(mixed).collect()).map(_.toString)
    val on = withRule(on = true)(spark.sql(mixed).collect()).map(_.toString)
    assert(on.toSeq === off.toSeq)
  }
}
