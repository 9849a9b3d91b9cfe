package graft

import graft.dialect.{DialectRewriter, SqlText}
import org.scalatest.funsuite.AnyFunSuite

/** Frame EXCLUDE is planned on the resolved Window nodes
  * (graft.functions.WindowExcludeRule); the text layer only turns the
  * clause into a key of the window spec. This guard fails when a text pass
  * under `graft/dialect/` compiles an exclusion again: the rewritten
  * statement must keep its block structure — the SELECT keywords the
  * statement has without any EXCLUDE clause — and carry no helper rank, no
  * derived-table wrap and no star-EXCEPT list. */
class FrameExcludeTextGuardSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val rewriter = new DialectRewriter(spark, new graft.session.FileRegistry)

  private def selects(sql: String): Int =
    "(?i)\\bSELECT\\b".r.findAllIn(SqlText.maskLitsAndComments(sql)).size
  private def withoutExclude(sql: String): String =
    sql.replaceAll("(?i)\\s+EXCLUDE\\s+(TIES|GROUP|CURRENT\\s+ROW)", "")

  /** GROUP BY … HAVING with a star projection, a UNION branch and QUALIFY. */
  private val statements = Seq(
    """SELECT * FROM (SELECT o_orderstatus AS s, count(*) AS n,
      |    min(count(*)) OVER (ORDER BY o_orderstatus
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS m
      |  FROM orders GROUP BY o_orderstatus HAVING count(*) > 2) g
      |UNION ALL
      |SELECT *, 0, max(n_nationkey) OVER (ORDER BY n_regionkey EXCLUDE TIES) FROM region
      |  JOIN nation ON r_regionkey = n_regionkey""".stripMargin,
    """SELECT *, min(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_name
      |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS m
      |FROM nation
      |QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) <= 2""".stripMargin,
    """SELECT o_orderpriority, count(*) AS n,
      |  sum(count(*)) OVER (ORDER BY o_orderpriority GROUPS BETWEEN 1 PRECEDING
      |    AND 1 FOLLOWING EXCLUDE TIES) AS t
      |FROM orders GROUP BY o_orderpriority HAVING count(*) > 1""".stripMargin)

  test("frame EXCLUDE TIES/GROUP leaves the statement's blocks as they are") {
    for (sql <- statements) {
      val out = rewriter.rewrite(sql)
      assert(selects(out) === selects(rewriter.rewrite(withoutExclude(sql))), out)
      if (!sql.contains("QUALIFY")) assert(selects(out) === selects(sql), out)
      assert(!out.toLowerCase.contains("dense_rank") && "__graft_(dr|rn|ex|gx|a|p)".r.findFirstIn(out).isEmpty &&
        !out.toUpperCase.matches("(?s).*\\bEXCLUDE\\s+(TIES|GROUP)\\b.*"), out)
      assert("(?i)EXCEPT\\s*\\(".r.findAllIn(out).size ===
        "(?i)EXCEPT\\s*\\(".r.findAllIn(rewriter.rewrite(withoutExclude(sql))).size, out)
    }
  }
}
