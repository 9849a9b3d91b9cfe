package graft

import graft.session.{Engine, EngineConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Literal, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.scalatest.funsuite.AnyFunSuite

/** The window-FILTER fold on the statement path (DuckDB FILTER clause on
  * window aggregates; Spark parses it and rejects it in analysis): the
  * analyzer rule WindowFilterFold folds the predicate into the argument of
  * NULL-ignoring aggregates, and leaves every other filtered window to
  * Spark's error. */
class WindowFilterSpec extends AnyFunSuite {

  private lazy val conn =
    new Engine(EngineConfig(existingSession = Some(SparkTestSession.spark))).connect()
  private def spark = SparkTestSession.spark

  private val t =
    """(VALUES (1, 10, 1, 'a', 'F'), (2, NULL, 2, 'b', 'P'), (3, 30, 3, 'c', 'F'),
      |        (4, 40, 0, ')', 'O'), (5, 50, 2, NULL, 'F')) AS t(k, x, p, b, s)""".stripMargin

  private def rows(df: DataFrame) = df.collect().map(_.toSeq.toList).toList
  private def analyzed(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  private def expressions(df: DataFrame) =
    analyzed(df).collect { case p => p.expressions }.flatten
  /** The window aggregates of the analyzed plan. */
  private def windowAggs(df: DataFrame): Seq[AggregateExpression] =
    expressions(df).flatMap(_.collect { case WindowExpression(ae: AggregateExpression, _) => ae })
  /** The CASE arguments the fold built (window extraction moves a computed
    * argument into the projection beneath the Window). */
  private def folded(df: DataFrame): Seq[CaseWhen] =
    expressions(df).flatMap(_.collect { case c @ CaseWhen(Seq(_), None) => c })

  private def sameAs(sql: String, reference: String): DataFrame = {
    val got = conn.queryDF(sql)
    assert(rows(got) === rows(spark.sql(reference)), sql)
    got
  }

  test("sum/min folds the predicate into a CASE argument") {
    val df = sameAs(
      s"SELECT k, sum(x) FILTER (WHERE p > 1) OVER (ORDER BY k) AS s FROM $t ORDER BY k",
      s"SELECT k, sum(CASE WHEN p > 1 THEN x END) OVER (ORDER BY k) AS s FROM $t ORDER BY k")
    assert(folded(df).size === 1 && windowAggs(df).forall(_.filter.isEmpty))
    sameAs(
      s"""SELECT k, min(x) FILTER (WHERE s <> 'P') OVER w AS m FROM $t
         |WINDOW w AS (ORDER BY k) ORDER BY k""".stripMargin,
      s"SELECT k, min(CASE WHEN s <> 'P' THEN x END) OVER (ORDER BY k) AS m FROM $t ORDER BY k")
  }

  test("count(*) folds to count(CASE WHEN p THEN 1 END)") {
    val df = sameAs(
      s"SELECT k, count(*) FILTER (WHERE p = 2) OVER (ORDER BY k) AS n FROM $t ORDER BY k",
      s"SELECT k, count(CASE WHEN p = 2 THEN 1 END) OVER (ORDER BY k) AS n FROM $t ORDER BY k")
    assert(folded(df).map(_.branches.head._2) === Seq(Literal(1)))
    assert(windowAggs(df).map(_.aggregateFunction).forall(_.isInstanceOf[Count]))
  }

  test("DISTINCT argument keeps the DISTINCT outside the CASE") {
    val df = sameAs(
      s"""SELECT k, count(DISTINCT x) FILTER (WHERE p = 2) OVER (PARTITION BY s) AS n
         |FROM $t ORDER BY k""".stripMargin,
      s"""SELECT k, n FROM $t LEFT JOIN (SELECT s AS s2,
         |  count(DISTINCT CASE WHEN p = 2 THEN x END) AS n FROM $t GROUP BY s) ON s <=> s2
         |ORDER BY k""".stripMargin)
    val distinct = expressions(df).flatMap(_.collect {
      case ae: AggregateExpression if ae.isDistinct => ae })
    assert(distinct.nonEmpty && distinct.forall(_.filter.isEmpty) && folded(df).nonEmpty)
  }

  test("grouped-aggregate FILTER (no OVER) is native Spark and passes through") {
    val df = sameAs(
      s"SELECT s, sum(x) FILTER (WHERE p > 0) AS v FROM $t GROUP BY s ORDER BY s",
      s"SELECT s, sum(x) FILTER (WHERE p > 0) AS v FROM $t GROUP BY s ORDER BY s")
    assert(expressions(df).exists(_.exists {
      case ae: AggregateExpression => ae.filter.nonEmpty
      case _ => false
    }))
  }

  test("row-order and multi-argument aggregates are left for Spark's loud error") {
    for (q <- Seq(
      s"SELECT first_value(x) FILTER (WHERE p > 1) OVER (ORDER BY k) FROM $t",
      s"SELECT corr(x, p) FILTER (WHERE p > 1) OVER (ORDER BY k) FROM $t",
      s"SELECT sum(x, p) FILTER (WHERE p > 1) OVER (ORDER BY k) FROM $t")) {
      val e = intercept[Exception](conn.queryDF(q).collect())
      assert(e.getMessage != null, q)
    }
  }

  test("multiple sites in one query all fold; literals stay untouched") {
    val df = sameAs(
      s"""SELECT k, sum(x) FILTER (WHERE p > 1) OVER (ORDER BY k) AS a,
         |  avg(x) FILTER (WHERE s = 'F') OVER (ORDER BY k) AS b,
         |  ' FILTER (WHERE c) OVER ' AS lit FROM $t ORDER BY k""".stripMargin,
      s"""SELECT k, sum(CASE WHEN p > 1 THEN x END) OVER (ORDER BY k) AS a,
         |  avg(CASE WHEN s = 'F' THEN x END) OVER (ORDER BY k) AS b,
         |  ' FILTER (WHERE c) OVER ' AS lit FROM $t ORDER BY k""".stripMargin)
    assert(windowAggs(df).size === 2 && windowAggs(df).forall(_.filter.isEmpty))
    assert(folded(df).size === 2)
  }

  test("nested predicate parens and subqueries inside the predicate survive") {
    sameAs(
      s"""SELECT k, sum(x) FILTER (WHERE (p + 1) > length(concat(coalesce(b, ''), ')'))
         |  AND k IN (SELECT k FROM $t WHERE p < 3)) OVER (ORDER BY k) AS s
         |FROM $t ORDER BY k""".stripMargin,
      s"""SELECT k, sum(CASE WHEN (p + 1) > length(concat(coalesce(b, ''), ')'))
         |  AND k IN (SELECT k FROM $t WHERE p < 3) THEN x END) OVER (ORDER BY k) AS s
         |FROM $t ORDER BY k""".stripMargin)
  }
}
